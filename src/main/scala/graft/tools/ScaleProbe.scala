package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling-exponent probe for the super-linear operator band
  * (builder-side tooling; results recorded in BASELINE.md).
  *
  * No sf1 fixture exists (and /root/testdata is read-only), so the probe
  * DERIVES a 10× corpus from sf0.1 into a scratch dir, replicating each
  * table with per-copy remappings chosen so the interesting structure
  * scales honestly instead of degenerating:
  *
  *  - lineitem: order/part/supp keys offset per copy → the co-purchase /
  *    part↔supplier graphs become 10 disjoint copies of the sf0.1 graph
  *    (community structure scales; no artificial mega-hub).
  *  - documents: every token suffixed with the copy index → shingle
  *    universes are DISJOINT across copies, so LSH buckets stay
  *    within-copy and near-dup structure is exactly 10× the original
  *    (verbatim replication would make every doc a 10-way near-dup and
  *    square the candidate pair count — a worst case, not a scale-up).
  *  - embeddings: coordinates ROTATED by a per-copy stride → within-copy
  *    pairwise cosines are IDENTICAL (dot products are permutation-
  *    invariant) while cross-copy cosines fall to background noise.
  *
  * For each probed op: warm + timed noop-sink pass at sf0.01, sf0.1 and
  * the derived sf1; prints per-sf seconds and the empirical exponent
  * log10(t_sf1 / t_sf0.1) — 1.0 = linear, ~2.0 = quadratic.
  *
  * A second decade exists for the highest-exponent graph ops: `--deep`
  * derives a 100× lineitem (100 disjoint key-offset copies of sf0.1 —
  * the part↔supplier and co-purchase graphs become 100 disjoint sf0.1
  * communities) and probes sf0.1 → sf1x → sf10x, reporting the exponent
  * across EACH decade — a super-linear term that hides in per-round
  * fixed costs at 10× shows up at 100×.
  *
  * Runs on `GraftSession.local` with cores from `$SPARK_GRAFT_CPUS`.
  * Usage: `runMain graft.tools.ScaleProbe <scratchDir> [--deep] [op ...]`
  * (default ops: the round-7 super-linear band; --deep defaults to the
  * two highest-exponent ops, pagerank and triangle_count).
  */
object ScaleProbe {
  private val DefaultOps =
    Seq("pagerank", "kcore_nodes", "dedup_clusters_lsh", "semdedup",
      "triangle_count", "community_labels")
  private val DeepOps = Seq("pagerank", "triangle_count", "kcore_nodes")

  def main(args: Array[String]): Unit = {
    val scratch = args(0)
    val deep = args.contains("--deep")
    val rest = args.drop(1).filterNot(_ == "--deep").toSeq
    val ops = if (rest.nonEmpty) rest else if (deep) DeepOps else DefaultOps
    val spark = graft.GraftSession.local(graft.GraftSession.envCores, "scaleprobe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf1 = s"$scratch/sf1x"
    buildSf1(spark, "/root/testdata/sf0.1", sf1)
    val sf10 = s"$scratch/sf10x"
    if (deep) {
      buildLineitemCopies(spark, "/root/testdata/sf0.1", sf10, 100)
      buildCorpusCopies(spark, "/root/testdata/sf0.1", sf10, 100)
      buildDimCopies(spark, "/root/testdata/sf0.1", sf10, 100)
      buildEventsCopies(spark, "/root/testdata/sf0.1", sf10, 100)
    }

    def time(op: String, dir: String): Double = {
      Probe.pass(spark, dir, op) // warm
      Probe.pass(spark, dir, op)._1
    }
    if (deep) {
      println(f"${"op"}%-20s ${"sf0.1"}%8s ${"sf1x"}%8s ${"sf10x"}%9s  exp(0.1->1) exp(1->10)")
      ops.foreach { op =>
        val t01 = time(op, "/root/testdata/sf0.1")
        val t1 = time(op, sf1)
        val t10 = time(op, sf10)
        println(f"$op%-20s $t01%8.2f $t1%8.2f $t10%9.2f  ${math.log10(t1 / t01)}%.2f        ${math.log10(t10 / t1)}%.2f")
      }
    } else {
      println(f"${"op"}%-20s ${"sf0.01"}%8s ${"sf0.1"}%8s ${"sf1x"}%8s  exp(0.1->1)")
      ops.foreach { op =>
        val t001 = time(op, "/root/testdata/sf0.01")
        val t01 = time(op, "/root/testdata/sf0.1")
        val t1 = time(op, sf1)
        val exp = math.log10(t1 / t01)
        println(f"$op%-20s $t001%8.2f $t01%8.2f $t1%8.2f  $exp%.2f")
      }
    }
    spark.stop()
  }

  /** Writes `n` copies of `src` to `<out>/<table>.parquet`: one cross join
    * with `spark.range(n)` as `i`, copy `i`'s columns replaced by
    * `remap(source, i)`. Idempotent: a table whose `_SUCCESS` exists is
    * skipped, so `src` and `remap` (and the max-key scans they make) run
    * only for a table not yet written.
    */
  private def replicate(spark: SparkSession, out: String, table: String, n: Int,
      src: => DataFrame)(remap: (DataFrame, Column) => Seq[(String, Column)]): Unit =
    if (!new java.io.File(s"$out/$table.parquet/_SUCCESS").exists()) {
      val df = src
      df.crossJoin(broadcast(spark.range(0, n).select(col("id").cast("int").as("i"))))
        .withColumns(remap(df, col("i")).toMap)
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }

  private def parquet(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** The maxima of long columns `cs` of `df`, in one scan. */
  private def maxes(df: DataFrame, cs: String*): Seq[Long] = {
    val r = df.agg(max(cs.head), cs.tail.map(c => max(c)): _*).head()
    cs.indices.map(r.getLong)
  }

  /** Copy `i`'s `key`: offset by `i`·(`base` + 1), disjoint per copy. */
  private def offset(key: String, i: Column, base: Long): (String, Column) =
    key -> (col(key) + i * (base + 1))

  /** Derive an N× lineitem by disjoint per-copy key offsets (idempotent).
    * Only lineitem: the deep-probe ops (pagerank, triangle_count) read
    * nothing else.
    */
  def buildLineitemCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit =
    replicate(spark, out, "lineitem", n, parquet(spark, from, "lineitem")) { (l, i) =>
      val Seq(mo, mp, ms) = maxes(l, "l_orderkey", "l_partkey", "l_suppkey")
      Seq(offset("l_orderkey", i, mo), offset("l_partkey", i, mp),
        offset("l_suppkey", i, ms))
    }

  /** Derive an N× documents + embeddings corpus (the sf1x corpus at n = 10;
    * the r12 ndcg_eval deep probe at 100): token-suffixed documents keep
    * shingle universes disjoint across copies; rotated embeddings keep
    * within-copy cosines identical (strides collide past dim copies — fine
    * for a TIMING probe, ties break on vec_id).
    */
  def buildCorpusCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit = {
    replicate(spark, out, "documents", n, parquet(spark, from, "documents")) { (d, i) =>
      Seq(offset("doc_id", i, maxes(d, "doc_id").head),
        "text" -> array_join(
          transform(split(trim(col("text")), " "), t => concat(t, lit("_"), i)), " "),
        "source" -> concat(col("source"), lit("_"), i))
    }
    replicate(spark, out, "embeddings", n, parquet(spark, from, "embeddings")) { (e, i) =>
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      Seq(offset("vec_id", i, maxes(e, "vec_id").head),
        "embedding" -> transform(sequence(lit(0), lit(dim - 1)),
          j => element_at(col("embedding"), pmod(j + i * lit(13), lit(dim)) + 1)))
    }
  }

  /** Derive an N× events table (the sf1x events at n = 10; r15's
    * hilbert_key deep probe at 100): per-copy TIME shift past the 30-day
    * span (+40 days) and disjoint user/event ids, so sessions replicate as
    * disjoint epochs and interval/sessionization outputs scale exactly N×
    * (verbatim replication would multiply CONCURRENT users and square the
    * overlap-pair output — a workload change, not a scale-up).
    */
  def buildEventsCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit =
    replicate(spark, out, "events", n, graft.model.Tables.events(spark, from)) { (ev, i) =>
      val Seq(mu, me) = maxes(ev, "user_id", "event_id")
      Seq("ts" -> (col("ts") + expr("make_interval(0, 0, 0, 40, 0, 0, 0) * i")),
        offset("user_id", i, mu), offset("event_id", i, me))
    }

  /** Derive the 10× corpus (idempotent: skips tables already written). */
  def buildSf1(spark: SparkSession, from: String, out: String): Unit = {
    buildLineitemCopies(spark, from, out, 10)
    buildCorpusCopies(spark, from, out, 10)
    buildEventsCopies(spark, from, out, 10)
    // offsets MUST match the lineitem/customer replication bases so FK
    // joins stay consistent across copies (fixture invariant: orders and
    // lineitem share the same max orderkey)
    replicate(spark, out, "orders", 10, parquet(spark, from, "orders")) { (o, i) =>
      Seq(offset("o_orderkey", i, maxes(o, "o_orderkey").head),
        offset("o_custkey", i, maxes(parquet(spark, from, "customer"), "c_custkey").head))
    }
    // disjoint custkeys, SAME nation/segment: each quasi-identifier group
    // grows 10× — the honest scale-up for governance censuses (offsetting
    // nationkey would multiply groups, not rows-per-group)
    replicate(spark, out, "customer", 10, parquet(spark, from, "customer")) { (c, i) =>
      Seq(offset("c_custkey", i, maxes(c, "c_custkey").head))
    }
    // part/supplier must replicate with the SAME key offsets lineitem
    // used, or every part/supplier join degenerates to copy 0 and a
    // "10x" probe of a part-joining op measures a corpus that did NOT
    // scale (the r11 link_prediction sf1x rows had this flaw — a plain
    // read-through copy; rows re-measured r13). Brands/nations stay
    // unchanged, so blocking keys keep their real cardinality and blocks
    // grow with the catalog — the honest scale-up.
    buildDimCopies(spark, from, out, 10)
    // truly global dims (25 nations / 5 regions) stay read-through: one copy
    Seq("nation", "region").foreach { t =>
      if (new java.io.File(s"$from/$t.parquet").exists())
        replicate(spark, out, t, 1, parquet(spark, from, t))((_, _) => Nil)
    }
  }

  /** Replicate part/supplier with key offsets matching lineitem's (base =
    * lineitem's own max key — the offset buildLineitemCopies applies to
    * l_partkey/l_suppkey), idempotent.
    */
  def buildDimCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit = {
    val l = parquet(spark, from, "lineitem")
    replicate(spark, out, "part", n, parquet(spark, from, "part")) { (_, i) =>
      Seq(offset("p_partkey", i, maxes(l, "l_partkey").head))
    }
    replicate(spark, out, "supplier", n, parquet(spark, from, "supplier")) { (_, i) =>
      Seq(offset("s_suppkey", i, maxes(l, "l_suppkey").head))
    }
  }
}
