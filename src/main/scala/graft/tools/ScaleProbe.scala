package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
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
      Probe.pass(spark, dir, op)
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

  /** Derive an N× lineitem by disjoint per-copy key offsets (idempotent).
    * Only lineitem: the deep-probe ops (pagerank, triangle_count) read
    * nothing else.
    */
  def buildLineitemCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit = {
    if (new java.io.File(s"$out/lineitem.parquet/_SUCCESS").exists()) return
    val copies = spark.range(0, n).select(col("id").cast("int").as("i"))
    val l = spark.read.parquet(s"$from/lineitem.parquet")
    val maxes = l.agg(
      max("l_orderkey").as("mo"), max("l_partkey").as("mp"),
      max("l_suppkey").as("ms")).head()
    val (mo, mp, ms) = (maxes.getLong(0), maxes.getLong(1), maxes.getLong(2))
    l.crossJoin(broadcast(copies))
      .withColumn("l_orderkey", col("l_orderkey") + col("i") * (mo + 1))
      .withColumn("l_partkey", col("l_partkey") + col("i") * (mp + 1))
      .withColumn("l_suppkey", col("l_suppkey") + col("i") * (ms + 1))
      .drop("i")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }

  /** Derive an N× documents + embeddings corpus for the second decade of
    * the text/vector ops (the r12 ndcg_eval deep probe) — same per-copy
    * remappings as [[buildSf1]]: token-suffixed documents keep shingle
    * universes disjoint across copies; rotated embeddings keep within-copy
    * cosines identical (strides collide past dim copies — fine for a
    * TIMING probe, ties break on vec_id).
    */
  def buildCorpusCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit = {
    val copies = spark.range(0, n).select(col("id").cast("int").as("i"))
    if (!new java.io.File(s"$out/documents.parquet/_SUCCESS").exists()) {
      val d = spark.read.parquet(s"$from/documents.parquet")
      val maxDoc = d.agg(max("doc_id")).head().getLong(0)
      d.crossJoin(broadcast(copies))
        .withColumn("doc_id", col("doc_id") + col("i") * (maxDoc + 1))
        .withColumn("text", array_join(
          transform(split(trim(col("text")), " "),
            t => concat(t, lit("_"), col("i"))), " "))
        .withColumn("source", concat(col("source"), lit("_"), col("i")))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    if (!new java.io.File(s"$out/embeddings.parquet/_SUCCESS").exists()) {
      val e = spark.read.parquet(s"$from/embeddings.parquet")
      val maxVec = e.agg(max("vec_id")).head().getLong(0)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      e.crossJoin(broadcast(copies))
        .withColumn("vec_id", col("vec_id") + col("i") * (maxVec + 1))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)),
            j => element_at(col("embedding"),
              pmod(j + col("i") * lit(13), lit(dim)) + 1)))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
  }

  /** Derive an N× events table for the second decade of the events-lane
    * ops (r15: hilbert_key) — the same per-copy remapping as
    * [[buildSf1]]'s events block: disjoint time epochs (+40 days per
    * copy) and disjoint user/event ids, so sessions and layout-key
    * domains scale honestly instead of multiplying concurrency.
    */
  def buildEventsCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit = {
    if (new java.io.File(s"$out/events.parquet/_SUCCESS").exists()) return
    val copies = spark.range(0, n).select(col("id").cast("int").as("i"))
    val ev = graft.model.Tables.events(spark, from)
    val maxes = ev.agg(max("user_id").as("mu"), max("event_id").as("me")).head()
    val (mu, me) = (maxes.getLong(0), maxes.getLong(1))
    ev.crossJoin(broadcast(copies))
      .withColumn("ts", col("ts") + expr("make_interval(0, 0, 0, 40, 0, 0, 0) * i"))
      .withColumn("user_id", col("user_id") + col("i") * (mu + 1))
      .withColumn("event_id", col("event_id") + col("i") * (me + 1))
      .drop("i")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** Derive the 10× corpus (idempotent: skips tables already written). */
  def buildSf1(spark: SparkSession, from: String, out: String): Unit = {
    val copies = spark.range(0, 10).select(col("id").cast("int").as("i"))
    def done(name: String) =
      new java.io.File(s"$out/$name.parquet/_SUCCESS").exists()

    if (!done("lineitem")) {
      val l = spark.read.parquet(s"$from/lineitem.parquet")
      val maxes = l.agg(
        max("l_orderkey").as("mo"), max("l_partkey").as("mp"),
        max("l_suppkey").as("ms")).head()
      val (mo, mp, ms) = (maxes.getLong(0), maxes.getLong(1), maxes.getLong(2))
      l.crossJoin(broadcast(copies))
        .withColumn("l_orderkey", col("l_orderkey") + col("i") * (mo + 1))
        .withColumn("l_partkey", col("l_partkey") + col("i") * (mp + 1))
        .withColumn("l_suppkey", col("l_suppkey") + col("i") * (ms + 1))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    if (!done("documents")) {
      val d = spark.read.parquet(s"$from/documents.parquet")
      val maxDoc = d.agg(max("doc_id")).head().getLong(0)
      d.crossJoin(broadcast(copies))
        .withColumn("doc_id", col("doc_id") + col("i") * (maxDoc + 1))
        .withColumn("text", array_join(
          transform(split(trim(col("text")), " "),
            t => concat(t, lit("_"), col("i"))), " "))
        .withColumn("source", concat(col("source"), lit("_"), col("i")))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    if (!done("embeddings")) {
      val e = spark.read.parquet(s"$from/embeddings.parquet")
      val maxVec = e.agg(max("vec_id")).head().getLong(0)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      e.crossJoin(broadcast(copies))
        .withColumn("vec_id", col("vec_id") + col("i") * (maxVec + 1))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)),
            j => element_at(col("embedding"),
              pmod(j + col("i") * lit(13), lit(dim)) + 1)))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    // per-copy TIME shift past the 30-day span (+40 days) and disjoint
    // user/event ids: sessions replicate as disjoint epochs, so
    // interval/sessionization outputs scale exactly 10× (verbatim
    // replication would multiply CONCURRENT users and square the
    // overlap-pair output — a workload change, not a scale-up). ONE
    // remapping definition for both decades (buildEventsCopies).
    buildEventsCopies(spark, from, out, 10)
    if (!done("orders")) {
      // offsets MUST match the lineitem/customer replication bases so FK
      // joins stay consistent across copies (fixture invariant: orders
      // and lineitem share the same max orderkey)
      val o = spark.read.parquet(s"$from/orders.parquet")
      val maxO = o.agg(max("o_orderkey")).head().getLong(0)
      val maxC = spark.read.parquet(s"$from/customer.parquet")
        .agg(max("c_custkey")).head().getLong(0)
      o.crossJoin(broadcast(copies))
        .withColumn("o_orderkey", col("o_orderkey") + col("i") * (maxO + 1))
        .withColumn("o_custkey", col("o_custkey") + col("i") * (maxC + 1))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
    }
    if (!done("customer")) {
      // disjoint custkeys, SAME nation/segment: each quasi-identifier
      // group grows 10× — the honest scale-up for governance censuses
      // (offsetting nationkey would multiply groups, not rows-per-group)
      val c = spark.read.parquet(s"$from/customer.parquet")
      val maxC = c.agg(max("c_custkey")).head().getLong(0)
      c.crossJoin(broadcast(copies))
        .withColumn("c_custkey", col("c_custkey") + col("i") * (maxC + 1))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
    }
    // part/supplier must replicate with the SAME key offsets lineitem
    // used, or every part/supplier join degenerates to copy 0 and a
    // "10x" probe of a part-joining op measures a corpus that did NOT
    // scale (the r11 link_prediction sf1x rows had this flaw — a plain
    // read-through copy; rows re-measured r13). Brands/nations stay
    // unchanged, so blocking keys keep their real cardinality and blocks
    // grow with the catalog — the honest scale-up.
    buildDimCopies(spark, from, out, 10)
    // truly global dims (25 nations / 5 regions) stay read-through
    Seq("nation", "region").foreach { t =>
      if (new java.io.File(s"$from/$t.parquet").exists() && !done(t))
        spark.read.parquet(s"$from/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  /** Replicate part/supplier with key offsets matching lineitem's (base =
    * lineitem's own max key — the offset buildLineitemCopies/buildSf1
    * apply to l_partkey/l_suppkey), idempotent.
    */
  def buildDimCopies(
      spark: SparkSession, from: String, out: String, n: Int): Unit = {
    val copies = spark.range(0, n).select(col("id").cast("int").as("i"))
    def done(name: String) =
      new java.io.File(s"$out/$name.parquet/_SUCCESS").exists()
    val l = spark.read.parquet(s"$from/lineitem.parquet")
    lazy val maxes = l.agg(
      max("l_partkey").as("mp"), max("l_suppkey").as("ms")).head()
    if (!done("part")) {
      spark.read.parquet(s"$from/part.parquet")
        .crossJoin(broadcast(copies))
        .withColumn("p_partkey", col("p_partkey") + col("i") * (maxes.getLong(0) + 1))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/part.parquet")
    }
    if (!done("supplier")) {
      spark.read.parquet(s"$from/supplier.parquet")
        .crossJoin(broadcast(copies))
        .withColumn("s_suppkey", col("s_suppkey") + col("i") * (maxes.getLong(1) + 1))
        .drop("i")
        .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    }
  }
}
