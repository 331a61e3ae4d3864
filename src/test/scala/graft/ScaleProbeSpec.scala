package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.Tables
import graft.tools.ScaleProbe

/** ScaleProbe's derived 10× corpus, built from sf0.001 into a temp dir:
  * exact row multiples, disjoint per-copy keys, consistent foreign keys,
  * and an idempotent rebuild.
  */
class ScaleProbeSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val out: String = {
    val dir = Files.createTempDirectory("sf1x").toString
    ScaleProbe.buildSf1(spark, sf, dir)
    dir
  }

  /** Replicated table -> the key columns its copies offset. */
  private val keys = Seq(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("user_id", "event_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"))

  private def read(dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir) else spark.read.parquet(s"$dir/$t.parquet")

  test("each replicated table holds exactly 10 copies; nation and region are copied unchanged") {
    keys.foreach { case (t, _) =>
      assert(read(out, t).count() == 10 * read(sf, t).count(), t)
    }
    Seq("nation", "region").foreach { t =>
      val (a, b) = (read(sf, t), read(out, t))
      assert(a.count() > 0 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
  }

  test("the copies' offset keys are disjoint") {
    // each copy's keys are the source's shifted, so the copies are pairwise
    // disjoint exactly when the union has 10× the source's distinct keys
    for ((t, cols) <- keys; c <- cols) {
      def distinct(dir: String) = read(dir, t).select(c).distinct().count()
      assert(distinct(out) == 10 * distinct(sf), s"$t.$c")
    }
  }

  test("foreign keys stay consistent between orders, lineitem, customer, part and supplier") {
    val joins = Seq(
      ("lineitem", "orders", "l_orderkey", "o_orderkey"),
      ("orders", "customer", "o_custkey", "c_custkey"),
      ("lineitem", "part", "l_partkey", "p_partkey"),
      ("lineitem", "supplier", "l_suppkey", "s_suppkey"))
    joins.foreach { case (child, parent, fk, pk) =>
      def matched(dir: String) =
        read(dir, child).join(read(dir, parent), col(fk) === col(pk)).count()
      val base = matched(sf)
      assert(base > 0, s"$child.$fk -> $parent.$pk matches nothing at $sf")
      // a cross-copy match would add rows, a broken offset would drop them
      assert(matched(out) == 10 * base, s"$child.$fk -> $parent.$pk")
    }
  }

  test("a second build rewrites nothing") {
    val tables = keys.map(_._1) ++ Seq("nation", "region")
    def stamps = tables.map(t =>
      t -> Files.getLastModifiedTime(Paths.get(out, s"$t.parquet", "_SUCCESS")).toMillis)
    val before = stamps
    ScaleProbe.buildSf1(spark, sf, out)
    assert(stamps == before)
  }
}
