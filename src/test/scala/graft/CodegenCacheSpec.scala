package graft

import graft.tools.Probe

/** Warm passes reuse Spark's generated classes: the codegen cache holds the
  * whole candle list, and a new session shares the task-side classes of the
  * sessions before it. A compile is counted by Spark's own codegen metrics.
  */
class CodegenCacheSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  /** The candle queries the perfbench batch workload repeats. */
  private val candles = Seq("ohlcv_1min", "open_close", "vwap", "count_rows",
    "freshness_check", "json_parse", "decimal_cast", "epoch_to_ts", "derived_mul",
    "sliding_ohlcv", "session_window", "twap", "candle_patterns", "rsi_14",
    "bollinger_bands")

  /** Queries whose warm passes recompiled while class names carried the
    * codegen stage id, which AQE assigns in stage-completion order.
    */
  private val reordered = Seq("l_diversity", "lsh_tuning_curve",
    "dedup_clusters_lsh", "cohort_ltv", "hybrid_rrf", "t_closeness")

  /** Those of [[reordered]] that still compile on some warm pass. This
    * list may only shrink. dedup_clusters_lsh compiled 0, 4 and 10 classes
    * over three warm passes in three runs of this spec, with stage ids
    * already out of the class names; why is not established (its
    * connected-components rounds run eager checkpoint jobs while the
    * query is built).
    */
  private val stillCompiling = Set("dedup_clusters_lsh")

  test("defaults size the codegen cache and share one task class loader") {
    assert(GraftSession.defaults("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(GraftSession.defaults("spark.sql.artifact.isolation.enabled") == "false")
    assert(GraftSession.defaults("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("warm passes of queries with reordered codegen stages compile no class") {
    val compiled = reordered.map { q =>
      Probe.pass(spark, sf, q)
      q -> (1 to 3).map(_ => Probe.pass(spark, sf, q)._2.count).sum
    }.toMap
    val recompiling = compiled.filter(_._2 > 0).keySet
    assert(recompiling.subsetOf(stillCompiling),
      s"warm-pass compiles outside the allow-list: $compiled")
  }

  test("a warm round-robin pass over the candle queries compiles no class") {
    candles.foreach(Probe.pass(spark, sf, _))
    val measured = candles.map(Probe.pass(spark, sf, _)._2).reduce(_ + _)
    assert(measured.count == 0, s"${measured.count} classes compiled on the warm pass")
  }

  test("a new session reuses the classes another session compiled") {
    val q = "sliding_ohlcv"
    Probe.pass(spark, sf, q)
    val fresh = spark.newSession()
    val (_, c) = Probe.pass(fresh, sf, q)
    assert(c.count == 0, s"${c.count} classes compiled in the new session")
  }
}
