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

  test("defaults size the codegen cache and share one task class loader") {
    assert(GraftSession.defaults("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(GraftSession.defaults("spark.sql.artifact.isolation.enabled") == "false")
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
