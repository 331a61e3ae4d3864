package graft

import graft.BenchLogic.Compiles

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

  private def noop(s: org.apache.spark.sql.SparkSession, q: String): Unit =
    SparkEntry.queries(q)(s, sf).write.format("noop").mode("overwrite").save()

  test("defaults size the codegen cache and share one task class loader") {
    assert(GraftSession.defaults("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(GraftSession.defaults("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a warm round-robin pass over the candle queries compiles no class") {
    candles.foreach(noop(spark, _))
    val (_, measured) = Compiles.during(candles.foreach(noop(spark, _)))
    assert(measured.count == 0, s"${measured.count} classes compiled on the warm pass")
  }

  test("a new session reuses the classes another session compiled") {
    val q = "sliding_ohlcv"
    noop(spark, q)
    val fresh = spark.newSession()
    val (_, c) = Compiles.during(noop(fresh, q))
    assert(c.count == 0, s"${c.count} classes compiled in the new session")
  }
}
