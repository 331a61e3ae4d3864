package graft

import java.nio.file.Files

/** Bench's sweep end to end on the shared suite session at sf0.001: two
  * registered queries and one unknown name, two timed passes each.
  */
class BenchSweepSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("ohlcv_1min", "count_rows", "no_such_query")

  test("sweep times each query, records a failing one's cause and prints one bounded JSON line") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bench_sweep")
    val details = dir.resolve("details.json")
    val line = Bench.sweep(spark, sf, 2, names, dir.resolve("no_prior.json").toString,
      details.toString)

    assert(line.length < 2000, line)
    assert(!line.contains("total_excl_flagged"), line)
    val parsed = spark.read.json(Seq(line).toDS())
    assert(!parsed.columns.contains("_corrupt_record"), line)
    Seq("n_queries", "value", "total_min", "total_remeasured", "noisy_run", "canonical")
      .foreach(k => assert(parsed.columns.contains(k), s"$k missing: $line"))
    assert(parsed.select("n_queries").head().getLong(0) == 3L, line)
    assert(line.contains("\"failed_passes\":{\"no_such_query\":2}"), line)

    val json = Files.readString(details)
    assert(json.startsWith("{\"_meta\":{"), json)
    val med = BenchLogic.parsePriorMedians(json)
    assert(med.keySet == names.toSet, json)
    assert(med("ohlcv_1min") >= 0 && med("count_rows") >= 0, json)
    assert(med("no_such_query") == -1.0, json)
    assert(json.contains("\"no_such_query\":{\"median\":-1.0,\"min\":-1.0,\"max\":-1.0," +
      "\"samples\":[-1.0,-1.0],\"codegen_compiles\":0,\"codegen_compile_ms\":0.0," +
      "\"error\":\"java.lang.IllegalArgumentException: unknown query no_such_query\"}"), json)
  }
}
