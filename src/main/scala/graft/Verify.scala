package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [queryName ...] — with names given, only
  * those queries are re-dumped (fast local iteration with tools/check.py's
  * matching subset mode); oracle_sql.json is always rewritten in full.
  * Runs on [[GraftSession.local]] with `$SPARK_GRAFT_CPUS` cores (default:
  * all), the session Bench and the specs use. A query that throws is
  * reported as `[verify] <name> failed: <exception class>: <message>` and
  * the run goes on (exit code 0); oracle_sql.json's JSON strings are
  * escaped by [[BenchLogic.jsonString]], so a tab or CR in authored SQL
  * can't break the reader's json.load.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = GraftSession.local(GraftSession.envCores, "verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[verify] registry=${SparkEntry.registry.size} " +
      s"oracle-checked=${SparkEntry.oracleSql.size} " +
      s"rows-only=${SparkEntry.registry.count(_.oracle.isInstanceOf[SparkEntry.RowsOnly])}")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${BenchLogic.describe(e)}")
      }
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${BenchLogic.jsonString(k)}: ${BenchLogic.jsonString(v)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
