package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built through [[GraftSession.local]]
  * — the session path Bench, Verify and Probe run on (extensions injection,
  * AQE, RocksDB streaming state), not a test-only configuration. Four cores
  * keep unit runs fast; operators themselves are partition-count-agnostic.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.local(4, getClass.getSimpleName).getOrCreate()

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}

object SparkSuite {
  /** SQL `trim` twin for spec replays: strips ASCII SPACES only. Java
    * String.trim strips every char <= U+0020 (\n, \t, ...) and would
    * diverge from Spark/DuckDB trim on non-space edge whitespace.
    */
  def sqlTrim(s: String): String =
    s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
}
