package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

import graft.model.Tables

/** The build-once cache in [[Tables.memo]]: a source rewritten within one
  * session is read and re-indexed as rewritten, dropped sessions are
  * released past the session cap, and no other main file keeps a memo of
  * its own. Rewrites happen on temp copies of sf0.001 tables.
  */
class TablesMemoSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def copyOf(tables: String*): String = {
    val dir = Files.createTempDirectory("memo_sf")
    tables.foreach(t => Files.copy(Paths.get(Tables.path(sf, t)), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  private def rows(query: String, dir: String): Seq[String] =
    SparkEntry.queries(query)(spark, dir).collect().map(_.toString).sorted.toSeq

  private def tableNames: Set[String] =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSet

  private def location(table: String): java.nio.file.Path = Paths.get(
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)

  /** Runs `body`, then drops every catalog table it stored over its temp
    * dirs, with their warehouse locations and `<table>_*` siblings.
    */
  private def droppingNewTables[A](body: => A): A = {
    val before = tableNames
    try body
    finally (tableNames -- before).foreach { t =>
      val loc = location(t)
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      Files.list(loc.getParent).iterator.asScala
        .filter(_.getFileName.toString.startsWith(t + "_")).toSeq
        .foreach(p => Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete))
    }
  }

  test("Tables.table reads a table rewritten in the same session") {
    val dir = copyOf("embeddings")
    val source = spark.read.parquet(Tables.path(sf, "embeddings"))
    assert(Tables.table(spark, dir, "embeddings").count() == source.count())
    source.orderBy("vec_id").limit(50)
      .write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
    assert(Tables.table(spark, dir, "embeddings").count() == 50)
  }

  test("ann_ivf and ann_ivfpq_indexed on a rewritten corpus equal a never-read copy") {
    droppingNewTables {
      val rewritten = copyOf("embeddings")
      // builds the reader, the IVF centroids, the PQ codebooks and the stored
      // index from the original corpus
      rows("ann_ivf", rewritten)
      rows("ann_ivfpq_indexed", rewritten)
      // a different corpus: every fifth vector dropped, the ten queries kept
      val subset = spark.read.parquet(Tables.path(sf, "embeddings"))
        .filter(col("vec_id") < 10 || col("vec_id") % 5 =!= 4)
      subset.write.mode("overwrite").parquet(Tables.path(rewritten, "embeddings"))
      val fresh = Files.createTempDirectory("memo_fresh").toString
      subset.write.parquet(Tables.path(fresh, "embeddings"))
      Seq("ann_ivf", "ann_ivfpq_indexed").foreach { q =>
        val got = rows(q, rewritten)
        assert(got.nonEmpty, q)
        assert(got == rows(q, fresh), q)
      }
    }
  }

  test("ensure drops the stored table a rewritten source supersedes") {
    droppingNewTables {
      val dir = copyOf("events")
      def evoTables = tableNames.filter(_.startsWith("graft_events_evo_"))
      val before = evoTables
      val original = rows("schema_evolution_scan", dir)
      val Seq(old) = (evoTables -- before).toSeq
      val oldLocs = Seq(location(old), Paths.get(location(old).toString + "_g2"))
      oldLocs.foreach(l => assert(Files.isDirectory(l), l))
      spark.read.parquet(Tables.path(sf, "events")).filter(col("event_id") % 3 =!= 0)
        .write.mode("overwrite").parquet(Tables.path(dir, "events"))
      assert(rows("schema_evolution_scan", dir) != original)
      val now = evoTables -- before
      assert(now.size == 1 && !now.contains(old), s"$old superseded, stored: $now")
      oldLocs.foreach(l => assert(!Files.exists(l), s"$l left behind"))
    }
  }

  test("dropped sessions that read through Tables.table are released past the cap") {
    def readAndDrop(): WeakReference[SparkSession] = {
      val s = spark.newSession()
      Tables.table(s, sf, "region")
      new WeakReference(s)
    }
    val refs = Seq.fill(20)(readAndDrop())
    def live: Int = refs.count(_.get != null)
    var rounds = 0
    while (live > Tables.MaxSessions && rounds < 10) {
      System.gc()
      Thread.sleep(100)
      rounds += 1
    }
    assert(live <= Tables.MaxSessions, s"$live of 20 dropped sessions still reachable")
  }

  /** src/main files other than model/Tables.scala whose text matches `re`. */
  private def offendersBesideTables(re: scala.util.matching.Regex): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val tables = Paths.get("model", "Tables.scala")
    assert(files.exists(_.endsWith(tables)))
    files.filter(f => !f.endsWith(tables) && re.findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString)
  }

  test("Tables.scala is the only main file that constructs a concurrent or weak map") {
    // one build-once cache: a second memo in src/main would be a second
    // place where a rewritten source goes stale or a session is pinned
    val offenders = offendersBesideTables(
      """new\s+[\w.]*(ConcurrentHashMap|WeakHashMap|TrieMap)\b|\bTrieMap\s*[.\[(]""".r)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("Tables.scala is the only main file that creates a temp view") {
    // Tables.sql drops the views it binds once the text is analyzed; a
    // temp view created anywhere else outlives its query in the session
    val offenders = offendersBesideTables("""createOrReplaceTempView""".r)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
