package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
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

  test("Tables.table reads a table rewritten in the same session") {
    val dir = copyOf("embeddings")
    val source = spark.read.parquet(Tables.path(sf, "embeddings"))
    assert(Tables.table(spark, dir, "embeddings").count() == source.count())
    source.orderBy("vec_id").limit(50)
      .write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
    assert(Tables.table(spark, dir, "embeddings").count() == 50)
  }

  test("ann_ivf and ann_ivfpq_indexed on a rewritten corpus equal a never-read copy") {
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

  test("Tables.scala is the only main file that constructs a concurrent or weak map") {
    // one build-once cache: a second memo in src/main would be a second
    // place where a rewritten source goes stale or a session is pinned
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val construct =
      """new\s+[\w.]*(ConcurrentHashMap|WeakHashMap|TrieMap)\b|\bTrieMap\s*[.\[(]""".r
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(Paths.get("model", "Tables.scala"))))
    val offenders = files.filter { f =>
      !f.endsWith(Paths.get("model", "Tables.scala")) &&
        construct.findFirstIn(Files.readString(f)).isDefined
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
