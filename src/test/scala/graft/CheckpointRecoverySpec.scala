package graft

import java.nio.file.{Files, Paths, Path => NioPath}
import java.sql.{DriverManager, Timestamp}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{JdbcUpsertSink, LocalCheckpointFileManager, OhlcvStream}

/** W5 (SURVEY §2.4): checkpoint/recovery semantics. A restarted query with
  * the same checkpoint resumes from committed offsets (no reprocessing of
  * finished batches), and the idempotent upsert sink converges even when a
  * batch IS replayed after an uncommitted stop. Checkpoints written before
  * the java.nio checkpoint manager and RocksDB changelog commits became
  * defaults resume under them, and a restart past RocksDB's snapshot
  * interval (snapshot plus changelog replay) loses no state.
  */
class CheckpointRecoverySpec extends SparkSuite {

  private val T0 = 1705276800000L

  private def jsonTrade(id: Long, sym: String, price: String, qty: String,
                        epochMs: Long): String =
    s"""{"trade_id":$id,"symbol":"$sym","price":"$price","quantity":"$qty","trade_time":$epochMs,"is_buyer_maker":false}"""

  test("restart from checkpoint resumes at committed offset; sink state survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:graftRecovery;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      """CREATE TABLE ohlcv_rec (
        |  "window_start" TIMESTAMP NOT NULL,
        |  "symbol" VARCHAR(16) NOT NULL,
        |  "total_volume" DOUBLE,
        |  PRIMARY KEY ("symbol", "window_start"))""".stripMargin)
    conn.close()
    val ckpt = java.nio.file.Files.createTempDirectory("rec_ckpt").toString
    val input = MemoryStream[String]
    val sink = JdbcUpsertSink.upsert(url, "ohlcv_rec", Seq("window_start", "symbol"))
    val seen = mutable.Buffer[Set[Long]]() // trade volumes per processed batch

    def mkQuery() = OhlcvStream.ohlcv(
      OhlcvStream.parseTrades(input.toDF().select(col("value").as("json"))))
      .select(col("window_start"), col("symbol"),
        col("total_volume").cast("double"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        seen += df.collect().map(_.getAs[Double]("total_volume").toLong).toSet
        sink(df, epochId)
      }
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", ckpt)
      .start()

    // phase 1: process one batch, stop cleanly
    val q1 = mkQuery()
    try {
      input.addData(Seq(jsonTrade(1, "BTCUSDT", "100.0", "2", T0 + 1000)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.exists(_.contains(2L)))

    // phase 2: more data arrives while down; restart with the same checkpoint
    input.addData(Seq(jsonTrade(2, "BTCUSDT", "100.0", "5", T0 + 2000)))
    seen.clear()
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
    } finally q2.stop()
    // resumed query must process ONLY the new data (batch 1 already
    // committed), refining the window to volume 7
    assert(seen.flatten.toSet.contains(7L), s"batches after restart: $seen")
    assert(!seen.flatten.toSet.contains(2L),
      s"batch 1 must not be reprocessed after clean stop: $seen")

    val rows = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "ohlcv_rec").load()
      .collect().map(r => (r.getAs[String]("symbol"),
        r.getAs[Timestamp]("window_start").getTime,
        r.getAs[Double]("total_volume"))).toSet
    assert(rows == Set(("BTCUSDT", T0, 7.0)), s"sink: $rows")
  }

  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** RocksDB state files of operator 0 across its partitions. */
  private def stateFiles(ckpt: String): Seq[String] = {
    val root = Paths.get(ckpt, "state", "0")
    Files.list(root).iterator.asScala.toSeq.filter(Files.isDirectory(_))
      .flatMap(p => Files.list(p).iterator.asScala.map(_.getFileName.toString))
  }

  private def names(dir: NioPath): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq

  private def sinkTable(url: String, table: String): Set[(String, Long, Double)] =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
      .collect().map(r => (r.getAs[String]("symbol"),
        r.getAs[Timestamp]("window_start").getTime,
        r.getAs[Double]("total_volume"))).toSet

  test("a checkpoint from the stock manager without changelogs resumes under the defaults") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:graftSeedRestart;create=true"
    val conn = DriverManager.getConnection(url)
    Seq("ohlcv_restarted", "ohlcv_straight").foreach { t =>
      conn.createStatement().executeUpdate(
        s"""CREATE TABLE $t (
           |  "window_start" TIMESTAMP NOT NULL,
           |  "symbol" VARCHAR(16) NOT NULL,
           |  "total_volume" DOUBLE,
           |  PRIMARY KEY ("symbol", "window_start"))""".stripMargin)
    }
    conn.close()
    val batches = Seq(
      Seq(jsonTrade(1, "BTCUSDT", "100.0", "2", T0 + 1000),
        jsonTrade(2, "ETHUSDT", "10.0", "4", T0 + 61000)),
      Seq(jsonTrade(3, "BTCUSDT", "101.0", "5", T0 + 2000),
        jsonTrade(4, "ETHUSDT", "11.0", "1", T0 + 62000)))

    def run(input: MemoryStream[String], ckpt: String, table: String,
            seen: mutable.Buffer[Set[Long]]) =
      OhlcvStream.ohlcv(
        OhlcvStream.parseTrades(input.toDF().select(col("value").as("json"))))
        .select(col("window_start"), col("symbol"), col("total_volume").cast("double"))
        .writeStream
        .outputMode("update")
        .foreachBatch { (df: DataFrame, epochId: Long) =>
          seen += df.collect().map(_.getAs[Double]("total_volume").toLong).toSet
          JdbcUpsertSink.upsert(url, table, Seq("window_start", "symbol"))(df, epochId)
        }
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", ckpt)
        .start()

    // uninterrupted reference under the defaults
    val straightIn = MemoryStream[String]
    val straight = run(straightIn, Files.createTempDirectory("seed_straight").toString,
      "ohlcv_straight", mutable.Buffer())
    try batches.foreach { b => straightIn.addData(b); straight.processAllAvailable() }
    finally straight.stop()

    // phase 1 under the seed settings: Spark's own manager, snapshot commits
    val ckpt = Files.createTempDirectory("seed_ckpt").toString
    val input = MemoryStream[String]
    val seen = mutable.Buffer[Set[Long]]()
    spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    spark.conf.set(ChangelogKey, "false")
    try {
      val q1 = run(input, ckpt, "ohlcv_restarted", seen)
      try { input.addData(batches.head); q1.processAllAvailable() } finally q1.stop()
    } finally Seq(LocalCheckpointFileManager.ConfKey, ChangelogKey).foreach { k =>
      spark.conf.set(k, GraftSession.defaults(k))
    }
    val offsets = Paths.get(ckpt, "offsets")
    assert(names(offsets).exists(f => f.startsWith(".") && f.endsWith(".crc")),
      s"phase 1 ran on Hadoop's local filesystem: ${names(offsets)}")
    assert(stateFiles(ckpt).exists(_.endsWith(".zip")) &&
      !stateFiles(ckpt).exists(_.endsWith(".changelog")), stateFiles(ckpt))
    assert(seen.flatten.toSet == Set(2L, 4L))

    // phase 2 under the defaults, from the same checkpoint
    seen.clear()
    input.addData(batches(1))
    val q2 = run(input, ckpt, "ohlcv_restarted", seen)
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.flatten.toSet == Set(7L, 5L),
      s"resumed at the committed offset with the window state restored: $seen")
    assert(stateFiles(ckpt).exists(_.endsWith(".changelog")), stateFiles(ckpt))
    val landed = sinkTable(url, "ohlcv_restarted")
    assert(landed == sinkTable(url, "ohlcv_straight"))
    assert(landed == Set(("BTCUSDT", T0, 7.0), ("ETHUSDT", T0 + 60000, 5.0)))
  }

  test("a restart past RocksDB's snapshot interval emits what an uninterrupted run emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 16 batches, 15 s of event time apart: BTC/ETH open a new 1-minute
    // window every 4 batches (the one opened by batch 12 spans the
    // restart) and the 2-minute watermark evicts old ones; a SOL straggler
    // in the first window refines its state each batch until the
    // watermark passes it, then is dropped as late
    val batches = (1 to 16).map { i =>
      Seq(jsonTrade(3L * i, "BTCUSDT", s"${100 + i}.0", s"$i", T0 + i * 15000L),
        jsonTrade(3L * i + 1, "ETHUSDT", s"${10 + i}.0", s"${2 * i}", T0 + i * 15000L + 1),
        jsonTrade(3L * i + 2, "SOLUSDT", "20.0", "1", T0 + 1000 + i))
    }
    def run(input: MemoryStream[String], ckpt: String, out: mutable.Buffer[Row]) =
      OhlcvStream.start(
        OhlcvStream.ohlcv(
          OhlcvStream.parseTrades(input.toDF().select(col("value").as("json")))),
        (df, _) => { out ++= df.collect(); () }, ckpt, Trigger.ProcessingTime(0))

    def key(r: Row) = r.mkString("|")
    val straight = mutable.Buffer[Row]()
    val straightIn = MemoryStream[String]
    val q = run(straightIn, Files.createTempDirectory("snap_straight").toString, straight)
    try batches.foreach { b => straightIn.addData(b); q.processAllAvailable() }
    finally q.stop()

    val ckpt = Files.createTempDirectory("snap_ckpt").toString
    val restarted = mutable.Buffer[Row]()
    val input = MemoryStream[String]
    val q1 = run(input, ckpt, restarted)
    try batches.take(12).foreach { b => input.addData(b); q1.processAllAvailable() }
    finally q1.stop()
    assert(q1.lastProgress.batchId >= 11, "the restart comes after >= 12 micro-batches")
    val q2 = run(input, ckpt, restarted)
    try batches.drop(12).foreach { b => input.addData(b); q2.processAllAvailable() }
    finally q2.stop()

    assert(stateFiles(ckpt).exists(_.endsWith(".changelog")), stateFiles(ckpt))
    assert(straight.exists(r => r.getAs[String]("symbol") == "SOLUSDT"))
    assert(restarted.map(key).sorted == straight.map(key).sorted)
  }
}
