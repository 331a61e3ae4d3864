package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{LocalCheckpointFileManager, OhlcvStream}

/** The library entry point ships working defaults: the extensions class
  * resolves and injects every native function, and the defaults carry the
  * AQE + determinism configuration the operator designs assume.
  */
class GraftSessionSpec extends SparkSuite {

  test("defaults carry UTC, AQE (+skew join), and the extensions class") {
    val d = GraftSession.defaults
    assert(d("spark.sql.session.timeZone") == "UTC")
    assert(d("spark.sql.adaptive.enabled") == "true")
    assert(d("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(d("spark.sql.extensions") == "graft.functions.GraftExtensions")
    // the configured state-store provider must exist on this Spark build
    assert(Class.forName(d("spark.sql.streaming.stateStore.providerClass")) != null)
  }

  test("extensions injection registers every native function — no manual register") {
    // newSession() rebuilds SessionState from the session's extensions, so
    // a fresh function registry here proves the spark.sql.extensions path
    // (SparkSuite builds the shared session through GraftSession.builder);
    // per-session GraftFunctions.register calls from other suites can't
    // leak into it.
    val fresh = spark.newSession()
    Seq("dot_product", "cosine_sim", "minhash_sig", "simhash64",
      "signlsh_buckets", "char_ngrams3").foreach { fn =>
      assert(fresh.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(fn)), fn)
    }
    // and they resolve end-to-end in SQL
    val r = fresh.sql(
      "SELECT dot_product(array(1D, 2D), array(3D, 4D)) AS d").collect()(0)
    assert(r.getDouble(0) == 11.0)
  }

  test("builder applies every default") {
    // Builder state isn't publicly inspectable; getOrCreate on the existing
    // session applies options via runtime conf where allowed. Assert the
    // builder at least constructs and the settable options land.
    val b = GraftSession.builder("graft-test")
    assert(b != null)
    GraftSession.defaults.filter(_._1.startsWith("spark.sql.adaptive")).foreach {
      case (k, v) =>
        spark.conf.set(k, v)
        assert(spark.conf.get(k) == v)
    }
  }

  test("defaults install the java.nio checkpoint manager and RocksDB changelog commits") {
    val d = GraftSession.defaults
    assert(d("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    val manager = Class.forName(d("spark.sql.streaming.checkpointFileManagerClass"))
    assert(classOf[CheckpointFileManager].isAssignableFrom(manager))
    val local = new Path(Files.createTempDirectory("gs_fm").toString)
    assert(CheckpointFileManager.create(local, spark.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])
  }

  test("an OHLCV run leaves no Hadoop .crc sidecars in offsets/ and commits/") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val ckpt = Files.createTempDirectory("gs_ckpt").toString
    val q = OhlcvStream.start(
      OhlcvStream.ohlcv(OhlcvStream.parseTrades(input.toDF().toDF("json"))),
      (df, _) => { df.count(); () }, ckpt, Trigger.ProcessingTime(0))
    try (1 to 2).foreach { i =>
      input.addData(Seq(s"""{"trade_id":$i,"symbol":"BTCUSDT","price":"1.0",""" +
        s""""quantity":"1.0","trade_time":${1705276800000L + i},"is_buyer_maker":false}"""))
      q.processAllAvailable()
    } finally q.stop()
    Seq("offsets", "commits").foreach { d =>
      val files = Files.list(Paths.get(ckpt, d)).iterator.asScala
        .map(_.getFileName.toString).toSeq
      assert(files.count(_.forall(_.isDigit)) >= 2, s"$d: $files")
      assert(!files.exists(f => f.startsWith(".") && f.endsWith(".crc")), s"$d: $files")
    }
  }
}
