package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.OhlcvStream

/** Streaming throughput bench for the BASELINE.md SLO: >= 1k events/s
  * OHLCV aggregation on ONE core. Feeds pre-generated JSON trade lines
  * through a MemoryStream into the full parse -> watermark -> 1-minute
  * OHLCV graph on local[1] (Trigger.AvailableNow), and reports end-to-end
  * events/s over the timed drain. Prints one JSON line. The session comes
  * from [[GraftSession.builder]], so the figure covers the shipped state
  * store and checkpoint path; both checkpoint dirs are deleted on exit.
  *
  * MemoryStream isolates engine throughput from source I/O — the number is
  * the aggregation pipeline's capacity, which is the SLO's subject (the
  * reference's Kafka consumer measures the same stage boundary).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "200000").toInt
    val spark = GraftSession.builder("streambench")
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Deterministic synthetic trade tape: 5 symbols, ~1 trade/ms, spanning
    // ~nEvents/1000 seconds of event time (several 1-minute windows).
    val syms = Array("BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "ADAUSDT")
    val t0 = 1705276800000L
    def line(i: Int): String = {
      // long arithmetic: i * 104729 wraps Int for i >= 20507, which would
      // send negative quantities into the volume/vwap sums
      val px = 50000 + (i.toLong * 7919 % 1000) / 100.0
      val qty = 1 + (i.toLong * 104729 % 500) / 100.0
      s"""{"trade_id":$i,"symbol":"${syms(i % syms.length)}","price":"$px",""" +
        s""""quantity":"$qty","trade_time":${t0 + i},"is_buyer_maker":${i % 2 == 0}}"""
    }
    val events = (0 until nEvents).map(line) // generated OUTSIDE the timed drain

    def graph(input: MemoryStream[String]) =
      OhlcvStream.ohlcv(OhlcvStream.parseTrades(input.toDF().toDF("json")))

    val warmDir = Files.createTempDirectory("streambench-warm").toFile
    val ckDir = Files.createTempDirectory("streambench").toFile
    try {
      // Warm query on a separate small stream: JIT + codegen for the
      // streaming plan happen here, not inside the timed drain.
      val warmInput = MemoryStream[String]
      warmInput.addData(events.take(1000))
      // (the sink must drain every partition — Spark validates state-store
      // commits against partitions processed in foreachBatch)
      val warm = OhlcvStream.start(graph(warmInput), (df, _) => { df.count(); () },
        warmDir.toString, Trigger.AvailableNow())
      warm.awaitTermination()

      var outRows = 0L
      val input = MemoryStream[String]
      input.addData(events)
      val start = System.nanoTime()
      val q = OhlcvStream.start(
        graph(input), (df, _) => { outRows += df.count() }, ckDir.toString,
        Trigger.AvailableNow())
      q.awaitTermination()
      val secs = (System.nanoTime() - start) / 1e9
      val rate = nEvents / secs
      println(f"""{"metric":"stream_events_per_sec","value":$rate%.0f,""" +
        s""""unit":"events/sec","events":$nEvents,"seconds":$secs,""" +
        s""""out_rows":$outRows,"cores":1,"slo_1k_met":${rate >= 1000}}""")
    } finally {
      spark.stop()
      Seq(warmDir, ckDir).foreach(d => FileUtils.deleteDirectory(d))
    }
  }
}
