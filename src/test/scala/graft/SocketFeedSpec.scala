package graft

import java.io.PrintWriter
import java.net.ServerSocket
import java.util.concurrent.CountDownLatch

import graft.streaming.OhlcvStream

/** Executes the [[graft.streaming.OhlcvStream.fromResilientSocket]]
  * ingestion front end for real: a live local TCP server plays the
  * reference's WebSocket producer (producer/producer.py:51-58 — one JSON
  * trade per message), and the FULL topology (socket source → JSON parse →
  * decimal cast → watermark → 1-min OHLCV+VWAP) runs against it. This is
  * the executable twin of the Kafka entry point (whose connector jar is not
  * on this classpath): everything downstream of the source is shared code.
  */
class SocketFeedSpec extends SparkSuite {

  private def jsonTrade(id: Long, sym: String, px: String, qty: String, t: Long) =
    s"""{"trade_id":$id,"symbol":"$sym","price":"$px","quantity":"$qty",""" +
      s""""trade_time":$t,"is_buyer_maker":false}"""

  test("live TCP feed drives socket source -> parse -> watermark -> OHLCV") {
    val t0 = 1700000040000L // minute-aligned: one window [t0, t0+60s)
    val lines = Seq(
      jsonTrade(1, "BTCUSDT", "100.0", "2.0", t0 + 1000),
      jsonTrade(2, "BTCUSDT", "110.0", "1.0", t0 + 30000),
      jsonTrade(3, "BTCUSDT", "90.0", "1.0", t0 + 59000),
      jsonTrade(4, "ETHUSDT", "10.0", "5.0", t0 + 2000),
      "not json at all") // PERMISSIVE parse: malformed line -> null row
    val server = new ServerSocket(0)
    val done = new CountDownLatch(1)
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
      done.await() // keep the connection open until the query stops
      sock.close()
    }, "socket-feeder")
    feeder.setDaemon(true)
    feeder.start()
    val parsed = OhlcvStream
      .parseTrades(OhlcvStream.fromResilientSocket(spark, "127.0.0.1", server.getLocalPort))
      .filter(org.apache.spark.sql.functions.col("trade_id").isNotNull)
    val query = OhlcvStream.ohlcv(parsed).writeStream
      .format("memory")
      .queryName("socket_ohlcv")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("socket_ckpt").toString)
      .start()
    try {
      // poll: the TCP lines race the micro-batches, and update mode emits
      // one row per (window, symbol) per batch that touched it — so drain
      // until the FULLY-aggregated updates appear among the emitted rows
      // (update rows only ever grow toward them; bounded by the deadline)
      val deadline = System.currentTimeMillis() + 60000
      def rows(): Set[(String, Double, Double, Double, Double, Double, Double)] = {
        query.processAllAvailable()
        spark.table("socket_ohlcv")
          .collect()
          .map(r => (r.getAs[String]("symbol"),
            r.getAs[java.math.BigDecimal]("open_price").doubleValue(),
            r.getAs[java.math.BigDecimal]("high_price").doubleValue(),
            r.getAs[java.math.BigDecimal]("low_price").doubleValue(),
            r.getAs[java.math.BigDecimal]("close_price").doubleValue(),
            r.getAs[java.math.BigDecimal]("total_volume").doubleValue(),
            r.getAs[java.math.BigDecimal]("vwap").doubleValue()))
          .toSet
      }
      // BTC window: open 100 (t+1s), high 110, low 90, close 90 (t+59s),
      // vol 4, vwap = (100*2 + 110*1 + 90*1) / 4 = 100
      val wantBtc = ("BTCUSDT", 100.0, 110.0, 90.0, 90.0, 4.0, 100.0)
      val wantEth = ("ETHUSDT", 10.0, 10.0, 10.0, 10.0, 5.0, 10.0)
      var got = rows()
      while (!(got.contains(wantBtc) && got.contains(wantEth)) &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(200); got = rows()
      }
      assert(got.contains(wantBtc) && got.contains(wantEth), got)
    } finally {
      query.stop()
      done.countDown()
      server.close()
      spark.sql("DROP VIEW IF EXISTS socket_ohlcv")
    }
  }
}
