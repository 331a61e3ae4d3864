package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.{GraftSession, SparkEntry}
import graft.streaming.{JdbcUpsertSink, OhlcvStream}

/** One benchmark run of one workload in one JVM.
  *
  * The harness only drives the engine and records raw observations; every
  * statistic (medians, percentiles, per-layer sums) is computed by
  * `perfbench/run.py` from the JSON this writes to `--out`.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seconds S
  *                --trace 0|1 --setups K --cores N --out FILE
  */
object Harness {

  type Rec = Map[String, Any]

  /** The `candles_batch` query list, in run order. */
  val CandleQueries: Seq[String] = Seq("ohlcv_1min", "open_close", "vwap", "count_rows",
    "freshness_check", "json_parse", "decimal_cast", "epoch_to_ts", "derived_mul",
    "sliding_ohlcv", "session_window", "twap", "candle_patterns", "rsi_14", "bollinger_bands")

  /** Noop passes over the query list that the batch cold start runs after
    * writing the checked outputs. Passes of one JVM keep getting faster for
    * about seven passes over the list (JIT); with no such passes the timed
    * ones still fell 10-23% from first to last. */
  val ColdBatchPasses = 3

  /** Milliseconds since the epoch at nanosecond resolution, so harness
    * spans and Spark's own event times share one axis. */
  object Clock {
    private val nano0 = System.nanoTime()
    private val epoch0 = System.currentTimeMillis().toDouble
    def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  }

  final case class Config(workload: String, data: String, work: String,
                          seconds: Double, trace: Boolean, setups: Int,
                          cores: Int, out: String)

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("setups").toInt, m("cores").toInt, m("out"))
  }

  def session(cfg: Config): SparkSession = {
    val spark = GraftSession.builder("perfbench")
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val run = new Run(cfg)
    cfg.workload match {
      case "candles_batch" => run.batch(CandleQueries)
      case "candles_live" => run.stream()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(cfg.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(run.result))
  }

  /** Mutable state of one run; `result` is what gets written out. */
  final class Run(cfg: Config) {
    private var spark: SparkSession = _
    private var tracer: Option[Tracer] = None
    private val setups = ArrayBuffer[Double]()
    private val passes = ArrayBuffer[Rec]()
    private val ops = ArrayBuffer[Rec]()
    private val failures = ArrayBuffer[Rec]()
    private val extra = scala.collection.mutable.Map[String, Any]()
    private var attempted = 0L

    def result: Rec = Map(
      "workload" -> cfg.workload, "cores" -> cfg.cores, "setup_s" -> setups.toSeq,
      "passes" -> passes.toSeq, "ops" -> ops.toSeq, "attempted" -> attempted,
      "failures" -> failures.toSeq) ++ extra ++
      tracer.map(t => Map("trace" -> t.dump())).getOrElse(Map.empty)

    /** Runs one operation, recording a failure instead of propagating it;
      * fatal errors (OOM, linkage) still abort the run. */
    private def attempt[T](op: String, pass: Int)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case NonFatal(e) =>
          failures += Map("op" -> op, "pass" -> pass, "class" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage).linesIterator.take(3).mkString(" / "))
          None
      }
    }

    /** Tags the Spark jobs the current thread starts with a span id. */
    private def tag(span: String): Unit =
      if (tracer.isDefined) spark.sparkContext.setLocalProperty(Tracer.SpanKey, span)

    /** An untimed cold start, `warm(-1)` on the first session (it starts
      * the Spark context; class loading, code generation and JIT warm the
      * JVM, not the session), then `cfg.setups` fresh sessions on that
      * context, each warmed by `warm(pass)` with pass = -2, -3, ...; the
      * last one is kept for the timed passes. Each setup's wall time is
      * recorded. */
    private def setUp(warm: Int => Unit): Unit = {
      val c0 = Clock.ms()
      spark = session(cfg)
      warm(-1)
      extra("cold_start_s") = (Clock.ms() - c0) / 1000.0
      for (i <- 0 until cfg.setups) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val t0 = Clock.ms()
        spark = session(cfg)
        warm(-2 - i)
        setups += (Clock.ms() - t0) / 1000.0
      }
      if (cfg.trace) tracer = Some(Tracer.install(spark))
    }

    /** Timed passes until `cfg.seconds` have elapsed and at least
      * `minPasses` have run. */
    private def timedPasses(minPasses: Int)(pass: Int => Unit): Unit = {
      val start = Clock.ms()
      var p = 0
      while (p < minPasses || Clock.ms() - start < cfg.seconds * 1000) {
        val ps = Clock.ms()
        pass(p)
        passes += Map("pass" -> p, "start" -> ps, "end" -> Clock.ms())
        p += 1
      }
      tag(null)
      tracer.foreach(_.settle())
    }

    // ---------------------------------------------------------------- batch

    def batch(names: Seq[String]): Unit = {
      val checkDir = s"${cfg.work}/check"
      def each(pass: Int)(action: (String, DataFrame) => Unit): Unit =
        names.foreach(n => attempt(n, pass)(action(n, SparkEntry.queries(n)(spark, cfg.data))))
      // the cold start writes the outputs the oracle checks, then warms the
      // JVM; a setup runs the list once
      setUp {
        case -1 =>
          each(-1)((n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n"))
          for (_ <- 1 to ColdBatchPasses)
            each(-1)((_, df) => df.write.mode("overwrite").format("noop").save())
        case pass =>
          each(pass)((_, df) => df.write.mode("overwrite").format("noop").save())
      }
      val oracle = SparkEntry.oracleSql
      extra("queries") = names
      extra("oracle_sql") = names.flatMap(n => oracle.get(n).map(n -> _)).toMap
      extra("check_dir") = checkDir
      // three passes, so that the pass median is one pass rather than the
      // mean of two whichever way the time falls
      timedPasses(3) { p =>
        names.foreach { n =>
          attempt(n, p) {
            tag(s"p$p/$n/build")
            val b0 = Clock.ms()
            val df = SparkEntry.queries(n)(spark, cfg.data)
            val b1 = Clock.ms()
            tag(s"p$p/$n/action")
            df.write.mode("overwrite").format("noop").save()
            ops += Map("pass" -> p, "name" -> n, "start" -> b0, "built" -> b1,
              "end" -> Clock.ms())
          }
        }
      }
      spark.stop()
    }

    // ------------------------------------------------------------ streaming

    private val derbyUrl = "jdbc:derby:memory:perfbench;create=true"
    private val sinkKeys = Seq("symbol", "window_start")
    private val chunks = new ConcurrentLinkedQueue[Rec]()
    private val sinkCalls = new ConcurrentLinkedQueue[Rec]()
    private val progress = ArrayBuffer[Rec]()
    private val checks = ArrayBuffer[Rec]()

    /** The shipped graph — parse, ingest observation, watermarked 1-minute
      * OHLCV — with the candle columns cast to the sink DDL's NUMERIC(20,8). */
    private def graph(json: DataFrame): DataFrame = {
      val candle = OhlcvStream.ohlcv(OhlcvStream.observed(OhlcvStream.parseTrades(json)))
      val dec = Set("open_price", "high_price", "low_price", "close_price", "total_volume", "vwap")
      candle.select(candle.columns.toSeq.map(c =>
        if (dec(c)) col(c).cast(DecimalType(20, 8)).as(c) else col(c)): _*)
    }

    private def createTable(table: String): Unit = {
      val conn = DriverManager.getConnection(derbyUrl)
      try JdbcUpsertSink.ohlcvDdl(table).foreach(conn.createStatement().executeUpdate)
      finally conn.close()
    }

    def stream(): Unit = {
      val tape = Files.readAllLines(Paths.get(cfg.data, "tape.jsonl")).asScala.toIndexedSeq
      val man = new ObjectMapper().readTree(Paths.get(cfg.data, "manifest.json").toFile)
      val primerN = man.get("primer_lines").asInt
      val chunkN = man.get("chunk_lines").asInt
      val periodMs = man.get("chunk_period_ms").asDouble
      val late = man.get("late_lines").elements().asScala.map(_.asInt).toSet
      val primer = tape.take(primerN)
      val tapeChunks = tape.drop(primerN).grouped(chunkN).toIndexedSeq

      // the cold start lands the primer and five seconds of feed on the
      // live schedule (its triggers warm the JIT); a setup starts the query
      // and lands the primer
      setUp { pass =>
        attempt("warm_stream", pass) {
          val feed = if (pass == -1) tapeChunks.take(25) else IndexedSeq()
          streamPass(s"warm${-pass}", pass, primer, feed, periodMs)
        }
      }
      timedPasses(1) { p =>
        attempt("stream_pass", p) {
          streamPass(s"candles_p$p", p, primer, tapeChunks, periodMs)
        }
      }
      // untimed: the landed candles must equal the batch graph over the same
      // tape minus the lines designed to arrive beyond the watermark
      val sess = spark
      import sess.implicits._
      val kept = tape.indices.filterNot(late).map(tape)
      val expected = graph(kept.toDF("json")).collect().map(_.toString).toSeq
      passes.foreach { pr =>
        val p = pr("pass").asInstanceOf[Int]
        attempt("stream_check", p) {
          val actual = spark.read.format("jdbc").option("url", derbyUrl)
            .option("dbtable", s"candles_p$p").load().collect().map(_.toString).toSeq
          checks += Map("pass" -> p, "rows" -> actual.size, "expected_rows" -> expected.size,
            "missing" -> expected.diff(actual).size, "extra" -> actual.diff(expected).size)
        }
      }
      extra("chunks") = chunks.asScala.toSeq
      extra("sink_calls") = sinkCalls.asScala.toSeq
      extra("progress") = progress.toSeq
      extra("checks") = checks.toSeq
      spark.stop()
    }

    /** Feeds `primer` and waits for it (so the watermark is set), then feeds
      * `body` one chunk every `periodMs` from a separate generator thread
      * (open loop). Runs until every fed chunk has landed in the sink. */
    private def streamPass(table: String, pass: Int, primer: Seq[String],
                           body: IndexedSeq[Seq[String]], periodMs: Double): Unit = {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = sess.sqlContext
      createTable(table)
      val input = MemoryStream[String]
      val b0 = Clock.ms()
      val agg = graph(input.toDF().toDF("json"))
      val b1 = Clock.ms()
      ops += Map("pass" -> pass, "name" -> "graph", "start" -> b0, "built" -> b1, "end" -> b1)
      val upsert = JdbcUpsertSink.upsert(derbyUrl, table, sinkKeys)
      val sink = (df: DataFrame, id: Long) => {
        tag(s"p$pass/b$id/sink")
        val s = Clock.ms()
        upsert(df, id)
        sinkCalls.add(Map("pass" -> pass, "batch" -> id, "start" -> s, "end" -> Clock.ms()))
        ()
      }
      val ckpt = Paths.get(cfg.work, "ckpt", table).toString
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      val q = OhlcvStream.start(agg, sink, ckpt, Trigger.ProcessingTime(0))
      try {
        input.addData(primer)
        q.processAllAvailable()
        val t0 = Clock.ms()
        val gen = new Thread(() => body.indices.foreach { i =>
          val due = t0 + periodMs * i
          val wait = due - Clock.ms()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val off = input.addData(body(i)).json().toLong
          chunks.add(Map("pass" -> pass, "offset" -> off, "due" -> due, "added" -> Clock.ms()))
        }, "perfbench-generator")
        gen.start()
        gen.join()
        q.processAllAvailable()
      } finally q.stop()
      q.exception.foreach(e => throw e)
      val reported = tracer.map { t => t.settle(); t.progressOf(q.id) }
        .getOrElse(q.recentProgress.toSeq)
      progress ++= reported.map(progressRec(pass, _))
    }

    private def progressRec(pass: Int, p: StreamingQueryProgress): Rec = {
      def off(s: String): Long = Option(s).filter(_ != "null").map(_.toLong).getOrElse(-1L)
      val src = p.sources.head
      val ingest = Option(p.observedMetrics.get("ingest"))
      def obs(f: String): Long = ingest.map((r: Row) => r.getAs[Long](f)).getOrElse(0L)
      val st = p.stateOperators.toSeq
      Map("pass" -> pass, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "input_rows" -> p.numInputRows,
        "start_offset" -> off(src.startOffset), "end_offset" -> off(src.endOffset),
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_updated" -> st.map(_.numRowsUpdated).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "dropped_late" -> st.map(_.numRowsDroppedByWatermark).sum,
        "malformed" -> (obs("n_malformed") + obs("n_bad_decimal")))
    }
  }
}
