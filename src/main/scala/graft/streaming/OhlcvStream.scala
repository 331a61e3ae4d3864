package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference's streaming pipeline re-expressed Spark-first: JSON trade
  * events → typed decimal rows → watermarked 1-minute tumbling-window
  * OHLCV+VWAP aggregation → update-mode output, 60 s trigger
  * (reference: spark_processor/processor.py:43-112).
  *
  * Composable as pure `DataFrame => DataFrame` stages so the same graph runs
  * over a Kafka source in production, a `MemoryStream` in tests, or a batch
  * DataFrame for backfill — Structured Streaming's unified batch/stream
  * semantics make the aggregation identical in all three.
  *
  * Deliberate divergence from the reference (SURVEY.md §2.3): open/close use
  * `min_by`/`max_by` over `(trade_time, trade_id)` instead of encounter-order
  * `first`/`last` (processor.py:83-84), which is nondeterministic under
  * multi-partition shuffle. Deterministic aggregates are the only kind that
  * scale to a real cluster without silent result drift.
  */
object OhlcvStream {

  /** Wire-format schema (reference: spark_processor/processor.py:43-52).
    * price/quantity arrive as decimal STRINGS — the exchange sends decimals
    * as strings to avoid float loss; we cast after parse exactly like the
    * reference.
    */
  val tradeSchema: StructType = StructType(Seq(
    StructField("trade_id", LongType),
    StructField("symbol", StringType),
    StructField("price", StringType),
    StructField("quantity", StringType),
    StructField("trade_time", LongType), // epoch milliseconds
    StructField("is_buyer_maker", BooleanType)))

  /** Kafka source (reference: processor.py:54-60). Production entry point.
    * Requires the `spark-sql-kafka-0-10` connector on the classpath (not
    * bundled in spark's default jars). EXECUTED end-to-end by
    * KafkaEmulatedSpec: the test classpath registers
    * `graft.kafka.EmulatedKafkaProvider` under the connector's shortName
    * `kafka` — a contract double covering the fixed read schema,
    * startingOffsets latest/earliest/JSON, per-partition offset
    * checkpointing + restart resume, failOnDataLoss, and
    * maxOffsetsPerTrigger admission control — so this exact code path runs
    * unmodified in tests while production resolves the real connector.
    */
  def fromKafka(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .selectExpr("CAST(value AS STRING) AS json")

  /** TCP line-feed source — the Spark-native analog of the reference's
    * WebSocket trade feed (producer/producer.py:51-58 emits one JSON trade
    * per message, one line per row here), hardened with the reference
    * producer's retry loop (producer/producer.py:100-115). Spark's in-box
    * `socket` source dies SILENTLY on a peer drop (EOF and IO errors both
    * just end its reader thread — the query keeps running against a dead
    * feed), so the reconnect-with-capped-exponential-backoff loop lives
    * inside [[ResilientSocketProvider]]'s read thread, exactly where the
    * reference wraps `ws.run_forever()`. Unlike [[fromKafka]] this needs
    * no connector jar (SocketFeedSpec drives the full topology through it).
    * A socket offers no replay, so it is the dev/drill entry point;
    * production ingestion goes through [[fromKafka]]'s replayable log.
    * Emits the same `json` column as [[fromKafka]] — everything downstream
    * is source-agnostic; `conn_epoch` (which connection attempt delivered
    * each line) is surfaced for drop monitoring.
    */
  def fromResilientSocket(spark: SparkSession, host: String, port: Int,
                          retryDelayMs: Long = 500L,
                          maxRetryDelayMs: Long = 60000L): DataFrame =
    spark.readStream
      .format(classOf[ResilientSocketProvider].getName)
      .option("host", host)
      .option("port", port)
      .option("retryDelayMs", retryDelayMs)
      .option("maxRetryDelayMs", maxRetryDelayMs)
      .load()
      .select(col("value").as("json"), col("conn_epoch"))

  /** JSON line → typed trade row (reference: processor.py:65-75).
    * `from_json` is PERMISSIVE: malformed input → NULL fields, matching the
    * reference's explicit-schema behavior. The decimal casts are TRY casts:
    * the reference runs Spark 3.5 non-ANSI where `'abc'::decimal` yields
    * NULL, but Spark 4 defaults to ANSI where a plain cast THROWS and kills
    * the streaming query — one corrupt exchange message must degrade to a
    * NULL row (counted by [[observed]]), never take down ingestion.
    * Epoch-ms → timestamp uses `timestamp_millis` (exact integer
    * semantics; the reference's `/1000` + cast round-trips through double).
    */
  def parseTrades(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("json"), tradeSchema).as("data"))
      .select(col("data.*"))
      .withColumn("price", expr("try_cast(price AS DECIMAL(20,8))"))
      .withColumn("quantity", expr("try_cast(quantity AS DECIMAL(20,8))"))
      .withColumn("trade_time", timestamp_millis(col("trade_time")))
      .withColumn("trade_value", col("price") * col("quantity"))

  /** Ingest-quality observation riding the parse pass — the Spark-native
    * replacement for the reference's sink guards (`df.isEmpty()` +
    * `df.count()`, processor.py:117-121), which RECOMPUTE each micro-batch
    * twice before writing. `observe` attaches accumulator-style aggregates
    * to the rows already flowing: per micro-batch the query progress
    * reports row count, unparseable-JSON count, and rows whose decimal
    * fields failed the cast — zero extra actions, zero recompute, at any
    * scale. Consumers read `StreamingQueryProgress.observedMetrics
    * ("ingest")` (or a `StreamingQueryListener`) — the monitoring-plane
    * analog of the reference's freshness DAG, fed from inside the query.
    *
    * Approximation, by design: `n_malformed` counts NULL `trade_id` after
    * [[parseTrades]], which conflates unparseable JSON with a valid object
    * merely missing `trade_id`; likewise `n_bad_decimal` counts absent
    * price/quantity fields as cast failures. The feed contract makes both
    * fields mandatory, so the conflation only matters against a peer that
    * drops them — wire `from_json`'s `columnNameOfCorruptRecord` column
    * through `parseTrades` if per-cause attribution is ever needed.
    */
  def observed(trades: DataFrame): DataFrame =
    trades.observe(
      "ingest",
      count(lit(1)).as("n_rows"),
      sum(when(col("trade_id").isNull, 1L).otherwise(0L)).as("n_malformed"),
      sum(when(col("trade_id").isNotNull &&
        (col("price").isNull || col("quantity").isNull), 1L).otherwise(0L))
        .as("n_bad_decimal"))

  /** Watermarked tumbling-window OHLCV+VWAP (reference: processor.py:78-101).
    * State for a window is dropped once the watermark passes its end; rows
    * later than the watermark are discarded — identical semantics to the
    * reference's 2-minute bound. The aggregation is partial+final: partial
    * OHLCV state combines map-side, so the shuffle carries one row per
    * (window, symbol) per partition, not per trade — at 100 TB the shuffle
    * volume is bounded by key cardinality, not event count.
    */
  def ohlcv(trades: DataFrame,
            watermark: String = "2 minutes",
            windowWidth: String = "1 minute"): DataFrame =
    ohlcvWatermarked(trades.withWatermark("trade_time", watermark), windowWidth)

  /** Aggregation body over an ALREADY-watermarked stream — use when
    * composing after another stateful stage (e.g. [[dedupTrades]]):
    * Structured Streaming allows one watermark definition per column, set
    * at the first stateful operator.
    */
  def ohlcvWatermarked(trades: DataFrame,
                       windowWidth: String = "1 minute"): DataFrame = {
    val orderKey: Column = struct(col("trade_time"), col("trade_id"))
    trades
      .groupBy(window(col("trade_time"), windowWidth), col("symbol"))
      .agg(
        min_by(col("price"), orderKey).as("open_price"),
        max(col("price")).as("high_price"),
        min(col("price")).as("low_price"),
        max_by(col("price"), orderKey).as("close_price"),
        sum(col("quantity")).as("total_volume"),
        sum(col("trade_value")).as("total_trade_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("symbol"),
        col("open_price"),
        col("high_price"),
        col("low_price"),
        col("close_price"),
        col("total_volume"),
        when(col("total_volume") =!= 0,
          col("total_trade_value") / col("total_volume")).as("vwap"))
  }

  /** Streaming dedup: the producer is at-least-once into Kafka
    * (reference: producer/producer.py — async send, reconnect loop, no
    * idempotence), so duplicate trade_ids are possible.
    * `dropDuplicatesWithinWatermark` keeps first-seen per trade_id with
    * state bounded by the watermark horizon — dedup state for a trade_id is
    * dropped once the watermark passes it, so state size tracks the late-
    * data window, not the stream's history.
    */
  def dedupTrades(trades: DataFrame, watermark: String = "2 minutes"): DataFrame =
    IngestDedupStream.deduped(trades, watermark)

  /** Start the query: update mode + 60 s trigger + checkpoint, foreachBatch
    * sink (reference: processor.py:103-112). `sink` runs in the driver JVM —
    * no Py4J hop, unlike the reference's Python callback.
    */
  def start(agg: DataFrame,
            sink: (DataFrame, Long) => Unit,
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    agg.writeStream
      .outputMode("update")
      .foreachBatch(sink)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .start()
}
