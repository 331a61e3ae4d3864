package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The multi-granularity candle ladder as ONE streaming query: 1-minute
  * OHLCV re-aggregated into 5-minute candles — two chained event-time
  * windowed aggregations (Spark 3.4+ `window(windowColumn, ...)`), the
  * topology the reference's single-aggregation processor
  * (spark_processor/processor.py:78-101) cannot express. The batch
  * [[graft.ops.AggOps.ohlcv5minRollup]] runs this same graph over the
  * stored trades.
  *
  * Semantics and scale:
  *  - One watermark governs BOTH stateful operators: 1-minute state drops
  *    as the watermark advances, and the 5-minute operator's input is one
  *    row per (minute, symbol) — cardinality-bounded, not event-bounded,
  *    so the second stage's state and shuffle are minutes × symbols at any
  *    event rate. This is exactly the batch rollup's "coarser candles read
  *    the finer mart, never raw trades" law, enforced inside one query.
  *  - Exact integers throughout: prices become cents (long), volumes
  *    long; open/close compose as min_by/max_by over event time then
  *    minute start; every intermediate sum is exact and the only doubles
  *    are the final /100 projections and the VWAP division
  *    (CandleLadderSpec pins streaming and batch-backfill mode).
  *  - Append output mode: a 5-minute candle is emitted exactly once, when
  *    the watermark passes its window end — the mart-feed contract (a
  *    downstream upsert sink needs no update churn).
  */
object CandleLadder {

  /** trades (symbol, price, quantity, trade_time) → append-mode 5-minute
    * candles with the batch rollup's exact schema and arithmetic.
    */
  def rollup5min(trades: DataFrame, watermark: String = "2 minutes"): DataFrame = {
    val minute = trades
      .withWatermark("trade_time", watermark)
      .select(
        col("trade_time"), col("symbol"),
        (col("price") * 100).cast(LongType).as("pc"),
        col("quantity").cast(LongType).as("qty"))
      .groupBy(window(col("trade_time"), "1 minute").as("minute"), col("symbol"))
      .agg(
        expr("min_by(pc, trade_time)").as("open_c"),
        max(col("pc")).as("hi_c"),
        min(col("pc")).as("lo_c"),
        expr("max_by(pc, trade_time)").as("close_c"),
        sum(col("qty")).as("vol"),
        sum(col("pc") * col("qty")).as("tv"))
    val vol5 = sum(col("vol"))
    minute
      .groupBy(window(col("minute"), "5 minutes"), col("symbol"))
      .agg(
        (expr("min_by(open_c, minute.start)").cast(DoubleType) / 100.0).as("open_price"),
        (max(col("hi_c")).cast(DoubleType) / 100.0).as("high_price"),
        (min(col("lo_c")).cast(DoubleType) / 100.0).as("low_price"),
        (expr("max_by(close_c, minute.start)").cast(DoubleType) / 100.0).as("close_price"),
        vol5.as("total_volume"),
        count(lit(1)).as("n_minutes"),
        when(vol5 =!= 0L,
          sum(col("tv")).cast(DoubleType) / vol5.cast(DoubleType) / 100.0)
          .as("vwap"))
      .select(
        col("window.start").as("window_start"), col("symbol"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("total_volume"), col("n_minutes"),
        col("vwap"),
        col("window.end").as("window_end"))
  }
}
