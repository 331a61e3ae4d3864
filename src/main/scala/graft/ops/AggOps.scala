package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** Aggregation layer — batch forms of the reference's windowed OHLCV/VWAP
  * pipeline (reference: spark_processor/processor.py:78-101) plus the batch
  * aggregation surface from SURVEY §2.5.
  *
  * Scale posture: every query is a single partial+final hash aggregation —
  * one shuffle on the group key, map-side combine for free. Money math is
  * decimal-exact (sum of DECIMAL, cast to DOUBLE only at the output
  * boundary) so results are deterministic under any partitioning — a
  * requirement at 1000 executors, and what makes the DuckDB oracle
  * hash-match bit-exactly.
  */
object AggOps {

  /** events → the reference's trade shape: ts, symbol, decimal price,
    * decimal quantity, derived trade_value (processor.py:70-75; mapping per
    * FIXTURES.md — value→price, props.k→quantity, event_type→symbol).
    */
  private def trades(spark: SparkSession, dir: String): DataFrame =
    // NOT balanced (r17): interleaved A/B on the candle base (OPTIMIZATION_
    // r17.md, "Measured, deliberately left alone") measured the repartition
    // COSTING more than the JSON-parse parallelism it buys (0.88 → 1.02 s
    // on the mfi_14 shape)
    Tables.events(spark, dir).select(
      col("ts"),
      col("event_type").as("symbol"),
      col("value").cast(DecimalType(18, 2)).as("price"),
      get_json_object(col("props"), "$.k").cast(DecimalType(18, 0)).as("quantity"))
      .withColumn("trade_value", col("price") * col("quantity"))

  /** FLAGSHIP — A1-A7 + P6-P8: 1-minute OHLCV + VWAP per symbol
    * (processor.py:78-101 as a batch query).
    *
    * Divergence from the reference, by design (SURVEY §2.3 note): the
    * reference's `first`/`last` are encounter-order and nondeterministic
    * under shuffle; we declare the intended semantics — price at min/max
    * event time — via `min_by`/`max_by`, which are deterministic on any
    * partitioning (and oracle-checkable as DuckDB arg_min/arg_max).
    * VWAP guards the zero-volume case explicitly so Spark and DuckDB agree
    * (SURVEY §7.4, non-ANSI div-by-zero).
    *
    * Emits BOTH window bounds like the reference row (processor.py:93,
    * init.sql:8) and the streaming twin (OhlcvStream window.start/end);
    * window_end is derived post-agg — a pure projection, no grouping cost.
    */
  def ohlcv1min(spark: SparkSession, dir: String): DataFrame = {
    val vol = sum(col("quantity"))
    trades(spark, dir)
      .groupBy(
        date_trunc("minute", col("ts")).as("window_start"),
        col("symbol"))
      .agg(
        expr("min_by(price, ts)").cast(DoubleType).as("open_price"),
        max(col("price")).cast(DoubleType).as("high_price"),
        min(col("price")).cast(DoubleType).as("low_price"),
        expr("max_by(price, ts)").cast(DoubleType).as("close_price"),
        vol.cast(DoubleType).as("total_volume"),
        count(lit(1)).as("n_trades"),
        when(vol =!= 0,
          sum(col("trade_value")).cast(DoubleType) / vol.cast(DoubleType))
          .as("vwap"))
      .withColumn("window_end", col("window_start") + expr("INTERVAL 1 MINUTE"))
  }

  /** A4/A5 isolated: deterministic open/close per (minute, symbol). */
  def openClose(spark: SparkSession, dir: String): DataFrame =
    trades(spark, dir)
      .groupBy(
        date_trunc("minute", col("ts")).as("window_start"),
        col("symbol"))
      .agg(
        expr("min_by(price, ts)").cast(DoubleType).as("open_price"),
        expr("max_by(price, ts)").cast(DoubleType).as("close_price"))

  /** P7 isolated: VWAP per symbol over the whole table. */
  def vwap(spark: SparkSession, dir: String): DataFrame = {
    val vol = sum(col("quantity"))
    trades(spark, dir)
      .groupBy(col("symbol"))
      .agg(
        vol.cast(DoubleType).as("total_volume"),
        when(vol =!= 0,
          sum(col("trade_value")).cast(DoubleType) / vol.cast(DoubleType))
          .as("vwap"))
  }

  /** A8: grouped row count (the sink guard's count, made useful). */
  def countRows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))

  /** A9: freshness check — the monitor DAG's COUNT over the trailing window
    * (reference: airflow/dags/crypto_pipeline_monitor_dag.py:25-27), with a
    * fixed anchor instead of NOW() for determinism (SURVEY §5).
    */
  def freshnessCheck(spark: SparkSession, dir: String): DataFrame = {
    val anchor = lit("2024-01-15 00:00:00").cast(TimestampType)
    Tables.events(spark, dir)
      .filter(col("ts") >= anchor - expr("INTERVAL 3 MINUTES") && col("ts") < anchor)
      .agg(count(lit(1)).as("fresh_rows"))
  }

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H Q1-shape grouped aggregation (SURVEY §2.5 agg_groupby):
    * decimal-exact sums surfaced as DOUBLE, averages as exact-sum / count.
    */
  def aggGroupBy(spark: SparkSession, dir: String): DataFrame =
    // balanced AFTER the pushed-down filter, projecting the six needed
    // columns: the decimal-heavy partial agg fused into the near-serial
    // scan stage (1.0 s on 3 tasks at sf0.1, r17 profile; guide §2.3/§2.5).
    // Filter pushdown to the parquet scan is unchanged (repartition sits
    // above the scan; PushedFilters still carries l_shipdate).
    Tables.balanced(Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") <= lit("2001-09-02 00:00:00").cast(TimestampType))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
          * (lit(1) + dec2(col("l_tax")))).cast(DoubleType).as("sum_charge"),
        (sum(dec2(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_extendedprice"))).cast(DoubleType) / count(lit(1)))
          .as("avg_price"),
        (sum(dec2(col("l_discount"))).cast(DoubleType) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Exact + approximate distinct (SURVEY §2.5). The approximate variant is
    * HLL++ and intentionally has no SQL oracle (estimator-specific); exact
    * is oracle-checked. `countDistinct` plans as a two-stage
    * partial-distinct aggregation — no full-row shuffle of events.
    */
  def countDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))

  /** Conditional aggregation — the FILTER-clause family expressed as
    * `agg(CASE WHEN …)` so one scan produces every conditional metric
    * (the alternative — one filtered pass per metric — multiplies scans).
    */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(when(col("value") > 50, 1)).as("n_high"),
        count(when(col("value") <= 50, 1)).as("n_low"),
        sum(when(col("value") > 50, dec2(col("value"))))
          .cast(DoubleType).as("sum_high"),
        max(when(col("user_id") % 2 === 0, col("value"))).as("max_even_user"))

  /** ROLLUP over returnflag/linestatus (SURVEY §2.5 rollup_sales).
    * Spark emits NULL for rolled-up levels; the oracle uses the same ROLLUP.
    */
  def rollupSales(spark: SparkSession, dir: String): DataFrame =
    // balanced + project-first: the grouping-set Expand (×3 here, ×4 for
    // CUBE) and its partial aggregation fuse into the scan stage, which is
    // effectively serial on the single-row-group test parquet (cube_sales
    // profiled 1.6 s on 3 tasks, r17; guide §2.3/§2.5). Repartition just
    // the three needed columns to core count; no-op at production scale.
    Tables.balanced(Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice")))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"),
        count(lit(1)).as("n_items"))

  /** CUBE variant — full grouping-set lattice. */
  def cubeSales(spark: SparkSession, dir: String): DataFrame =
    Tables.balanced(Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity")))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_items"))

  /** Time-series resampling: fill the minute grid per symbol, carrying the
    * last observed close forward into empty minutes. The grid is generated
    * per symbol with `sequence` + explode (rows expand BEFORE the shuffle),
    * then one window pass forward-fills — no self-join, no driver loop.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val observed = trades(spark, dir)
      .groupBy(date_trunc("minute", col("ts")).as("minute"), col("symbol"))
      .agg(expr("max_by(price, ts)").cast(DoubleType).as("close_price"),
        count(lit(1)).as("n_trades"))
    val grid = observed
      .groupBy(col("symbol"))
      .agg(min(col("minute")).as("lo"), max(col("minute")).as("hi"))
      .select(col("symbol"), explode(expr(
        "sequence(lo, hi, interval 1 minute)")).as("minute"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(observed, Seq("symbol", "minute"), "left")
      .select(
        col("symbol"), col("minute"),
        coalesce(col("n_trades"), lit(0L)).as("n_trades"),
        last(col("close_price"), ignoreNulls = true).over(w).as("close_ffill"),
        col("close_price").isNull.as("is_gap"))
  }

  /** Sliding (hopping) window extension — SURVEY §2.4 W2 lists tumbling as
    * the reference's only window shape; sliding is the declared extension.
    * 5-minute windows every 1 minute: each row lands in 5 windows via the
    * same `window()` primitive (the expansion happens before the shuffle,
    * exactly like tumbling, so the plan shape is unchanged).
    */
  def slidingOhlcv(spark: SparkSession, dir: String): DataFrame =
    trades(spark, dir)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("symbol"))
      .agg(
        max(col("price")).cast(DoubleType).as("high_price"),
        min(col("price")).cast(DoubleType).as("low_price"),
        sum(col("quantity")).cast(DoubleType).as("total_volume"),
        count(lit(1)).as("n_trades"))
      .select(col("window.start").as("window_start"), col("symbol"),
        col("high_price"), col("low_price"), col("total_volume"), col("n_trades"))

  /** Session window extension (SURVEY §2.4 W2): gap-merged sessions per
    * user via the native `session_window` primitive — same semantics as the
    * two-window sessionize formulation (StatsOps), state-store-backed when
    * streaming. `window.start` is exactly the session's first event time.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast(DoubleType).as("session_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"),
        col("session_value"))

  /** TWAP — TIME-weighted average price per symbol: each price is weighted
    * by how long it was the latest print (microseconds to the next trade,
    * via `lead` on a (ts, event_id) total order). The numerator
    * accumulates as exact INT64 price-cents × µs — not a wide decimal,
    * whose →double conversion rounds differently across engines in the
    * last ulp (observed vs the oracle). Magnitude is span-bounded, not
    * row-bounded: Σ dur_us ≈ the symbol's physical time span, so the sum
    * is ≈ avg_cents × span_us ≲ 1e4 × 3e13 (a YEAR) = 3e17 « 2^63 at any
    * SF. One double division sequence at the boundary, identical on both
    * engines. Per-symbol window: shards parallelize, no global sort.
    */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("ts"),
        col("event_type").as("symbol"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("price_cents"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("dur_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dur_us").isNotNull) // last print per symbol has no span
      .groupBy(col("symbol"))
      .agg(
        (sum(col("price_cents") * col("dur_us")).cast(DoubleType)
          / sum(col("dur_us")).cast(DoubleType) / lit(100.0)).as("twap"),
        count(lit(1)).as("n_intervals"))
  }

  /** Engulfing-candle detection over the 1-minute OHLCV series: a candle
    * whose body strictly reverses and fully contains the previous body.
    * One `lag` pass per symbol over the ALREADY-AGGREGATED candle frame
    * (cardinality = minutes × symbols, not trades) — pattern scans run on
    * the rollup, never the raw stream.
    */
  def candlePatterns(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("window_start"))
    val o = col("open_price"); val c = col("close_price")
    val po = col("prev_open"); val pc = col("prev_close")
    ohlcv1min(spark, dir)
      .select(col("window_start"), col("symbol"), o, c)
      .withColumn("prev_open", lag(o, 1).over(w))
      .withColumn("prev_close", lag(c, 1).over(w))
      .filter(po.isNotNull)
      .withColumn("pattern",
        when(pc < po && c > o && o <= pc && c >= po, "bullish_engulfing")
          .when(pc > po && c < o && o >= pc && c <= po, "bearish_engulfing"))
      .filter(col("pattern").isNotNull)
      .select(col("symbol"), col("window_start"), col("pattern"),
        po, pc, o, c)
  }

  /** Maximum drawdown per symbol over the minute-close series: the worst
    * peak-to-trough loss, via a running `max` window (order-independent)
    * and a per-row ratio — every step is deterministic double math, no
    * accumulation-order hazard. The running window is per-symbol and
    * ROWS-unbounded-preceding: rank-file state, no second pass.
    */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("window_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ohlcv1min(spark, dir)
      .select(col("window_start"), col("symbol"), col("close_price"))
      .withColumn("peak", max(col("close_price")).over(w))
      .withColumn("drawdown", col("close_price") / col("peak") - 1.0)
      .groupBy(col("symbol"))
      .agg(
        min(col("drawdown")).as("max_drawdown"),
        max(col("peak")).as("peak_price"),
        count(lit(1)).as("n_minutes"))
  }

  /** Historical 5% value-at-risk per symbol over 1-minute close-to-close
    * returns: the exact interpolated 0.05 order statistic of `close/prev
    * −1`. Returns divide DOUBLE by DOUBLE (identical bits on both
    * engines — the candles surface doubles); the percentile is the exact
    * order-statistic form, not a sketch.
    */
  def var95(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("window_start"))
    ohlcv1min(spark, dir)
      .select(col("window_start"), col("symbol"), col("close_price"))
      .withColumn("prev_close", lag(col("close_price"), 1).over(w))
      .filter(col("prev_close").isNotNull && col("prev_close") =!= 0.0)
      .withColumn("ret", col("close_price") / col("prev_close") - 1.0)
      .groupBy(col("symbol"))
      .agg(
        expr("percentile(ret, 0.05)").as("var_5pct"),
        count(lit(1)).as("n_returns"))
  }

  /** 1-minute → 5-minute OHLCV rollup — the multi-granularity mart pattern:
    * coarser candles are re-aggregated FROM the finer rollup, never from raw
    * trades (at 100 TB the 5-min/1-hour/1-day ladder reads minutes × symbols
    * rows, not the event stream; this is why the reference indexes its
    * 1-minute mart time-descending, init.sql:20). Every intermediate is an
    * exact integer — cents and volume units sum losslessly through both
    * aggregation levels, open/close compose as min_by/max_by over the minute
    * key, and VWAP divides the exactly-summed trade value once at the end.
    * The graph is [[graft.streaming.CandleLadder.rollup5min]], the
    * streaming ladder, over the trades with `ts` as `trade_time`; in a
    * batch plan its watermark is a no-op. Both buckets are `window` —
    * FLOOR semantics, so even pre-epoch timestamps land in the right bucket
    * (an integer `div` would truncate toward zero there, putting a
    * 1969-12-31T23:58 minute in the wrong bucket). Two key-local shuffles
    * total. Bounds are TIMESTAMP-typed (`window_start`/`window_end`),
    * matching `ohlcv1min` and the reference mart row (init.sql:7-8) so the
    * 1-min→5-min ladder joins without casts.
    */
  def ohlcv5minRollup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.CandleLadder.rollup5min(
      trades(spark, dir).withColumnRenamed("ts", "trade_time"))

  /** Lag-1 autocorrelation of minute closes per symbol (mean-reversion /
    * momentum signal). Pearson r over (close_t, close_{t−1}) pairs from
    * EXACT integer power sums: closes are 2-decimal by construction, so
    * ×100 is an exact integer and Σx, Σy, Σxy, Σx², Σy² are int64-exact
    * (bounded by minutes·maxCents² ≈ 6e13 here; a deployment at wider
    * spans promotes the sums to DECIMAL). The five sums then combine in
    * DECIMAL(38,0) — n·Σxy−Σx·Σy ≈ 1.3e18 exceeds nothing in decimal,
    * while an int64 product would sit one order from wraparound, where
    * Spark wraps silently and ANSI engines promote — and the final ratio
    * is double math on exact operands: deterministic on any partitioning
    * and any engine. A streaming-float covariance would be neither.
    */
  def autocorrLag1(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("window_start"))
    val d38 = DecimalType(38, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(d38)
    // round() before the integer cast: close×100 is within 1e-10 of an
    // integer but can sit a hair BELOW it (k/100 isn't a binary fraction),
    // and a bare long cast truncates in Spark while ANSI engines round
    ohlcv1min(spark, dir)
      .select(col("window_start"), col("symbol"),
        round(col("close_price") * 100).cast(LongType).as("x"))
      .withColumn("y", lag(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(
        col("symbol"), col("n"),
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast(DoubleType) /
          (sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).cast(DoubleType)) *
           sqrt((d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))).cast(DoubleType))))
          .as("autocorr"))
  }
}
