package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Technical-indicator layer over the 1-minute OHLCV rollup — the analytics
  * a user of the reference pipeline computes downstream of its
  * `trades_1min_agg` mart (reference: spark_processor/processor.py:78-101
  * builds the candles; postgres/init/init.sql:20 indexes them for exactly
  * these trailing-window scans). RSI, Bollinger bands, stochastic %K,
  * on-balance volume, and a dyadic-weight EWMA.
  *
  * Determinism contract (same discipline as [[AggOps.autocorrLag1]]): every
  * indicator works on exact integer cents — closes are 2-decimal by
  * construction so ×100 is an exact long — and every trailing-window sum,
  * min, max, and count is integer arithmetic. Doubles appear only in ONE
  * final division/sqrt sequence per output column, written symbol-for-symbol
  * identically in the oracle SQL, so results are bit-identical on any
  * partitioning and in any engine. A streaming-float `avg().over(...)` would
  * be neither (accumulation order varies with the frame walk).
  *
  * Scale posture: all indicators run on the ALREADY-AGGREGATED candle frame
  * (cardinality = minutes × symbols, not trades), partitioned by symbol —
  * one tiny exchange after the OHLCV shuffle, then embarrassingly parallel
  * per-symbol ROWS-frame walks (rank-file state, single pass, no self-join).
  */
object IndicatorOps {

  /** Candle closes/highs/lows as exact integer cents + integer volume
    * units. round() before the long cast: price×100 sits within 1e-10 of
    * an integer but can land a hair below (k/100 is not a binary
    * fraction); bare casts truncate in Spark and round in ANSI engines.
    */
  private def closes(spark: SparkSession, dir: String): DataFrame =
    AggOps.ohlcv1min(spark, dir).select(
      col("symbol"), col("window_start"),
      round(col("close_price") * 100).cast(LongType).as("x"),
      round(col("high_price") * 100).cast(LongType).as("hi"),
      round(col("low_price") * 100).cast(LongType).as("lo"),
      round(col("total_volume")).cast(LongType)
        .as("vol")) // r17: an explicit symbol repartition here A/B'd SLOWER
                    // (OPTIMIZATION_r17.md, "Measured, deliberately left
                    // alone") — the candle frame is small enough
                    // that the coalesced single-task window beats paying an
                    // uncoalesced exchange; left shared-shape as shipped

  private def bySym = Window.partitionBy(col("symbol")).orderBy(col("window_start"))

  private def dbl(c: Column): Column = c.cast(DoubleType)

  /** RSI(14) in the SMA (Cutler) form: 100·Σgain / (Σgain + Σloss) over the
    * trailing 14 close-to-close moves. The Wilder form is a recursive
    * exponential smoothing over an unbounded history — order-dependent float
    * state no oracle can pin; Cutler's is the standard bounded-window
    * variant and is exact here (gains/losses are integer cents). Emitted
    * only for full 14-move windows; an all-flat window (Σgain+Σloss = 0)
    * surfaces NULL rather than an arbitrary 50/100 convention.
    */
  def rsi14(spark: SparkSession, dir: String): DataFrame = {
    val w14 = bySym.rowsBetween(-13, 0)
    closes(spark, dir)
      .withColumn("diff", col("x") - lag(col("x"), 1).over(bySym))
      .filter(col("diff").isNotNull)
      .withColumn("g", sum(greatest(col("diff"), lit(0L))).over(w14))
      .withColumn("l", sum(greatest(-col("diff"), lit(0L))).over(w14))
      .withColumn("nw", count(lit(1)).over(w14))
      .filter(col("nw") === 14)
      .select(
        col("symbol"), col("window_start"),
        when(col("g") + col("l") =!= 0L,
          dbl(col("g")) * 100.0 / dbl(col("g") + col("l"))).as("rsi"))
  }

  /** Bollinger bands: 20-period SMA of closes ± 2 sample standard
    * deviations. Variance from exact power sums over the frame — the x·x
    * products and the n·Σx² − (Σx)² combination run in DECIMAL(38,0) (the
    * [[pairwiseCorr]] discipline): int64 alone would wrap silently (or
    * abort under ANSI) once a close reaches ~$21M in cents, a magnitude a
    * 100 TB multi-asset feed can legitimately contain. One double
    * sqrt/division sequence at the end. Only full 20-candle windows.
    */
  def bollingerBands(spark: SparkSession, dir: String): DataFrame = {
    val w20 = bySym.rowsBetween(-19, 0)
    val d19 = DecimalType(19, 0)
    def d(c: Column) = c.cast(d19)
    val mid = dbl(col("s1")) / 20.0 / 100.0
    val sd = sqrt(
      (col("s2") * lit(20) - d(col("s1")) * d(col("s1"))).cast(DoubleType) / 380.0)
    closes(spark, dir)
      .withColumn("s1", sum(col("x")).over(w20))
      .withColumn("s2", sum(d(col("x")) * d(col("x"))).over(w20))
      .withColumn("nw", count(lit(1)).over(w20))
      .filter(col("nw") === 20)
      .select(
        col("symbol"), col("window_start"),
        mid.as("sma"),
        (mid + lit(2.0) * sd / 100.0).as("upper_band"),
        (mid - lit(2.0) * sd / 100.0).as("lower_band"))
  }

  /** Stochastic oscillator %K(14): where the close sits inside the trailing
    * 14-candle [low, high] band — the band from candle LOWS and HIGHS (the
    * standard %K), not closes. Window min/max over integer cents, one
    * final division; a flat band (high = low) surfaces NULL.
    */
  def stochOsc(spark: SparkSession, dir: String): DataFrame = {
    val w14 = bySym.rowsBetween(-13, 0)
    closes(spark, dir)
      .withColumn("hi14", max(col("hi")).over(w14))
      .withColumn("lo14", min(col("lo")).over(w14))
      .withColumn("nw", count(lit(1)).over(w14))
      .filter(col("nw") === 14)
      .select(
        col("symbol"), col("window_start"),
        when(col("hi14") =!= col("lo14"),
          dbl((col("x") - col("lo14")) * 100L) / dbl(col("hi14") - col("lo14")))
          .as("stoch_k"))
  }

  /** On-balance volume: running Σ of volume signed by the close-to-close
    * direction — the classic volume-flow momentum line. Pure int64
    * end-to-end (volumes are integer units, signs are ±1/0), so the
    * cumulative window is exact under any partitioning; the first candle
    * of a symbol contributes 0 (no prior close).
    */
  def obv(spark: SparkSession, dir: String): DataFrame =
    closes(spark, dir)
      .withColumn("diff", col("x") - lag(col("x"), 1).over(bySym))
      .withColumn("signed",
        when(col("diff") > 0L, col("vol"))
          .when(col("diff") < 0L, -col("vol"))
          .otherwise(0L))
      .withColumn("obv",
        sum(col("signed")).over(bySym.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("symbol"), col("window_start"), col("obv"))

  /** EWMA of closes with dyadic weights: α = 1/2 truncated to a 16-candle
    * window, i.e. weights 2^15, 2^14, …, 2^0 over the trailing closes,
    * normalized by 2^16 − 1. Dyadic weights make the weighted numerator an
    * EXACT integer (Σ x·2^k ≤ cents·2^16 « 2^63) — the one EWMA an oracle
    * can hash-match, where the textbook recursive form accumulates floats
    * in stream order. The 16 lag terms unroll into a single projection —
    * no self-join, one window pass.
    */
  def ewmaPrice(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val num = (0 until K)
      .map(k =>
        (if (k == 0) col("x") else lag(col("x"), k).over(bySym)) *
          lit(1L << (K - 1 - k)))
      .reduce(_ + _)
    closes(spark, dir)
      .withColumn("num", num)
      .withColumn("x_oldest", lag(col("x"), K - 1).over(bySym))
      .filter(col("x_oldest").isNotNull)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("num")) / 65535.0 / 100.0).as("ewma"))
  }

  /** ATR(14), Cutler-style: the 14-candle simple average of the TRUE range
    * — max(high−low, |high−prevClose|, |low−prevClose|), the range measure
    * that counts an overnight gap as volatility where high−low alone
    * misses it. True ranges are exact integer cents (greatest/abs of
    * integer differences), the window sum is exact, and the only double is
    * the final /14/100; Wilder's recursive smoothing is unbounded float
    * state no oracle can pin (same reasoning as [[rsi14]]).
    */
  def atr14(spark: SparkSession, dir: String): DataFrame = {
    val w14 = bySym.rowsBetween(-13, 0)
    closes(spark, dir)
      .withColumn("pc", lag(col("x"), 1).over(bySym))
      .filter(col("pc").isNotNull)
      .withColumn("tr", greatest(
        col("hi") - col("lo"),
        abs(col("hi") - col("pc")),
        abs(col("lo") - col("pc"))))
      .withColumn("s", sum(col("tr")).over(w14))
      .withColumn("nw", count(lit(1)).over(w14))
      .filter(col("nw") === 14)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("s")) / 14.0 / 100.0).as("atr"))
  }

  /** MFI(14) — the volume-weighted RSI: money flow = typical price ×
    * volume, split into positive/negative by the typical-price direction,
    * then 100·pos/(pos+neg) over the trailing 14 moves. Typical price
    * (high+low+close)/3 is kept as its 3×-scaled integer (hi+lo+x cents)
    * — the /3 cancels in the ratio — and each flow product tp3·vol plus
    * both window sums run in DECIMAL(38,0) (the [[pairwiseCorr]]
    * discipline): a high-price high-volume candle overflows the int64
    * product long before it stresses decimal. One final division, NULL on
    * a flow-less window.
    */
  def mfi14(spark: SparkSession, dir: String): DataFrame = {
    val w14 = bySym.rowsBetween(-13, 0)
    val d19 = DecimalType(19, 0)
    def d(c: Column) = c.cast(d19)
    val zero = lit(0L).cast(DecimalType(38, 0))
    closes(spark, dir)
      .withColumn("tp3", col("hi") + col("lo") + col("x"))
      .withColumn("prev", lag(col("tp3"), 1).over(bySym))
      .filter(col("prev").isNotNull)
      .withColumn("pos",
        when(col("tp3") > col("prev"), d(col("tp3")) * d(col("vol"))).otherwise(zero))
      .withColumn("neg",
        when(col("tp3") < col("prev"), d(col("tp3")) * d(col("vol"))).otherwise(zero))
      .withColumn("p14", sum(col("pos")).over(w14))
      .withColumn("n14", sum(col("neg")).over(w14))
      .withColumn("nw", count(lit(1)).over(w14))
      .filter(col("nw") === 14)
      .select(
        col("symbol"), col("window_start"),
        when(col("p14") + col("n14") =!= 0,
          dbl(col("p14")) * 100.0 / dbl(col("p14") + col("n14"))).as("mfi"))
  }

  /** Time-series pattern search: the 20 sliding 8-candle close windows most
    * similar to a z-normalized query shape (here the monotone riser), by
    * squared Euclidean distance in z-space — subsequence similarity search
    * in the one shape that scales: each window z-normalizes against its OWN
    * exact integer sums (one window pass, 8 shared lags), distance to the
    * broadcast-literal pattern is a fixed 8-term expression, and the global
    * top-k compiles to TakeOrderedAndProject — no all-pairs matrix, no
    * global sort. Every distance is an identical IEEE chain over exact
    * integer inputs, so the oracle hash-matches bit-for-bit; flat windows
    * (zero variance) have no z-shape and are skipped.
    */
  def tsPatternSearch(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    // z-normalized monotone riser: (i − 3.5)/√5.25, i = 0..7 (oldest→newest)
    val q = (0 until K).map(i => (i - 3.5) / math.sqrt(5.25))
    val xs = (0 until K).map(k =>
      if (k == K - 1) col("x") else lag(col("x"), K - 1 - k).over(bySym))
    closes(spark, dir)
      .select(Seq(col("symbol"), col("window_start")) ++
        xs.zipWithIndex.map { case (c, i) => c.as(s"x$i") }: _*)
      .filter(col("x0").isNotNull)
      .withColumn("s1", (0 until K).map(i => col(s"x$i")).reduce(_ + _))
      .withColumn("s2", (0 until K).map(i => col(s"x$i") * col(s"x$i")).reduce(_ + _))
      .filter(col("s2") * lit(K.toLong) - col("s1") * col("s1") =!= 0L)
      .withColumn("m", dbl(col("s1")) / 8.0)
      .withColumn("sd",
        sqrt((dbl(col("s2")) * 8.0 - dbl(col("s1")) * dbl(col("s1"))) / 64.0))
      .withColumn("dist",
        (0 until K).map { i =>
          val z = (dbl(col(s"x$i")) - col("m")) / col("sd") - lit(q(i))
          z * z
        }.reduce(_ + _))
      .select(col("symbol"), col("window_start"), col("dist"))
      .orderBy(col("dist"), col("symbol"), col("window_start"))
      .limit(20)
  }

  /** Cross-symbol correlation matrix: Pearson r of minute closes for every
    * unordered symbol pair, over the minutes where both symbols traded —
    * the portfolio co-movement table. One self-equi-join on window_start
    * (symbol count is bounded, so the pair fan-out is a small constant),
    * then the same exact-integer power-sum discipline as
    * [[AggOps.autocorrLag1]]: int64 sums per pair, combined in
    * DECIMAL(38,0) (n·Σxy − Σx·Σy overflows int64 at sf0.1 spans), one
    * final double division sequence.
    */
  def pairwiseCorr(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def d(c: Column) = c.cast(d38)
    val c = closes(spark, dir)
    val a = c.select(col("symbol").as("sym_a"), col("window_start"), col("x").as("xa"))
    val b = c.select(col("symbol").as("sym_b"), col("window_start"), col("x").as("xb"))
    a.join(b, Seq("window_start"))
      .filter(col("sym_a") < col("sym_b"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
      .select(
        col("sym_a"), col("sym_b"), col("n"),
        // degenerate pairs (a constant side, or a single overlap minute)
        // have zero variance: NULL correlation, not an ANSI 22012 abort
        when(
          d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")) =!= 0 &&
          d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")) =!= 0,
          (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast(DoubleType) /
            (sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).cast(DoubleType)) *
             sqrt((d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))).cast(DoubleType))))
          .as("corr"))
  }

  /** Z-score outlier flagging over minute closes: rows whose close sits
    * more than 3 sample standard deviations from the symbol's mean. The
    * per-symbol moments come from exact int64 power sums (each sum
    * individually < 2^53 so its double conversion is exact — the
    * [[StatsOps.statsAgg]] discipline), the moments combine in pure IEEE
    * double, and the 3σ comparison is then bit-identical in any engine.
    * Plan shape: one aggregation over the candle frame + a broadcast join
    * back — the tiny per-symbol stats frame never shuffles the series.
    */
  def zscoreAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val c = closes(spark, dir)
    val stats = c.groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val n = dbl(col("n")); val sx = dbl(col("sx")); val sxx = dbl(col("sxx"))
    val mean = sx / n
    val sd = sqrt((n * sxx - sx * sx) / (n * (n - lit(1.0))))
    c.join(broadcast(stats), "symbol")
      // constant or single-candle symbols have sd = 0 (or n−1 = 0): no
      // z-score exists — NULL fails the 3σ predicate instead of aborting
      .withColumn("z",
        when(col("n") > 1L && n * sxx - sx * sx =!= 0.0,
          (dbl(col("x")) - mean) / sd))
      .filter(abs(col("z")) > 3.0)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("x")) / 100.0).as("close_price"),
        col("z"))
  }

  /** MACD(12, 26, 9) in the bounded-window (SMA) oscillator form — the
    * same declared divergence as [[rsi14]]/[[atr14]]: the textbook EMAs
    * are unbounded recursive float state no oracle can pin, so fast and
    * slow legs are the 12- and 26-candle simple means. The whole ladder
    * stays integer until the final division: macd_num = 26·Σ12 − 12·Σ26
    * (common denominator 312), signal_num = Σ9(macd_num) (denominator
    * 2808), hist_num = 9·macd_num − signal_num — three outputs, each ONE
    * exact-int-to-double division. Plan: one window pass per symbol over
    * the candle frame, no self-joins.
    */
  def macd(spark: SparkSession, dir: String): DataFrame = {
    val w12 = bySym.rowsBetween(-11, 0)
    val w26 = bySym.rowsBetween(-25, 0)
    val w9  = bySym.rowsBetween(-8, 0)
    closes(spark, dir)
      .withColumn("s12", sum(col("x")).over(w12))
      .withColumn("s26", sum(col("x")).over(w26))
      .withColumn("n26", count(lit(1)).over(w26))
      .filter(col("n26") === 26)
      .withColumn("macd_num", lit(26L) * col("s12") - lit(12L) * col("s26"))
      .withColumn("sig_num", sum(col("macd_num")).over(w9))
      .withColumn("n9", count(lit(1)).over(w9))
      .filter(col("n9") === 9)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("macd_num")) / 312.0 / 100.0).as("macd"),
        (dbl(col("sig_num")) / 2808.0 / 100.0).as("signal"),
        (dbl(lit(9L) * col("macd_num") - col("sig_num")) / 2808.0 / 100.0)
          .as("histogram"))
  }

  /** Donchian channel (20): trailing 20-candle highest high / lowest low
    * and their midpoint — the breakout band. Pure integer min/max over one
    * ROWS frame; the midpoint keeps (up+dn) integer and divides once.
    */
  def donchianChannels(spark: SparkSession, dir: String): DataFrame = {
    val w20 = bySym.rowsBetween(-19, 0)
    closes(spark, dir)
      .withColumn("up", max(col("hi")).over(w20))
      .withColumn("dn", min(col("lo")).over(w20))
      .withColumn("nw", count(lit(1)).over(w20))
      .filter(col("nw") === 20)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("up")) / 100.0).as("upper"),
        (dbl(col("dn")) / 100.0).as("lower"),
        (dbl(col("up") + col("dn")) / 200.0).as("mid"))
  }

  /** Ichimoku cloud (9/26/52 candles): tenkan/kijun midpoints, the two
    * senkou cloud spans displaced 26 candles FORWARD (expressed as lag-26
    * of the span inputs — at row t the cloud overhead was computed at
    * t−26), and the chikou lagging close displaced backward (lead-26).
    * Every line is a midpoint of integer-cents window extremes: the int
    * sums stay exact and each output is ONE division by a power-of-ten ×
    * 2 constant (200/400), so parity is arithmetic, not libm. Rows emit
    * once tenkan/kijun windows are full AND the lagged 52-window was full
    * at t−26; chikou is NULL in the trailing 26 rows on both engines.
    * One symbol-partitioned window pass, same single exchange as the
    * rest of the indicator family.
    */
  def ichimoku(spark: SparkSession, dir: String): DataFrame = {
    val w9 = bySym.rowsBetween(-8, 0)
    val w26 = bySym.rowsBetween(-25, 0)
    val w52 = bySym.rowsBetween(-51, 0)
    closes(spark, dir)
      .withColumn("u9", max(col("hi")).over(w9))
      .withColumn("d9", min(col("lo")).over(w9))
      .withColumn("u26", max(col("hi")).over(w26))
      .withColumn("d26", min(col("lo")).over(w26))
      .withColumn("u52", max(col("hi")).over(w52))
      .withColumn("d52", min(col("lo")).over(w52))
      .withColumn("nw26", count(lit(1)).over(w26))
      .withColumn("nw52", count(lit(1)).over(w52))
      .withColumn("sa_int",
        lag(col("u9") + col("d9") + col("u26") + col("d26"), 26).over(bySym))
      .withColumn("sb_int", lag(col("u52") + col("d52"), 26).over(bySym))
      .withColumn("nw52_lag", lag(col("nw52"), 26).over(bySym))
      .withColumn("chikou_int", lead(col("x"), 26).over(bySym))
      .filter(col("nw26") === 26 && col("nw52_lag") === 52)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("u9") + col("d9")) / 200.0).as("tenkan"),
        (dbl(col("u26") + col("d26")) / 200.0).as("kijun"),
        (dbl(col("sa_int")) / 400.0).as("senkou_a"),
        (dbl(col("sb_int")) / 200.0).as("senkou_b"),
        (dbl(col("chikou_int")) / 100.0).as("chikou"))
  }

  /** Anchored (intraday running) VWAP: Σ price·volume / Σ volume from the
    * day's first candle to the current one, re-anchoring at each day
    * boundary — the execution benchmark every trading desk plots. The
    * price·volume flow products and their running sums ride
    * DECIMAL(38,0)/HUGEINT (a $21M-cents close × volume cumsum can pass
    * 2^53, where double would silently round — the [[mfi14]] lesson);
    * the division happens ONCE at the boundary, NULL-guarded for a
    * zero-volume prefix. One (symbol, day)-partitioned running window —
    * partitions are intraday slices, so the sort is day-bounded.
    */
  def anchoredVwap(spark: SparkSession, dir: String): DataFrame = {
    // the day anchor is materialized as a COLUMN before the window: an
    // expression-valued partitionBy is re-projected per window function,
    // splitting the two cumsums onto two (symbol, _w0) exchanges —
    // PlanSpec pins the single shared shuffle
    val wDay = Window
      .partitionBy(col("symbol"), col("day"))
      .orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    closes(spark, dir)
      .withColumn("day", date_trunc("DAY", col("window_start")))
      .withColumn("pv",
        col("x").cast(DecimalType(19, 0)) * col("vol").cast(DecimalType(19, 0)))
      .select(
        col("symbol"), col("window_start"),
        sum(col("pv")).over(wDay).as("cum_pv"),
        sum(col("vol")).over(wDay).as("cum_v"))
      .select(
        col("symbol"), col("window_start"),
        when(col("cum_v") =!= 0,
          dbl(col("cum_pv")) / dbl(col("cum_v")) / 100.0).as("avwap"),
        col("cum_v").as("cum_volume"))
  }

  /** Keltner channel: 20-candle typical-price center ± 2 × the 10-candle
    * mean true range. Typical price rides as its 3×-scaled integer
    * (hi+lo+x, the [[mfi14]] trick), true range as in [[atr14]]; each band
    * is a SUM of two single exact-int divisions (c20/6000 ± t10/500),
    * written symbol-for-symbol identically in the oracle. One filtered
    * window pass per symbol — the lag(close) row drop happens BEFORE both
    * frames so engine and oracle walk identical row sets.
    */
  def keltnerChannels(spark: SparkSession, dir: String): DataFrame = {
    val w20 = bySym.rowsBetween(-19, 0)
    val w10 = bySym.rowsBetween(-9, 0)
    closes(spark, dir)
      .withColumn("pc", lag(col("x"), 1).over(bySym))
      .filter(col("pc").isNotNull)
      .withColumn("tp3", col("hi") + col("lo") + col("x"))
      .withColumn("tr", greatest(
        col("hi") - col("lo"),
        abs(col("hi") - col("pc")),
        abs(col("lo") - col("pc"))))
      .withColumn("c20", sum(col("tp3")).over(w20))
      .withColumn("t10", sum(col("tr")).over(w10))
      .withColumn("nw", count(lit(1)).over(w20))
      .filter(col("nw") === 20)
      .select(
        col("symbol"), col("window_start"),
        (dbl(col("c20")) / 6000.0).as("center"),
        (dbl(col("c20")) / 6000.0 + dbl(col("t10")) / 500.0).as("upper"),
        (dbl(col("c20")) / 6000.0 - dbl(col("t10")) / 500.0).as("lower"))
  }

  /** Realized volatility (30): trailing sample standard deviation of the
    * close-to-close price CHANGE in cents — log-free by oracle-determinism
    * design (ln is not correctly-rounded across libm implementations; see
    * the engine's no-log discipline), so this is absolute-change
    * volatility, the right units for a fixed-tick market-making book.
    * Power sums promote to DECIMAL(38,0) ([[pairwiseCorr]] discipline):
    * a large gap squared times 30 stresses int64. One sqrt of one exact
    * division.
    */
  def realizedVol(spark: SparkSession, dir: String): DataFrame = {
    val w30 = bySym.rowsBetween(-29, 0)
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    def d(c: Column) = c.cast(d38)
    closes(spark, dir)
      .withColumn("dx", col("x") - lag(col("x"), 1).over(bySym))
      .filter(col("dx").isNotNull)
      .withColumn("s1", sum(col("dx")).over(w30))
      .withColumn("s2", sum(col("dx").cast(d19) * col("dx").cast(d19)).over(w30))
      .withColumn("nw", count(lit(1)).over(w30))
      .filter(col("nw") === 30)
      .select(
        col("symbol"), col("window_start"),
        (sqrt(dbl(lit(30L).cast(d38) * col("s2") - d(col("s1")) * d(col("s1"))) / 870.0)
          / 100.0).as("realized_vol"))
  }

  /** Rolling beta (30) of each symbol's close-to-close change against the
    * benchmark series (the `purchase` stream — the highest-volume symbol
    * in the fixture, standing in for an index leg): β = cov(dS, dB) /
    * var(dB) over the trailing 30 co-traded minutes. Per-symbol diffs are
    * computed BEFORE the benchmark equi-join on window_start (so a gap in
    * one series never fabricates a cross-minute diff), the join's right
    * side is a single symbol's candles — broadcast-sized at any scale —
    * and the window walk is per-symbol rank-file. Numerator and
    * denominator are exact DECIMAL(38,0) moment combinations; one final
    * division, NULL when the benchmark is locally flat.
    */
  def rollingBeta(spark: SparkSession, dir: String): DataFrame = {
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    def d(c: Column) = c.cast(d38)
    val diffs = closes(spark, dir)
      .withColumn("dx", col("x") - lag(col("x"), 1).over(bySym))
      .filter(col("dx").isNotNull)
      .select(col("symbol"), col("window_start"), col("dx"))
    val bench = diffs.filter(col("symbol") === "purchase")
      .select(col("window_start"), col("dx").as("db"))
    val w30 = bySym.rowsBetween(-29, 0)
    diffs.join(broadcast(bench), Seq("window_start"))
      .withColumn("sxy", sum(col("dx").cast(d19) * col("db").cast(d19)).over(w30))
      .withColumn("sbb", sum(col("db").cast(d19) * col("db").cast(d19)).over(w30))
      .withColumn("sx", sum(col("dx")).over(w30))
      .withColumn("sb", sum(col("db")).over(w30))
      .withColumn("nw", count(lit(1)).over(w30))
      .filter(col("nw") === 30)
      .select(
        col("symbol"), col("window_start"),
        when(lit(30L).cast(d38) * col("sbb") - d(col("sb")) * d(col("sb")) =!= 0,
          dbl(lit(30L).cast(d38) * col("sxy") - d(col("sx")) * d(col("sb"))) /
            dbl(lit(30L).cast(d38) * col("sbb") - d(col("sb")) * d(col("sb"))))
          .as("beta"))
  }

  /** Lead–lag cross-correlation: Pearson r between each symbol's minute
    * change and the benchmark's change shifted by −3…+3 minutes (positive
    * lag = benchmark leads), over ALL co-traded minutes — the price-
    * discovery table ("who moves first"). The 7-lag fan-out explodes on
    * the LEFT side only, the join stays a pure equi-join on an integer
    * minute key, and the benchmark side broadcasts. Exact int64 minute
    * keys, DECIMAL(38,0) moment combines, sqrt-only final formula
    * ([[pairwiseCorr]] discipline).
    */
  def leadLagCorr(spark: SparkSession, dir: String): DataFrame = {
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    def d(c: Column) = c.cast(d38)
    val minuteKey = expr(
      "timestampdiff(MINUTE, TIMESTAMP '1970-01-01 00:00:00', window_start)")
    val diffs = closes(spark, dir)
      .withColumn("dx", col("x") - lag(col("x"), 1).over(bySym))
      .filter(col("dx").isNotNull)
      .withColumn("m", minuteKey)
      .select(col("symbol"), col("m"), col("dx"))
    val bench = diffs.filter(col("symbol") === "purchase")
      .select(col("m").as("bm"), col("dx").as("db"))
    diffs
      .withColumn("lag_min", explode(array((-3 to 3).map(l => lit(l.toLong)): _*)))
      .withColumn("bkey", col("m") - col("lag_min"))
      .join(broadcast(bench), col("bkey") === col("bm"))
      .groupBy(col("symbol"), col("lag_min"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("db")).as("sy"),
        sum(col("dx").cast(d19) * col("db").cast(d19)).as("sxy"),
        sum(col("dx").cast(d19) * col("dx").cast(d19)).as("sxx"),
        sum(col("db").cast(d19) * col("db").cast(d19)).as("syy"))
      .select(
        col("symbol"), col("lag_min"), col("n"),
        when(
          d(col("n")) * col("sxx") - d(col("sx")) * d(col("sx")) =!= 0 &&
          d(col("n")) * col("syy") - d(col("sy")) * d(col("sy")) =!= 0,
          dbl(d(col("n")) * col("sxy") - d(col("sx")) * d(col("sy"))) /
            (sqrt(dbl(d(col("n")) * col("sxx") - d(col("sx")) * d(col("sx")))) *
             sqrt(dbl(d(col("n")) * col("syy") - d(col("sy")) * d(col("sy"))))))
          .as("corr"))
  }

  /** Volume profile: total traded volume per $5 price bucket per symbol —
    * the support/resistance histogram. Integer close cents FLOOR-divide
    * into buckets via the engine-neutral formula
    * `(x − ((x % 500) + 500) % 500) div 500`: the euclidean-mod subtract
    * makes the dividend an exact multiple of 500, where truncating `div`
    * (Spark) and flooring `//` (DuckDB) agree for ANY sign — the bare
    * `div`/`//` pair silently diverges on a negative cents value (the
    * price_roc lesson: `value` is an arbitrary double incl. 0.00). Then
    * ONE hash aggregation whose shuffle carries (symbol, bucket) pairs —
    * cardinality price-range/5 × symbols, independent of row count.
    */
  def volumeProfile(spark: SparkSession, dir: String): DataFrame =
    closes(spark, dir)
      .withColumn("bucket", expr("(x - ((x % 500) + 500) % 500) div 500"))
      .groupBy(col("symbol"), col("bucket"))
      .agg(
        count(lit(1)).as("n_candles"),
        sum(col("vol")).as("total_volume"))
      .select(
        col("symbol"), col("bucket"),
        (dbl(col("bucket")) * 5.0).as("price_lo"),
        col("n_candles"), col("total_volume"))

  /** CCI(20) — Commodity Channel Index: (tp − SMA(tp)) / (0.015 · mean
    * deviation), scored entirely in scaled integers: with tp as its
    * 3×-scaled integer (hi+lo+x), both `20·tp3 − Σtp3` and the window sum
    * of |20·tp3ᵢ − Σtp3| are EXACT, the /20s and /3s cancel in the ratio,
    * and the one output division carries the 0.015 constant. The mean
    * deviation needs the window sum AT each row of |tp3ᵢ − sma| where sma
    * itself is the CURRENT row's — so the 20 lagged tp3 terms unroll into
    * a single projection exactly like [[ewmaPrice]]'s dyadic unroll (20
    * shared lags, one window pass, no self-join). NULL on a flat window
    * (zero deviation).
    */
  def cci20(spark: SparkSession, dir: String): DataFrame = {
    val K = 20
    val tps = (0 until K).map(k =>
      if (k == K - 1) col("tp3") else lag(col("tp3"), K - 1 - k).over(bySym))
    val frame = closes(spark, dir)
      .withColumn("tp3", col("hi") + col("lo") + col("x"))
      .select(Seq(col("symbol"), col("window_start")) ++
        tps.zipWithIndex.map { case (c, i) => c.as(s"t$i") }: _*)
      .filter(col("t0").isNotNull)
      .withColumn("s20", (0 until K).map(i => col(s"t$i")).reduce(_ + _))
      .withColumn("dev",
        (0 until K).map(i => abs(lit(K.toLong) * col(s"t$i") - col("s20")))
          .reduce(_ + _))
    // cci = (tp − sma)/(0.015·md) = (20·tp − s20)·20 / (0.015·dev) with
    // dev = Σ|20·tpᵢ − s20| (the /20·20 of md cancels one 20 in the
    // numerator) — exact ints, one division
    frame.select(
      col("symbol"), col("window_start"),
      when(col("dev") =!= 0L,
        dbl((lit(K.toLong) * col(s"t${K - 1}") - col("s20")) * lit(K.toLong)) /
          (lit(0.015) * dbl(col("dev")))).as("cci"))
  }

  /** Williams %R(14): (highestHigh − close) / (highestHigh − lowestLow)
    * × −100 over the trailing 14 candles — the inverted complement of
    * [[stochOsc]]'s %K. Integer band arithmetic, one division, NULL on a
    * flat band.
    */
  def williamsR(spark: SparkSession, dir: String): DataFrame = {
    val w14 = bySym.rowsBetween(-13, 0)
    closes(spark, dir)
      .withColumn("hh", max(col("hi")).over(w14))
      .withColumn("ll", min(col("lo")).over(w14))
      .withColumn("nw", count(lit(1)).over(w14))
      .filter(col("nw") === 14)
      .select(
        col("symbol"), col("window_start"),
        when(col("hh") =!= col("ll"),
          dbl(col("hh") - col("x")) * -100.0 / dbl(col("hh") - col("ll")))
          .as("williams_r"))
  }

  /** Price rate-of-change (12): 100 · (close − close₁₂) / close₁₂ — the
    * momentum baseline. One lag, one division. The sf0.1 fixture proved a
    * base close CAN be exactly 0.00 (value is an arbitrary double, not a
    * real price), so the divisor is NULL-guarded — under Spark 4 ANSI an
    * unguarded /0 aborts the whole query, and NULL (undefined momentum
    * from a zero base) is the declared semantics.
    */
  def priceRoc(spark: SparkSession, dir: String): DataFrame =
    closes(spark, dir)
      .withColumn("x12", lag(col("x"), 12).over(bySym))
      .filter(col("x12").isNotNull)
      .select(
        col("symbol"), col("window_start"),
        when(col("x12") =!= 0L,
          dbl(col("x") - col("x12")) * 100.0 / dbl(col("x12"))).as("roc"))

  /** Drawdown duration: per symbol, the longest and total run of candles
    * strictly below the running maximum close — how LONG the book sits
    * underwater, the complement of [[AggOps.maxDrawdown]]'s how-deep. Runs
    * are delimited by the classic gaps-and-islands group key (a running
    * count of new-high candles); everything is integer window arithmetic
    * in two per-symbol passes plus one tiny per-symbol aggregate.
    */
  def drawdownDuration(spark: SparkSession, dir: String): DataFrame = {
    val unb = bySym.rowsBetween(Window.unboundedPreceding, 0)
    closes(spark, dir)
      .withColumn("runmax", max(col("x")).over(unb))
      .withColumn("uw", (col("x") < col("runmax")).cast(LongType))
      .withColumn("grp", sum(lit(1L) - col("uw")).over(unb))
      .groupBy(col("symbol"), col("grp"))
      .agg(sum(col("uw")).as("run_len"))
      .groupBy(col("symbol"))
      .agg(
        max(col("run_len")).as("max_underwater"),
        sum(col("run_len")).as("total_underwater"),
        count(when(col("run_len") > 0, lit(1))).as("n_drawdowns"))
  }
}
