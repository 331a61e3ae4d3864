package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** Statistical / analytical operator surface: moment statistics, exact
  * percentiles, ntile bucketing, gap-based sessionization, grouping sets,
  * pivot. All deterministic and DuckDB-oracle-checkable.
  *
  * Determinism note: moment statistics (stddev/corr) are computed from
  * DECIMAL-exact power sums with ONE final double-precision step, instead
  * of the built-in streaming-moment aggregates, whose float accumulation
  * order varies with partitioning — the decimal route gives identical bits
  * on any cluster layout AND in the oracle engine.
  */
object StatsOps {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Per-event-type moment statistics from exact decimal power sums:
    * mean, sample stddev/variance (n·Σx² − (Σx)² form), plus correlation
    * between value and the props.k payload.
    */
  /** Moment statistics from decimal-exact power sums. The sums are
    * decimal (order-independent); each INDIVIDUAL sum converts to double
    * exactly (unscaled magnitude stays under 2^53 at these spans) and the
    * moments then combine in pure IEEE double — combining in DECIMAL
    * first and converting the wide result diverges in the last ulp across
    * engines once the unscaled numerator passes 2^53 (BigDecimal→double
    * vs int128-scaled division; hit sf0.1's stddev before this shape).
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    val x = dec2(col("value"))
    val y = get_json_object(col("props"), "$.k").cast(DecimalType(18, 2))
    def d(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(y).as("sy"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(
        col("event_type"), col("n"),
        (d(col("sx")) / col("n")).as("mean_value"),
        sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
          / (col("n") * (col("n") - 1))).as("stddev_value"),
        ((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
          / (col("n") * (col("n") - 1))).as("var_value"),
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
          / sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
            * (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("corr_value_k"))
  }

  /** Least-squares linear regression (slope/intercept of value over
    * props.k) per event type, from the same decimal-exact power sums as
    * [[statsAgg]] — the closed form regr_slope/regr_intercept would
    * stream in floats; this is deterministic on any partitioning.
    */
  def linregAgg(spark: SparkSession, dir: String): DataFrame = {
    val y = dec2(col("value"))
    val x = get_json_object(col("props"), "$.k").cast(DecimalType(18, 2))
    def d(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    // same per-sum double conversion as statsAgg: each sum is exact under
    // 2^53; the closed-form combination runs in engine-identical double
    val slope = (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
      (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(y).as("sy"), sum(x * y).as("sxy"))
      .select(
        col("event_type"), col("n"),
        slope.as("slope"),
        ((d(col("sy")) - slope * d(col("sx"))) / col("n")).as("intercept"))
  }

  /** Exact interpolated percentiles (p50/p90/p99) of lineitem quantity per
    * returnflag. `percentile` is the exact order-statistic form — both
    * engines interpolate linearly between adjacent order statistics.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("percentile(l_quantity, 0.99)").as("p99"))

  /** Winsorization audit — the outlier-clamp every robust-statistics prep
    * step runs before model features: per group, the exact p05/p95 bounds
    * plus how many values each tail would clamp. Two passes by necessity
    * (the bound must exist before a row can be compared to it) but the
    * second is a BROADCAST join of a |groups|-row bounds table back onto
    * the fact — the series never reshuffles. Output is counts + bounds
    * only: exact longs and interpolated order statistics, both
    * engine-identical; a winsorized SUM of doubles would be
    * order-dependent, so the op deliberately reports the clamp census, not
    * a float aggregate.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val bounds = l.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.05)").as("p05"),
        expr("percentile(l_quantity, 0.95)").as("p95"))
    l.join(broadcast(bounds), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") < col("p05"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("l_quantity") > col("p95"), 1L).otherwise(0L)).as("n_clipped_high"),
        min(col("p05")).as("p05"),
        min(col("p95")).as("p95"))
  }

  /** Market-basket co-occurrence: part pairs appearing in the same order at
    * least twice, strongest first — the association-rule primitive. The
    * self-join fan-out is per-ORDER pair expansion, bounded by basket size
    * squared (baskets of ≤17 parts at sf0.1, growing with SF — FIXTURES.md),
    * not corpus squared; the shuffle carries (orderkey, partkey) ids, the pair
    * aggregation is hash-partial, and the global top-100 compiles to
    * TakeOrderedAndProject. `part_a < part_b` orients pairs so each
    * unordered pair counts once.
    */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    // r17 note: the copurchaseEdges set+explode rewrite was A/B'd here too
    // (OPTIMIZATION_r17.md, "Measured, deliberately left alone") and LOST
    // narrowly (1.41 vs 1.50 s interleaved) — unlike the edge build, this op's self-join runs on the distinct's
    // own exchange, so it was never scan-serialized. Kept as-is.
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = items.select(col("l_orderkey").as("ok_b"), col("l_partkey").as("part_b"))
    a.join(b, col("l_orderkey") === col("ok_b") && col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** Approximate percentiles via the Greenwald-Khanna sketch
    * (`approx_percentile`) — the mergeable-summary form that scales: exact
    * `percentile` buffers every value per group, the GK sketch is bounded
    * memory and merges map-side. Estimator-specific output → no SQL oracle;
    * ApproxOpsSpec bounds it against the exact op's order statistics.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("p50"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("p90"),
        expr("approx_percentile(l_quantity, 0.99, 1000)").as("p99"))

  /** Ranking-function family (rank / dense_rank / percent_rank / cume_dist)
    * per event_type over a COARSE ordering key (value deciles) so tie
    * semantics — where the four functions differ — are actually exercised.
    * percent_rank/cume_dist surface as exact integer-ratio doubles,
    * identical IEEE divisions in any engine.
    */
  def windowRankFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ord"))
    Tables.events(spark, dir)
      .withColumn("ord", floor(col("value") / 10))
      .select(
        col("event_id"),
        col("event_type"),
        col("ord"),
        rank().over(w).cast(IntegerType).as("rk"),
        dense_rank().over(w).cast(IntegerType).as("drk"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"))
  }

  /** RANGE-frame window: per order, the count and sum of all orders whose
    * totalprice lies within 1000 BELOW the current row's — a value-based
    * frame (RANGE), not a position-based one (ROWS, see moving_avg). Range
    * frames are tie-deterministic by construction: the frame is defined by
    * the ordering VALUE, so peer rows see identical frames under any
    * partitioning.
    */
  def rangeFrameSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice")).rangeBetween(-1000, 0)
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice"),
        count(lit(1)).over(w).as("n_nearby"),
        sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("sum_nearby"))
  }

  /** ntile(4) quartile bucketing of orders by totalprice (deterministic
    * total order via the orderkey tiebreak), with per-bucket stats.
    *
    * NOT `ntile(4).over(Window.orderBy(...))`: a no-partition window
    * funnels the whole table through ONE task's sort — the textbook
    * single-task bottleneck at scale. Instead the global rank is computed
    * distributed, with every shared quantity a DETERMINISTIC literal so no
    * two passes can disagree on row placement (the repartitionByRange +
    * spark_partition_id alternative re-samples range bounds per physical
    * exchange — cross-subtree agreement would hang on exchange reuse):
    *
    *  1. ~equi-depth price boundaries from one `approx_percentile` pass,
    *     collected as a LITERAL array (index-build-style bounded driver
    *     lookup, ≤ nSlices doubles — boundary quality only affects
    *     balance, never correctness);
    *  2. slice = pure expression of the row's price vs the literal
    *     boundaries — monotone in the price-desc ordering, identical in
    *     every pass by construction;
    *  3. per-slice counts (one tiny agg) → cumulative offsets + total as
    *     a LITERAL map; global rank = offset(slice) + in-slice
    *     `row_number` over a slice-PARTITIONED window (partition-parallel
    *     — the one full shuffle in the plan);
    *  4. buckets by the exact SQL ntile formula (first n%k buckets get
    *     ⌈n/k⌉ rows), then per-bucket stats.
    */
  def ntileBuckets(spark: SparkSession, dir: String): DataFrame = {
    val nSlices = 32
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val pcts = (1 until nSlices).map(i => i.toDouble / nSlices).mkString(", ")
    val bRow = orders
      .agg(expr(s"approx_percentile(o_totalprice, array($pcts), 1000)")).head()
    val bounds: Seq[Double] =
      if (bRow.isNullAt(0)) Seq.empty else bRow.getSeq[Double](0).distinct.sorted.reverse
    // slice = count of boundaries strictly above this price (descending
    // boundaries, so the highest prices land in slice 0); NULL prices sort
    // last under DESC NULLS LAST → the final slice
    val sliceExpr =
      if (bounds.isEmpty) lit(0) // empty/constant input: one slice
      else when(col("o_totalprice").isNull, lit(bounds.length))
        .otherwise(expr(
          s"size(filter(array(${bounds.mkString(", ")}), b -> o_totalprice < b))"))
    val withSlice = orders.withColumn("slice", sliceExpr)
    val cnts = withSlice.groupBy(col("slice")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = cnts.map(_._2).sum
    val offs = cnts.map(_._1).zip(cnts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val w = Window.partitionBy(col("slice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    withSlice
      .withColumn("r", element_at(typedLit(offs), col("slice")) + row_number().over(w))
      .withColumn("q", lit(n / 4))
      .withColumn("rem", lit(n % 4))
      .withColumn("cut", lit((n % 4) * (n / 4 + 1)))
      .withColumn("bucket",
        when(col("r") <= col("cut"), expr("(r - 1) div (q + 1) + 1"))
          .otherwise(expr("rem + (r - cut - 1) div q + 1"))
          .cast(IntegerType))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast(DoubleType).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** Gap-based sessionization: a new session starts when a user is idle
    * > 30 minutes. Classic two-window formulation — ONE shuffle on
    * user_id, then per-session aggregation; no self-join, no state blow-up,
    * works identically at any scale because sessions never cross the
    * partition key.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("session_start_us"),
        max(unix_micros(col("ts"))).as("session_end_us"),
        sum(dec2(col("value"))).cast(DoubleType).as("session_value"))
  }

  /** GROUPING SETS — the general form behind rollup/cube: aggregate by
    * returnflag, by linestatus, and grand total in one pass.
    */
  def groupingSetsSales(spark: SparkSession, dir: String): DataFrame =
    // balanced + project-first: see AggOps.rollupSales — the grouping-set
    // Expand otherwise fuses into the near-serial scan stage (r17)
    Tables.balanced(Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice")))
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"),
        count(lit(1)).as("n_items"))

  /** Pivot: returnflag × linestatus matrix of exact quantity sums. The
    * pivot values are declared, so the plan is a single groupBy with one
    * conditional aggregate per value — no extra pass over the data.
    */
  def pivotSales(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec2(col("l_quantity"))).cast(DoubleType))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** UNPIVOT (melt): [[pivotSales]]' wide result back to long form — one
    * (returnflag, metric, qty) row per cell, dropping NULL cells like the
    * SQL UNPIVOT default. Wide→long is a pure per-row expansion: no
    * shuffle beyond what produced the wide input.
    */
  def unpivotSales(spark: SparkSession, dir: String): DataFrame =
    pivotSales(spark, dir)
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_f"), col("qty_o")),
        "metric", "qty")
      .filter(col("qty").isNotNull)

  /** Weekly retention cohorts — the canonical event-analytics matrix:
    * users grouped by the week they were FIRST seen; for each cohort ×
    * week-offset, the fraction of the cohort active that week. Three
    * aggregations, each shuffling on (user) or (cohort) keys only; the
    * distinct (user, week) projection collapses per-user event volume
    * BEFORE the cohort join, so the join input is bounded by users ×
    * active-weeks, not by events.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), date_trunc("week", col("first_ts")).as("cohort_week"))
    val cohortSizes = firstSeen.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("act_week"))
      .distinct()
    activity.join(firstSeen, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7)
          .cast(IntegerType).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(cohortSizes, "cohort_week")
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"), col("n_cohort"),
        (col("n_active").cast(DoubleType) / col("n_cohort")).as("retention"))
  }

  /** Cohort lifetime value — the revenue twin of [[retentionCohorts]]:
    * purchase value per signup-week cohort per week offset, plus the
    * running cumulative LTV per cohort member. Money stays DECIMAL-exact
    * through the aggregation AND the cumulative window (double summation
    * is order-dependent); the cumsum runs over the already-aggregated
    * (cohort, offset) frame — cardinality weeks², never events. Divisions
    * to DOUBLE happen once per output column.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), date_trunc("week", col("first_ts")).as("cohort_week"))
    val cohortSizes = firstSeen.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    val wCum = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.filter(col("event_type") === "purchase")
      .join(firstSeen, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7)
          .cast(IntegerType).as("week_offset"))
      .agg(sum(dec2(col("value"))).as("rev"),
        count(lit(1)).as("n_purchases"))
      .withColumn("cum_rev", sum(col("rev")).over(wCum))
      .join(cohortSizes, "cohort_week")
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_purchases"), col("n_cohort"),
        col("rev").cast(DoubleType).as("revenue"),
        (col("cum_rev").cast(DoubleType) / col("n_cohort").cast(DoubleType))
          .as("cum_ltv_per_user"))
  }

  /** Strictly-ordered funnel: first signup, then the first click AFTER it,
    * then the first purchase AFTER that click, per user; output is users
    * surviving each stage. Each stage is a groupBy on user_id over a
    * type-pruned scan (the filter pushes to parquet) followed by an
    * equi-join on user_id against the previous stage's one-row-per-user
    * frame — per-stage cost is bounded by surviving users, and the stage
    * DAG is the textbook sequential-pattern shape (no window over the
    * full event stream, no self-join on time ranges).
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def stage(t: String) = ev.filter(col("event_type") === t)
    val s1 = stage("signup").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = stage("click").join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = stage("purchase").join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val spark2 = spark
    import spark2.implicits._
    // LEFT join + coalesce(0): a stage no user survives must still surface
    // with n_users = 0 (the oracle's scalar-subquery form does) — an inner
    // join would silently drop the row on such data
    Seq(("signup", 1), ("click_after_signup", 2), ("purchase_after_click", 3))
      .toDF("stage", "stage_order")
      .join(
        s1.select(lit(1).as("stage_order"), col("user_id"))
          .union(s2.select(lit(2), col("user_id")))
          .union(s3.select(lit(3), col("user_id")))
          .groupBy(col("stage_order")).agg(count(lit(1)).as("n_users")),
        Seq("stage_order"), "left")
      .select(col("stage"), col("stage_order"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /** Revenue concentration (Lorenz deciles): customers ranked by exact
    * decimal revenue (descending, custkey tiebreak), assigned to ten
    * equal-population bands by pure integer rank arithmetic
    * ((rank−1)·10 div n — never a float quantile at a band edge), with
    * each band's exact revenue and share — the Pareto 80/20 table. Money
    * stays DECIMAL until the one share division.
    *
    * The global rank is computed DISTRIBUTED (the customer frame is
    * data-cardinality — `row_number() OVER (ORDER BY rev)` would funnel
    * every customer through one task's sort), via the same literal-slice
    * ladder as [[ntileBuckets]]: equi-depth rev boundaries from one
    * `approx_percentile` pass collected as a LITERAL array (boundary
    * quality only affects balance, never correctness — slice membership
    * is monotone in the rank order because equal revs share a slice and
    * the custkey tiebreak is therefore entirely within-slice), per-slice
    * counts → literal rank offsets, rank = offset + in-slice
    * `row_number` over a slice-PARTITIONED window. Ranks are BIGINT
    * end-to-end: `(rk−1)·10` on IntegerType overflows (ANSI: aborts)
    * past ~214 M customers.
    */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val nSlices = 32
    val byCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    // slicing key: double image of the exact decimal rev — the cast is
    // monotone, so slice assignment can never disagree with the exact
    // within-slice DECIMAL ordering
    val pcts = (1 until nSlices).map(i => i.toDouble / nSlices).mkString(", ")
    val bRow = byCust
      .agg(expr(
        s"approx_percentile(cast(rev as double), array($pcts), 1000)")).head()
    val bounds: Seq[Double] =
      if (bRow.isNullAt(0)) Seq.empty
      else bRow.getSeq[Double](0).distinct.sorted.reverse
    // slice = count of boundaries strictly above this rev (descending
    // boundaries: top earners land in slice 0, matching the rank order)
    val sliceExpr =
      if (bounds.isEmpty) lit(0)
      else expr(
        s"size(filter(array(${bounds.mkString(", ")}), b -> cast(rev as double) < b))")
    val withSlice = byCust.withColumn("slice", sliceExpr)
    val cnts = withSlice.groupBy(col("slice")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = cnts.map(_._2).sum
    val offs = cnts.map(_._1).zip(cnts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val wRank = Window.partitionBy(col("slice"))
      .orderBy(col("rev").desc, col("o_custkey"))
    val ranked = withSlice
      .withColumn("rk",
        element_at(typedLit(offs), col("slice")) + row_number().over(wRank))
      .withColumn("band", expr(s"(rk - 1) * 10 div ${n}L"))
    ranked.groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("rev")).as("band_rev"),
        min(col("rk")).as("top_rank"))
      .withColumn("total_rev", sum(col("band_rev")).over(Window.partitionBy()))
      .select(
        col("band").cast(IntegerType).as("band"),
        col("n_customers"),
        col("band_rev").cast(DoubleType).as("band_revenue"),
        (col("band_rev").cast(DoubleType) / col("total_rev").cast(DoubleType))
          .as("revenue_share"))
  }

  /** Funnel time-to-convert: for users completing the strict
    * signup→click→purchase funnel ([[funnelStages]]'s stage times), the
    * per-hop and end-to-end latency — count, exact-integer mean seconds,
    * and the maximum. Latencies are exact µs differences of the SAME
    * min-timestamps the funnel computes (one definition, no drift);
    * the three hops unpivot into long form via a 3-row explode so the
    * aggregate is one pass over the converting-users frame (cardinality
    * = survivors, already tiny).
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def stage(t: String) = ev.filter(col("event_type") === t)
    val s1 = stage("signup").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = stage("click").join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = stage("purchase").join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.join(s2, "user_id").join(s3, "user_id")
      .select(
        explode(array(
          struct(lit("signup_to_click").as("hop"),
            (unix_micros(col("t2")) - unix_micros(col("t1"))).as("us")),
          struct(lit("click_to_purchase").as("hop"),
            (unix_micros(col("t3")) - unix_micros(col("t2"))).as("us")),
          struct(lit("signup_to_purchase").as("hop"),
            (unix_micros(col("t3")) - unix_micros(col("t1"))).as("us"))))
          .as("h"))
      .select(col("h.hop").as("hop"), col("h.us").as("us"))
      .groupBy(col("hop"))
      .agg(
        count(lit(1)).as("n_users"),
        (sum(col("us")).cast(DoubleType) / count(lit(1)).cast(DoubleType)
          / 1000000.0).as("avg_sec"),
        expr("max(us) div 1000000").as("max_sec"))
  }

  /** Alarm threshold for [[cusumChangepoint]] as the exact rational
    * Num/Den of the mean daily volume — public: the oracle SQL
    * interpolates both. 1/2 makes both alarm branches fire at the gate
    * SF (sf0.01 peak CUSUM ratios 0.42–0.64 across event types).
    */
  val CusumThresholdNum = 1L
  val CusumThresholdDen = 2L

  /** CUSUM change detection over the daily event-volume series, per
    * event type — the SPC (statistical process control) primitive a
    * monitoring stack runs beside [[graft.ops.IndicatorOps]]'s z-score
    * anomaly gate: where zscore flags single outlier DAYS, CUSUM
    * accumulates small persistent drifts until they cross a threshold.
    * The textbook recursion S_t = max(0, S_{t−1} + x_t − μ) is not a
    * window function, but its closed form IS:
    * S_t = P_t − min(0, min_{j≤t} P_j) over the deviation prefix sum P
    * (the min includes the EMPTY prefix — CusumPathsSpec caught the
    * version without it on the fixture's above-mean first day) — so the
    * op is two windows over the day-summary frame, no recursion, no UDF. EXACT integers end to end:
    * deviations are cleared of the μ = total/n_days division
    * (dev_scaled = n_days·x_t − total), so cusum_scaled is a pure BIGINT
    * n_days-scaled CUSUM, and the alarm compares
    * cusum_scaled·Den > total·Num by cross-multiplication — no float
    * ever enters the hashed output. Scale: one map-side-combined pass
    * collapses events to ≤ keys×days rows; both windows run on that
    * summary frame (the wow_growth discipline).
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val totals = Window.partitionBy(col("event_type"))
    val ordered = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("nd", count(lit(1)).over(totals))
      .withColumn("total", sum(col("n_events")).over(totals))
      .withColumn("dev_scaled", col("nd") * col("n_events") - col("total"))
      .withColumn("p", sum(col("dev_scaled")).over(ordered))
      // the running min must include the EMPTY prefix P_0 = 0, or a
      // series that starts above the mean never resets against zero
      .withColumn("cusum_scaled",
        col("p") - least(lit(0L), min(col("p")).over(ordered)))
      .withColumn("alarm",
        col("cusum_scaled") * lit(CusumThresholdDen) >
          col("total") * lit(CusumThresholdNum))
      .select(col("event_type"), col("day"), col("n_events"),
        col("dev_scaled"), col("cusum_scaled"), col("alarm"))
  }

  /** Journey length for [[topPaths]] — public: the oracle interpolates
    * it. 3 keeps the path space (5³ = 125) well below the user count at
    * the gate SFs so path frequencies are real counts, not all-ones.
    */
  val TopPathLen = 3

  /** Top user journeys: each user's first [[TopPathLen]] events (by
    * event time, event_id tiebreak) joined into a path string, ranked by
    * how many users share the journey — the product-analytics "top
    * paths" report beside [[eventTransitions]]'s Markov matrix (which
    * loses ORDER beyond pairs; this keeps the actual prefix sequence).
    * Deterministic: the per-user window has a total order, the path is
    * an ordered join, and the final rank ties break on the path string.
    * Scale: ONE user_id window over raw events (rows beyond rank
    * [[TopPathLen]] drop before any aggregation), then all frames are
    * user- or path-cardinality-sized; the top-20 is a rank over the
    * ≤ 5^len path frame.
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(perUser))
      .filter(col("rn") <= TopPathLen)
      .groupBy(col("user_id"))
      .agg(expr(
        """array_join(transform(array_sort(collect_list(struct(rn, event_type))),
          |  x -> x.event_type), '>')""".stripMargin).as("path"))
    val byPath = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
    val w = Window.orderBy(col("n_users").desc, col("path"))
    byPath
      .withColumn("rk", row_number().over(w).cast(IntegerType))
      .filter(col("rk") <= 20)
  }

  /** KMV sketch size for [[kmvDistinct]] — public: the oracle SQL
    * interpolates it. 64 puts the per-group user counts at the gate SFs
    * (150 at sf0.01, 1500 at sf0.1) in the ESTIMATOR regime while the
    * per-group day counts (31) stay in the EXACT regime, so both branches
    * of the sketch's finish() are driver-verified in one op.
    */
  val KmvDistinctK = 64

  /** Grouped distinct-count estimation via the deterministic KMV sketch
    * ([[graft.functions.KmvSketch]]) — the hash-checkable counterpart to
    * [[hllPartialUnion]]'s HLL lane: per event type, the estimated
    * distinct users and distinct active days. KMV state (k smallest
    * distinct md5-hashes) is merge-order independent, so unlike HLL++ the
    * estimate is a pure function of the value set and the DuckDB oracle
    * replays it exactly (row_number over distinct hashes → k-th smallest
    * → same closed form). Scale: one pass, 8·(k+1)-byte partials per
    * (group × partition); the shuffle carries sketches, not users.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch
    val kmv = udaf(new KmvSketch(KmvDistinctK))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        kmv(KmvSketch.hash60(col("user_id").cast(StringType)))
          .as("n_users_est"),
        kmv(KmvSketch.hash60(date_format(col("ts"), "yyyy-MM-dd")))
          .as("n_days_est"))
  }

  /** The [[hllPartialUnion]] two-level rollup architecture with the
    * DETERMINISTIC KMV sketch: per-day [[graft.functions.KmvStateAgg]]
    * partials (8·(k+1)-byte sorted arrays — rows are sketches, the weekly
    * merge touches O(days) arrays and never re-scans events), unioned per
    * week by [[graft.functions.KmvMergeAgg]]. The k-min-of-union identity
    * makes the merged weekly state EQUAL the direct weekly sketch, so
    * unlike HLL's engine-private buffers the estimate is hash-checked
    * against a DuckDB replay over raw data — the rollup's correctness
    * (merge == recompute) is driver-verified, not just spec-bounded.
    * Exact below k = [[KmvDistinctK]] distinct users per week; the gate
    * SFs exercise the estimator regime (weekly actives ≫ 64).
    */
  def kmvPartialUnion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{KmvMergeAgg, KmvSketch, KmvStateAgg}
    val state = udaf(new KmvStateAgg(KmvDistinctK))
    val merge = udaf(new KmvMergeAgg(KmvDistinctK))
    Tables.events(spark, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(state(KmvSketch.hash60(col("user_id").cast(StringType))).as("sk"))
      .groupBy(date_format(date_trunc("week", col("day")), "yyyy-MM-dd")
        .as("week"))
      .agg(count(lit(1)).as("n_days"), merge(col("sk")).as("est_users"))
  }

  /** Audience windows for [[kmvOverlap]] — public so the oracle SQL
    * interpolates them. Early/late purchaser cohorts were chosen over the
    * signup∩purchase audiences [[hllOverlap]] uses because every fixture
    * user does every event type (that intersection is the DEGENERATE
    * Jaccard-1 case), while week-1 vs week-4+ purchasers overlap
    * partially at every SF (sf0.01: 143 ∩ 146 = 139 of 150) — so the
    * shared-count logic is non-vacuous under the driver gate. A
    * deployment sets its own windows (they're the retention question).
    */
  val KmvOverlapEarlyEnd = "2024-01-08 00:00:00"
  val KmvOverlapLateStart = "2024-01-22 00:00:00"

  /** The [[hllOverlap]] audience-intersection question answered by KMV
    * (Beyer et al. SIGMOD'07 §4) — and hash-checked, which no HLL form
    * can be: early-window and late-window purchaser sketches (the
    * retention overlap), union by the k-min-of-union identity, Jaccard =
    * |union-sketch hashes present in BOTH sides| / |union sketch|
    * (membership in a side's raw set and its sketch coincide below the
    * union's k-th minimum), overlap = Jaccard × union estimate. DIRECT
    * intersection estimation — no inclusion–exclusion error compounding —
    * and exact when the union holds < k distinct users. The final combine
    * is one bounded 1×1-row cross join; each side is one pass with
    * 8·(k+1)-byte partials.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{KmvSketch, KmvStateAgg}
    val state = udaf(new KmvStateAgg(KmvDistinctK))
    val ev = Tables.events(spark, dir).filter(col("event_type") === "purchase")
    def sk(cond: Column, n: String) = ev.filter(cond)
      .agg(state(KmvSketch.hash60(col("user_id").cast(StringType)))
        .as(s"sk_$n"))
    val early = sk(col("ts") < lit(KmvOverlapEarlyEnd).cast(TimestampType), "early")
    val late = sk(col("ts") >= lit(KmvOverlapLateStart).cast(TimestampType), "late")
    val k = KmvDistinctK
    val ov = udf((a: Seq[Long], b: Seq[Long]) =>
      KmvSketch.overlap(a.toArray, b.toArray, k))
    early.crossJoin(late)
      .select(ov(col("sk_early"), col("sk_late")).as("o"))
      .select(
        col("o._1").as("est_early"),
        col("o._2").as("est_late"),
        col("o._3").as("est_union"),
        col("o._4").as("shared_k"),
        col("o._5").as("jaccard_est"),
        col("o._6").as("est_overlap"))
  }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via Spark
    * 4's `hll_sketch_agg`/`hll_union_agg`): per-DAY user sketches built
    * once, then UNIONED per week — the incremental-distinct architecture.
    * At 100 TB the raw stream is read once into ~30 daily sketches of a
    * few KB; any rollup window (week, month, trailing-N) is a union over
    * sketches, never a re-scan — the property exact distinct counts
    * fundamentally lack. Estimate error is ±~1.6% at default lgK; the
    * ground-truth spec bounds it against exact weekly counts.
    */
  def hllPartialUnion(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .groupBy(date_format(date_trunc("week", col("day")), "yyyy-MM-dd").as("week"))
      .agg(
        count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))

  /** Binary sketch union as a typed [[Aggregator]]: rows are SERIALIZED
    * sketches (one per upstream partition×group, never one per event), so
    * a merge deserializes O(partitions) sketches, not O(rows). `union`
    * merges two non-empty serialized sketches; the empty array is the
    * zero. Commutative/associative — Spark may apply it partial+final in
    * any order, which is exactly the sketch contract.
    */
  private final class SketchUnionAgg(union: (Array[Byte], Array[Byte]) => Array[Byte])
      extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private def merge2(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      if (x.isEmpty) y else if (y.isEmpty) x else union(x, y)
    override def zero: Array[Byte] = Array.emptyByteArray
    override def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = merge2(b, a)
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = merge2(b1, b2)
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder = org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** KLL quantile-sketch union. */
  private val KllMergeAgg = new SketchUnionAgg({ (x, y) =>
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val a = KllDoublesSketch.heapify(Memory.wrap(x))
    a.merge(KllDoublesSketch.heapify(Memory.wrap(y)))
    a.toByteArray
  })

  /** Mergeable QUANTILE rollup — the [[hllPartialUnion]] discipline for
    * percentiles: per-day KLL(200) sketches of event value, unioned per
    * week; weekly p50/p95 come from the merged sketch, never a re-scan.
    * This is the PB-scale quantile path: exact percentiles need a full
    * sort (or a per-query GK pass over raw data), while KLL day-parts
    * are a few KB each, build partition-LOCAL in one `mapPartitions`
    * (each partition emits one sketch per day it saw — the shuffle
    * carries sketches, not events), and union associatively at any
    * granularity. KLL compaction is randomized → estimates are
    * run-specific within the ±1.65% rank bound (k=200), so the gate is
    * rows-only and the spec bounds every estimate against the exact
    * rank-neighborhood of the sorted per-week values.
    */
  def kllPartialUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val kllMerge = udaf(KllMergeAgg)
    val q = (rank: Double) => udf((b: Array[Byte]) =>
      KllDoublesSketch.heapify(Memory.wrap(b)).getQuantile(rank))
    val dayParts = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .as[(String, Double)]
      .mapPartitions { it => // one sketch per (partition, day) — no shuffle yet
        val m = scala.collection.mutable.HashMap[String, KllDoublesSketch]()
        it.foreach { case (d, v) =>
          m.getOrElseUpdate(d, KllDoublesSketch.newHeapInstance(200)).update(v)
        }
        m.iterator.map { case (d, sk) => (d, sk.toByteArray) }
      }
      .toDF("day", "sk")
    dayParts
      .groupBy(col("day")).agg(kllMerge(col("sk")).as("sk"))
      .groupBy(date_format(date_trunc("week", to_timestamp(col("day"))), "yyyy-MM-dd")
        .as("week"))
      .agg(count(lit(1)).as("n_days"), kllMerge(col("sk")).as("wsk"))
      .select(col("week"), col("n_days"),
        q(0.5)(col("wsk")).as("p50_est"),
        q(0.95)(col("wsk")).as("p95_est"))
  }

  /** Sample size for [[kmvRankUnion]] — public: the oracle SQL
    * interpolates it. 256 keeps the weekly distinct-cent populations at
    * both gate SFs in the ESTIMATOR regime (sample full at k) while the
    * rank error stays ~√(q(1−q)/k) ≈ 3% of the distinct-value range;
    * RankSketchSpec bounds it against exact distinct-value quantiles.
    */
  val KmvRankK = 256

  /** Deterministic mergeable RANK sketch — the hash-checkable twin of
    * [[kllPartialUnion]] (the hll→kmv graduation pattern applied to
    * quantiles). The sketch of a value set is its k smallest distinct
    * md5-hashes CARRYING THEIR VALUES: a uniform (by hash)
    * without-replacement sample of the distinct values that is a PURE
    * FUNCTION of the value set — merge is k-min union (associative,
    * commutative, idempotent), so unlike KLL's randomized compaction and
    * GK's merge-order-defined summaries, ANY partitioning/merge order
    * yields the identical state. Quantiles are then EXACT INTEGER-RANK
    * order statistics over the sample values: p_P = the
    * (1 + ((c−1)·P div 100))-th smallest sampled cent — no float cut,
    * no interpolation, so the picked value is bit-identical everywhere.
    *
    * Values are integer CENTS (`floor(value·100)` — one IEEE multiply +
    * exact floor, identical in both engines), so every compared column is
    * BIGINT/STRING: fully hash-checked at both SFs where kll_partial_union
    * is rows-only by construction.
    *
    * Spark runs the TWO-LEVEL rollup (per-day partial sketches — ≤k rows
    * leave each day — re-ranked per week), while the DuckDB oracle replays
    * the DIRECT weekly sketch from raw events: the hash match PROVES the
    * merge==recompute identity on real data, not just in a spec. Rank
    * windows are row_number+filter, so Spark plans a partial
    * WindowGroupLimit per group (PlanSpec-pinned) — at 100 TB each
    * (day × partition) contributes at most k rows to the shuffle, the
    * [[hllPartialUnion]] partial-architecture with a relational state.
    * Accuracy: rank error ~√(q(1−q)/k) over DISTINCT values (k=256 →
    * ~3% — documented: this sketches the distinct-VALUE distribution,
    * the right read for price-grid/cardinality profiling; duplicate
    * frequency needs the KLL lane).
    */
  def kmvRankUnion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch
    val k = KmvRankK
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        floor(col("value") * lit(100)).cast(LongType).as("cent"))
    // per-day partial sketch: the day's k smallest distinct cent-hashes
    // (hash ties broken on the value — determinism even under collision)
    val dayPart = ev.distinct()
      .withColumn("h", KmvSketch.hash60(col("cent")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("week"), col("day"))
          .orderBy(col("h"), col("cent"))))
      .filter(col("rn") <= k)
    // weekly union of the day partials: re-distinct (a cent sampled on
    // two days appears twice), re-rank — the k-min-of-union identity
    // makes this EQUAL the direct weekly sketch
    val weekSketch = dayPart.select(col("week"), col("cent"), col("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("week")).orderBy(col("h"), col("cent"))))
      .filter(col("rn") <= k)
    // exact integer-rank order statistics over the sampled VALUES
    val q = weekSketch
      .withColumn("c_sample", count(lit(1)).over(Window.partitionBy(col("week"))))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("week")).orderBy(col("cent"))))
      .groupBy(col("week"), col("c_sample"))
      .agg(
        max(when(col("vr") === lit(1) + expr("(c_sample - 1) * 50 div 100"),
          col("cent"))).as("p50_cent"),
        max(when(col("vr") === lit(1) + expr("(c_sample - 1) * 95 div 100"),
          col("cent"))).as("p95_cent"))
    val nDays = ev.select(col("week"), col("day")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("n_days"))
    q.join(broadcast(nDays), Seq("week"))
      .select(col("week"), col("n_days"), col("c_sample"),
        col("p50_cent"), col("p95_cent"))
  }

  /** Theta-sketch union ([[SketchUnionAgg]]). */
  private val ThetaUnionAgg = new SketchUnionAgg({ (x, y) =>
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import org.apache.datasketches.memory.Memory
    val u = SetOperation.builder().buildUnion()
    u.union(Sketches.wrapSketch(Memory.wrap(x)))
    u.union(Sketches.wrapSketch(Memory.wrap(y)))
    u.getResult.toByteArray
  })

  /** Welch's t-test between two user cohorts (A/B experiment read-out):
    * purchase values split by user-id parity, compared on mean with
    * unequal-variance t and Welch–Satterthwaite df. BOTH cohorts aggregate
    * in ONE conditional pass (n / Σx / Σx² per arm from the same scan —
    * the FILTER-clause discipline of [[AggOps.conditionalAgg]]); the power
    * sums are decimal-EXACT, so the handful of IEEE steps that follow
    * (mean, variance, t, df — written symbol-for-symbol identically in
    * the oracle SQL) are bit-reproducible across engines and partition
    * orders. A float `avg`/`var_samp` would make the t-statistic itself
    * order-dependent.
    */
  def abTtest(spark: SparkSession, dir: String): DataFrame = {
    def arm(parity: Int, c: Column) = when(col("user_id") % 2 === parity, c)
    def n(p: Int) = count(arm(p, lit(1))).cast(DoubleType)
    def s(p: Int) = sum(arm(p, dec2(col("value")))).cast(DoubleType)
    def ss(p: Int) = sum(arm(p, dec2(col("value")) * dec2(col("value"))))
      .cast(DoubleType)
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .agg(n(0).as("na"), s(0).as("sa"), ss(0).as("ssa"),
        n(1).as("nb"), s(1).as("sb"), ss(1).as("ssb"))
      .select(
        col("na").cast(LongType).as("n_a"), col("nb").cast(LongType).as("n_b"),
        (col("sa") / col("na")).as("mean_a"), (col("sb") / col("nb")).as("mean_b"),
        ((col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1))
          .as("var_a"),
        ((col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1))
          .as("var_b"))
      // squares as explicit products, not pow(): Math.pow and the oracle
      // engine's std::pow are not guaranteed to round squaring identically
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        ((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
          .as("t_stat"),
        (((col("var_a") / col("n_a") + col("var_b") / col("n_b")) *
          (col("var_a") / col("n_a") + col("var_b") / col("n_b"))) /
          ((col("var_a") / col("n_a")) * (col("var_a") / col("n_a")) /
            (col("n_a") - 1) +
           (col("var_b") / col("n_b")) * (col("var_b") / col("n_b")) /
            (col("n_b") - 1)))
          .as("df"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between the SAME user-parity
    * purchase cohorts as [[abTtest]] — the distribution-free test an
    * experimentation stack runs beside Welch's t when normality is in
    * doubt. Everything up to the final z is EXACT integer arithmetic:
    * cents-quantized values collapse to a value-GROUP frame (bounded by
    * the price range in cents, not by row count), tie-averaged ranks ride
    * as 2×-scaled integers (2·rank_before + t + 1 — halves never appear
    * until the boundary), and the rank-sum / tie-cube totals accumulate
    * in DECIMAL(38,0) (HUGEINT in the oracle) so ca·rank products and t³
    * cannot wrap at any corpus size. The normal-approximation z with tie
    * correction and the rank-biserial effect size are a handful of IEEE
    * steps written symbol-for-symbol identically in the oracle SQL.
    *
    * Scale: one conditional-count pass over the fact table → the value
    * groups; the single unpartitioned window runs over that RANGE-bounded
    * summary frame only (the winsorize/percentiles discipline).
    */
  def mannWhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(dec2(col("value")).as("v"), (col("user_id") % 2).as("arm"))
      .groupBy(col("v"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val s = g
      .withColumn("cum", coalesce(sum(col("t")).over(w), lit(0L)))
      // 2x-scaled tie-averaged group rank: 2·(cum+1) + (t−1) = 2·cum + t + 1
      .withColumn("r2", lit(2) * col("cum") + col("t") + lit(1))
      .agg(
        sum(col("ca")).as("n_a"),
        sum(col("cb")).as("n_b"),
        sum(col("ca").cast(d38) * col("r2").cast(d38)).as("r2a"),
        sum(col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38)
          - col("t").cast(d38)).as("ties"))
    val naD = col("n_a").cast(DoubleType)
    val nbD = col("n_b").cast(DoubleType)
    val nD = naD + nbD
    val uA = (col("r2a") - col("n_a").cast(d38) * (col("n_a") + 1).cast(d38))
      .cast(DoubleType) / lit(2.0)
    val sigma = sqrt(naD * nbD / lit(12.0) *
      ((nD + lit(1.0)) - col("ties").cast(DoubleType) / (nD * (nD - lit(1.0)))))
    s.select(
      col("n_a"), col("n_b"),
      uA.as("u_a"),
      when(sigma > 0, (uA - naD * nbD / lit(2.0)) / sigma)
        .otherwise(lit(null)).as("z"),
      (lit(1.0) - lit(2.0) * uA / (naD * nbD)).as("rank_biserial"))
  }

  /** Triangle counting over the co-purchase item graph — the clustering
    * primitive behind community/cohesion metrics. Edges are distinct
    * same-order part pairs; the count uses the DEGREE-ORDERED orientation:
    * every edge points from its (degree, id)-smaller endpoint, so each
    * triangle is counted exactly once at its unique ≺-smallest vertex and
    * — the scale property — wedge fan-out is bounded by the max ORIENTED
    * out-degree, O(√m) on any graph, instead of the raw hub degree that
    * makes the naive node-id orientation blow up on power-law graphs. Two
    * equi-joins (wedge build on the shared smallest vertex, then existence
    * check against the oriented edge list); the id-ordered quadratic
    * 3-way join is the ORACLE formulation only — same count, either
    * orientation, because both orders are total.
    */
  /** Distinct undirected co-purchase edges (a < b): part pairs appearing
    * in the same order — shared graph base of [[triangleCount]] and
    * [[kcoreNodes]]. Basket-size-bounded self-join fan-out, then a
    * distinct that shuffles (a, b) id pairs only.
    */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // r17 rewrite (guide §2.4/§2.5): one groupBy(orderkey) collect_set +
    // in-codegen ordered-pair explode + distinct, replacing the r16
    // lineitem self-join (BHJ on orderkey). The join shape ran its whole
    // basket² pair expansion at the scan's split count (3 tasks at sf0.1 —
    // profiled 1.4-1.6 s of every 3-8 s graph query) and paid a broadcast
    // build besides; the aggregation shape gets its parallelism from the
    // exchange itself, sized by AQE at any scale. Interleaved A/B/C
    // (OPTIMIZATION_r17.md, "copurchaseEdges"): self-join 2.00 s,
    // self-join+balanced 1.43 s, set+explode 1.24 s, with exceptAll-proven identical output. Per-order
    // sets are NOT bounded by a constant: distinct l_partkey per order
    // peaks at 11 / 13 / 17 at sf0.001 / 0.01 / 0.1 and grows with SF, so
    // one order's pair fan-out k(k−1)/2 reaches 136 at sf0.1 (FIXTURES.md).
    // No clamp: dropping items would change oracle-checked output.
    // r18 (guide §2.5): keyed balance — at skinny local split counts the
    // agg's own exchange is AQE-coalesced by BYTES (5 MB → 4 partitions),
    // serializing the explode+distinct stage on a 32-core box; a pinned
    // hash repartition on the group key replaces that exchange (same
    // shuffle count) and is a no-op at production split counts.
    // Interleaved (OPTIMIZATION_r18.md, "copurchaseEdges"): C set+explode
    // 1.52 s → D keyed balance 1.04 s min, every D sample below every C
    // sample.
    // the distinct's exchange gets the same treatment (its reduce side
    // AQE-coalesced to ~10 tasks at sf0.1, 411 ms profiled; same entry,
    // G-vs-D: 0.72/0.91 vs 0.78/0.99 min across two sessions)
    Tables.balancedBy(
        Tables.balancedBy(
            Tables.lineitem(spark, dir)
              .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
            col("ok"))
          .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps"))
          .select(explode(expr(
            """flatten(transform(ps, (a, i) ->
              |  transform(slice(ps, i + 2, size(ps) - i - 1), b ->
              |    named_struct('a', a, 'b', b))))""".stripMargin)).as("p"))
          .select(col("p.a"), col("p.b")),
        col("a"), col("b"))
      .distinct()
  }

  /** k-core decomposition (k = 65) of the co-purchase graph by iterative
    * peeling — the standard cohesion filter before community detection:
    * repeatedly drop nodes with degree < k until the survivor set is
    * stable; the result is the unique maximal subgraph with min degree
    * ≥ k (order of deletions never matters, so the output is exactly
    * deterministic even distributed). Each round is two semi-joins (keep
    * edges whose BOTH endpoints survive) + one degree count — all
    * equi-joins on node ids, checkpoint-truncated like the
    * connected-components ops, with the driver testing only a survivor
    * COUNT per round (a long, never row data). Convergence is monotone
    * (survivors only shrink), so the loop is bounded by the peeling
    * depth; 20 rounds is far past any real graph's depth at these ks.
    * Rows-only gate: no SQL twin for an iterate-to-fixpoint, but the
    * spec EXACT-matches the full (node, core_deg) set against
    * straight-line Scala peeling — a deterministic-set op gets an exact
    * spec, not a tolerance.
    */
  def kcoreNodes(spark: SparkSession, dir: String): DataFrame = {
    val k = 65 // inside the degree distribution at every SF: peeling
               // cascades 1-3 rounds and the core stays non-empty
    val edges = Tables.ckpt(copurchaseEdges(spark, dir))
    // ONE pass per round: exploding both endpoints of each edge before the
    // count means the (uncheckpointed) semi-joined subgraph is evaluated
    // once — the union-of-two-selects form reads the same expensive
    // subplan twice unless ReuseExchange happens to dedupe it. Map-side
    // partial aggregation keeps the shuffle node-bounded either way.
    def degrees(es: DataFrame): DataFrame =
      es.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // each round checkpoints (v, d): on the STABLE round, d is the
    // induced-subgraph degree of the converged core — returned directly,
    // no epilogue recomputation of the whole last round
    var live = Tables.ckpt(degrees(edges).filter(col("d") >= k))
    var n = live.count()
    var stable = false
    var rounds = 0
    while (!stable && rounds < 20) {
      val keep = live.select(col("v"))
      val sub = edges
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
      val next = Tables.ckpt(degrees(sub).filter(col("d") >= k))
      val m = next.count()
      stable = m == n
      live = next
      n = m
      rounds += 1
    }
    // fail LOUDLY on cap-hit: exiting unconverged would silently return
    // degrees counting neighbors the same filter dropped — not a k-core
    require(stable, s"k-core peeling did not converge in $rounds rounds")
    live.select(col("v").as("node"), col("d").as("core_deg"))
  }

  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    trianglesOverAdjacency(spark, dir, copartitioned = false)

  /** The broadcast-FREE twin of [[triangleCount]]: identical counting
    * logic, but the adjacency⋈edges joins are forced to SortMergeJoin
    * (`hint("merge")`), co-partitioning both sides on the probe key —
    * the mode a genuinely web-scale graph needs, where sorted neighbor
    * arrays total edge cardinality and broadcasting them is THE classic
    * breaker. Cost shape: two shuffles whose payload sums to O(m) array
    * cells, still never the m·√m wedge stream. Registered as its own
    * query (`triangle_count_copart`, same oracle) so the at-scale path
    * is oracle-checked and scale-probed, not just documented; PlanSpec
    * pins SMJ-and-no-BNLJ here and broadcast-on-this-fixture for the
    * auto mode.
    */
  def triangleCountCopart(spark: SparkSession, dir: String): DataFrame =
    trianglesOverAdjacency(spark, dir, copartitioned = true)

  private def trianglesOverAdjacency(
      spark: SparkSession, dir: String, copartitioned: Boolean): DataFrame = {
    // checkpoint the edge list: it feeds the degree count AND both sides
    // of the orientation join — materializing once makes the basket
    // self-join single-execution by construction instead of relying on
    // ReuseExchange to dedupe three reads of the same subplan
    val pairs = Tables.ckpt(copurchaseEdges(spark, dir))
    val deg = pairs.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = pairs
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    // orient each edge from its (deg, id)-smaller endpoint; keep the
    // destination's (deg, id) so wedge endpoints order by the same ≺
    // The (deg, id) order key is PACKED into one long (deg·2³² + id —
    // lexicographic order preserved for ids < 2³²; a keyspace past that
    // would keep a struct key): primitive compare/hash in the hot loop.
    val P = 4294967296L
    val oriented = Tables.ckpt(withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("src"), (col("db") * P + col("b")).as("dk")))
        .otherwise(
          struct(col("b").as("src"), (col("da") * P + col("a")).as("dk")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dk").as("dk")))
    // Edge-iterator over sorted out-adjacency: for each oriented edge
    // u→v, triangles at that edge = |N⁺(u) ∩ N⁺(v)| — each triangle is
    // found exactly once, at its ≺-smallest edge. The m·√m wedge stream
    // is never MATERIALIZED as rows: it lives inside the per-edge
    // array_intersect, one codegen stage over m edge rows.
    //
    // Join strategy is the size-based switch (r10 verdict #3):
    //  - auto (triangle_count): NO forced broadcast — AQE's runtime
    //    sort-merge→broadcast conversion IS the switch. The adjacency
    //    frame's true size is only known at runtime (it sits behind a
    //    groupBy over a checkpointed RDD with no usable static stats);
    //    when the materialized exchange lands under
    //    spark.sql.adaptive.autoBroadcastJoinThreshold, AQE rewrites the
    //    planned SMJ to a broadcast hash join (this fixture's case,
    //    PlanSpec-pinned on the FINAL adaptive plan); past it, the SMJ
    //    stands and the sides co-partition. Delegating to AQE beats a
    //    hand-rolled count()-then-branch: no extra action, and the
    //    decision uses exact post-shuffle sizes, not estimates.
    //  - copartitioned (triangle_count_copart): hint("merge") pins the
    //    web-scale mode unconditionally, for any size.
    // r18 (guide §2.3 "shuffle fewer bytes"): the sorted neighbor arrays
    // are DELTA-VARINT encoded right after the aggregation —
    // UnsafeArrayData spends 8 B/element regardless of magnitude, while
    // consecutive packed (deg·2³²+id) keys of one vertex differ mostly in
    // the low id bits, so deltas fit 2-5 B. Every downstream exchange /
    // broadcast of the adjacency (the 193 MB the r17 verdict flagged)
    // moves the compact form; the intersection decodes ON THE FLY inside
    // the same zero-allocation merge walk (varint_sorted_intersect_count
    // == sorted_intersect_count over the decoded arrays, pinned in
    // VarintExpressionsSpec). Interleaved A/B (OPTIMIZATION_r18.md,
    // 29bd7f2): auto mode 4.40 → 3.94 s min (smaller broadcast build); copart mode
    // wall-flat locally but the SMJ shuffle bytes — the term that crosses
    // the network at 100 TB — shrink >2×. Identity: 1,884,488 triangles
    // in all four cells.
    val adj = oriented.groupBy(col("src"))
      .agg(expr("delta_varint_encode(sort_array(collect_list(dk)))").as("nbrs"))
    val adjU = adj.select(col("src").as("u"), col("nbrs").as("nu"))
    val adjV = adj.select(col("src").as("v"), col("nbrs").as("nv"))
    val edgesUV = oriented
      .select(col("src").as("u"), col("dk").bitwiseAND(P - 1).as("v"))
    val joined =
      if (copartitioned)
        edgesUV.join(adjU.hint("merge"), Seq("u")).join(adjV.hint("merge"), Seq("v"))
      else edgesUV.join(adjU, Seq("u")).join(adjV, Seq("v"))
    joined
      // native merge-walk count (inputs sorted+distinct by construction)
      .select(expr("varint_sorted_intersect_count(nu, nv)").as("c"))
      // coalesce: a triangle-free graph leaves zero edge rows after the
      // joins, and sum-over-nothing is NULL where the oracle counts 0
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan et
    * al. 2007) over the co-purchase graph — the step after the k-core
    * cohesion filter in a real graph pipeline, and a different
    * equivalence than [[graft.ops.DedupOps]]'s connected components
    * (LPA splits a connected blob into dense regions; CC cannot).
    * Exactly `rounds` synchronous rounds: every node simultaneously
    * adopts its neighbors' most frequent PREVIOUS-round label, ties
    * broken by smallest label — fully deterministic, so unlike the
    * asynchronous textbook variant (whose result depends on visit
    * order) this is engine/partitioning-exact and fully ORACLE-checked:
    * the DuckDB twin replays the rounds as chained CTEs with the
    * identical (count desc, label) row_number argmax.
    *
    * Scale: each round is ONE equi-join of the bidirected edge list
    * against the node-cardinality label frame + one partial-aggregated
    * (node, label) count + a node-partitioned window — shuffles carry
    * ids only; lineage checkpoint-truncated per round like the other
    * fixpoints. Fixed round count (not convergence-tested): LPA on
    * near-clique communities stabilizes in 2-3 rounds, and a fixed
    * count is what makes the op replayable by a SQL oracle.
    */
  def communityLabels(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val edges = Tables.ckpt(copurchaseEdges(spark, dir))
    val bidir = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    // argmax (count desc, label asc) as min_by over a (-cnt, label)
    // struct — two hash aggregations, NO sort: a row_number window
    // would sort the near-edge-cardinality frame.
    // r18 (guide §2.4 "two operations keyed the same way share one
    // exchange"): the join output is repartitioned on u, so BOTH
    // aggregations reuse HashPartitioning(u) — ClusteredDistribution
    // (u, nl) is satisfied by hash(u) — collapsing the former two
    // exchanges per round ((u, nl) then u) into one.
    def argmaxRound(nodeLabel: DataFrame): DataFrame =
      nodeLabel
        .repartition(col("u"))
        .groupBy(col("u"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(min_by(col("nl"),
          struct((-col("cnt")).as("nc"), col("nl"))).as("lab"))
    // round 1 against the identity labeling needs no join at all — a
    // neighbor's previous-round label IS its id — and (r18) no count
    // either: edges are DISTINCT pairs (copurchaseEdges ends in
    // .distinct()), so every (u, neighbor-label) count is exactly 1 and
    // the (count desc, label asc) argmax degenerates to min(neighbor):
    // one aggregation, one exchange, no (u, nl) count shuffle.
    // Interleaved A/B (OPTIMIZATION_r18.md, 29bd7f2): shipped 5.20 → 4.04 s
    // min with both changes, exceptAll-identical output. StarComponentsSpec pins
    // the min(v)==argmax equivalence against the generic round.
    var labels = Tables.ckpt(
      bidir.groupBy(col("u")).agg(min(col("v")).as("lab")))
    for (_ <- 2 to rounds) {
      labels = Tables.ckpt(argmaxRound(
        bidir.join(labels.select(col("u").as("v"), col("lab").as("nl")), "v")
          .select(col("u"), col("nl"))))
    }
    val byCommunity =
      org.apache.spark.sql.expressions.Window.partitionBy(col("community"))
    labels.select(col("u").as("node"), col("lab").as("community"))
      .withColumn("community_size", count(lit(1)).over(byCommunity))
  }

  /** Seed selector modulus for [[shortestPaths]] — public so the oracle
    * SQL interpolates THIS value. A divisibility rule (not a key range)
    * so the seed set scales WITH the graph: ScaleProbe's derived corpus
    * offsets part keys per copy, and a range rule would strand every
    * seed in copy 0.
    */
  val BfsSeedMod = 97

  /** Bounded hop count for [[shortestPaths]] — fixed rounds are what
    * make an iterative graph traversal SQL-replayable (the
    * community_labels discipline).
    */
  val BfsMaxHops = 4

  /** Multi-source shortest paths (hop distance ≤ [[BfsMaxHops]]) over the
    * co-purchase graph — the Pregel-style BFS every graph engine ships,
    * here as four synchronous relaxation rounds: seeds are the part keys
    * divisible by [[BfsSeedMod]] at distance 0, each round relaxes
    * dist(u) = min over neighbors (dist(v)+1) merged with the previous
    * frontier, and ties at equal distance resolve to the SMALLEST seed
    * id — the (d, seed) struct min is associative, so the result is
    * exactly deterministic on any partitioning. Output: every reached
    * node with its hop distance and nearest seed. All-integer; fully
    * oracle-checked as four chained CTEs with the identical
    * (d, seed)-ordered row_number argmin.
    *
    * Scale: DELTA form — each round joins edges against only the
    * FRONTIER (nodes first reached last round), not the whole settled
    * set: in BFS a node's (dist, seed) is final the round it is first
    * reached (all shortest paths arrive together, so min seed over the
    * frontier neighbors IS the lexicographic (d, seed) min), so settled
    * nodes never re-relax and post-saturation rounds are near-free.
    * Shuffles carry (node, seed) ids only, never adjacency; lineage is
    * checkpoint-truncated per round like the other graph fixpoints.
    * (The naive full-relaxation form measured 5.19 s at sf0.1 — the
    * frontier form is what a web-scale BFS must do anyway.)
    */
  def shortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.ckpt(copurchaseEdges(spark, dir))
    val bidir = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    var frontier = Tables.ckpt(
      bidir.select(col("u")).distinct()
        .filter(pmod(col("u"), lit(BfsSeedMod)) === 0)
        .select(col("u"), col("u").as("seed")))
    // r18: the settled set is kept as the LIST of per-round frontier
    // checkpoints and unioned lazily where needed, instead of
    // re-checkpointing `settled ∪ frontier` every round — the old shape
    // re-materialized the ENTIRE settled set once per round (O(rounds·n)
    // copied rows; guide §1.2 "don't compute things you throw away").
    // The per-round anti-join reads the same rows either way; the only
    // ckpt written per round is the (shrinking) new frontier.
    // Interleaved A/B (OPTIMIZATION_r18.md, 29bd7f2): 4.71 → 4.28 s min,
    // exceptAll-identical output. (Checkpointing `bidir` itself measured
    // neutral-to-worse — a LogicalRDD loses the union's narrow
    // derivation from the edge ckpt and reports no useful partitioning,
    // per the repartition-before-checkpoint gotcha.)
    var rounds = List((0, frontier))
    for (r <- 1 to BfsMaxHops) {
      val settledU = rounds.map(_._2.select(col("u"))).reduce(_ unionByName _)
      val reached = bidir
        .join(frontier.select(col("u").as("v"), col("seed")), "v")
        .select(col("u"), col("seed"))
        .join(settledU, Seq("u"), "left_anti")
        .groupBy(col("u")).agg(min(col("seed")).as("seed"))
      frontier = Tables.ckpt(reached)
      rounds = rounds :+ ((r, frontier))
    }
    rounds.map { case (r, f) =>
      f.select(col("u"), lit(r).as("d"), col("seed"))
    }.reduce(_ unionByName _)
      .select(col("u").as("node"),
        col("d").cast(IntegerType).as("dist"),
        col("seed").as("nearest_seed"))
  }

  /** Robust outlier census by median absolute deviation — the
    * [[winsorize]] discipline with medians instead of tail percentiles:
    * per-group median, then the median of absolute deviations, each an
    * exact percentile over the group (the 100 TB path swaps in KLL
    * sketches, [[kllPartialUnion]]); both stats broadcast back to the
    * series, which never reshuffles. The 1.4826 normal-consistency factor
    * and the 3σ cut are written identically in the oracle — counts are
    * then exact integers, immune to the float noise that makes
    * mean/stddev outlier rules order-dependent (the point of MAD).
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val withMed = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = withMed.groupBy(col("event_type"))
      .agg(expr("percentile(ad, 0.5)").as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        count(when(col("ad") > lit(3) * lit(1.4826) * col("mad"), 1))
          .as("n_outliers"))
  }

  /** Seasonal-naive forecast backtest — the sanity baseline every
    * forecasting pipeline scores first: predict each day's event volume
    * with the SAME WEEKDAY a week earlier, report per-type MAE. The lag
    * is an equi-join on (type, day−7) over the already-day-collapsed
    * counts (shuffle carries one row per type×day, never events); counts
    * are exact integers so the MAE is one reproducible division. A lag-7
    * ROW window would silently mis-forecast across gap days — calendar
    * join semantics are the correct ones and cost the same.
    */
  /** Classical additive seasonal decomposition of the daily event-volume
    * series — volume = trend + weekly seasonal + residual, the
    * [[seasonalBacktest]] diagnostic's explanatory companion (and the
    * load-forecasting prep every capacity model starts from): trend is
    * the centered 7-day moving average (full windows only — edge days
    * report null trend and are excluded from the seasonal fit), seasonal
    * is the per-weekday mean of the detrended series, residual is what
    * remains.
    *
    * Exact-rational discipline (no float aggregation anywhere): the
    * detrended value v − tn/7 is carried as its exact INTEGER numerator
    * det_num = 7·v − tn; the weekday seasonal mean is Σdet_num/(7·n_w) —
    * an exact BIGINT sum (order-free) with ONE boundary division; the
    * residual clears to ((det_num·n_w − s_num))/(7·n_w), again one
    * division of exact integers. Weekday is epoch-day mod 7 — engine-
    * neutral (Spark dayofweek and DuckDB dayofweek disagree on origin).
    *
    * Scale: daily volumes partial-aggregate map-side to a calendar-
    * bounded frame; the trend is a ±3-day SCATTER + hash-partitioned
    * re-aggregation over that summary — no single-partition window
    * funnel anywhere (the GLOBAL PlanSpec invariant holds even on the
    * 30-row frame, so the op stays shape-correct if the summary ever
    * grows to years of days) — and the weekday fit broadcasts back.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint-truncated like mutual_info's cells: the trend explode,
    // the output join and the seasonal fit all consume the day summary —
    // without the cut Catalyst plans independent fact scans per branch
    val daily = Tables.ckpt(Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("v")))
    // centered 7-day window WITHOUT a single-partition window funnel
    // (the GLOBAL PlanSpec invariant): each day scatters its volume to
    // day±3 and the trend re-aggregates under normal hash partitioning —
    // full windows are exactly the days that collected 7 contributions.
    // (On a gapless calendar this equals the 7-ROW centered window; on a
    // gapped one the CALENDAR window is the defensible semantics anyway.)
    val trend = daily
      .select(col("day"), col("v"), explode(sequence(lit(-3), lit(3))).as("k"))
      .select(date_add(col("day"), col("k")).as("day"), col("v"))
      .groupBy(col("day"))
      .agg(sum(col("v")).as("tn_all"), count(lit(1)).as("nw"))
    val t = daily
      .join(trend, Seq("day"))
      .withColumn("tn", when(col("nw") === 7, col("tn_all")))
      .withColumn("det_num", lit(7) * col("v") - col("tn"))
      .withColumn("wd",
        pmod(datediff(col("day"), to_date(lit("1970-01-01"))), lit(7))
          .cast(IntegerType))
    val seas = t.filter(col("tn").isNotNull)
      .groupBy(col("wd"))
      .agg(sum(col("det_num")).as("s_num"), count(lit(1)).as("n_w"))
    t.join(broadcast(seas), Seq("wd"), "left")
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("wd"), col("v").as("volume"),
        (col("tn").cast(DoubleType) / lit(7.0)).as("trend"),
        (col("s_num").cast(DoubleType)
          / (lit(7L) * col("n_w")).cast(DoubleType)).as("seasonal"),
        when(col("tn").isNotNull,
          (col("det_num") * col("n_w") - col("s_num")).cast(DoubleType)
            / (lit(7L) * col("n_w")).cast(DoubleType)).as("residual"))
  }

  def seasonalBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val prior = daily.select(col("event_type"),
      date_add(col("d"), 7).as("d"), col("cnt").as("prior_cnt"))
    daily.join(prior, Seq("event_type", "d"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        (sum(abs(col("cnt") - col("prior_cnt"))).cast(DoubleType) /
          count(lit(1))).as("mae"))
  }

  /** Frequent-items (Misra-Gries) sketch union ([[SketchUnionAgg]]) for
    * heavy hitters.
    */
  private val FreqUnionAgg = new SketchUnionAgg({ (x, y) =>
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.memory.Memory
    val serde = new ArrayOfStringsSerDe()
    val a = ItemsSketch.getInstance[String](Memory.wrap(x), serde)
    a.merge(ItemsSketch.getInstance[String](Memory.wrap(y), serde))
    a.toByteArray(serde)
  })

  /** Approximate top-k tokens by frequent-items sketch — the one-pass,
    * fixed-memory alternative to [[PipelineOps.freqTokens]]' two-pass
    * candidates+exact-verify: ONE scan builds a bounded Misra-Gries map
    * per partition (the token explode never shuffles — only KB-sized
    * sketches travel), merged associatively by [[FreqUnionAgg]]. The
    * NO_FALSE_NEGATIVES read-out guarantees every true heavy hitter is
    * reported with bounds lb ≤ true ≤ ub; with maxMapSize 8192 the test
    * corpora never purge (31 distinct terms), so the maximum error is 0,
    * every term is reported, and lb = est = ub = the exact count —
    * which makes the op fully ORACLE-checked (r15; the bpe_merges
    * precedent): DuckDB computes the exact grouped counts with the same
    * (est desc, term) top-20 cut and the hash must match. A corpus big
    * enough to purge would return engine-defined bounds and move this
    * back to the spec-bounded rows-only gate (ApproxOpsSpec still pins
    * bounds-containment independent of regime).
    */
  def freqTopkSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.frequencies.ErrorType
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.memory.Memory
    val freqUnion = udaf(FreqUnionAgg)
    val parts = Tables.balanced(Tables.documents(spark, dir)
        .select(col("text")).filter(col("text").isNotNull))
      .as[String]
      .mapPartitions { it =>
        val serde = new ArrayOfStringsSerDe()
        val sk = new ItemsSketch[String](8192)
        it.foreach { t =>
          t.trim.split(" ").foreach(w => if (w.nonEmpty) sk.update(w))
        }
        Iterator.single(sk.toByteArray(serde))
      }
      .toDF("sk")
    val readout = udf((b: Array[Byte]) => {
      val serde = new ArrayOfStringsSerDe()
      if (b.isEmpty) Seq.empty[(String, Long, Long, Long)]
      else ItemsSketch.getInstance[String](Memory.wrap(b), serde)
        .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
        .toSeq
    })
    parts.agg(freqUnion(col("sk")).as("sk"))
      .select(explode(readout(col("sk"))).as("r"))
      .select(col("r._1").as("term"), col("r._2").as("est"),
        col("r._3").as("lb"), col("r._4").as("ub"))
      .orderBy(col("est").desc, col("term"))
      .limit(20)
  }

  /** PageRank over the part↔supplier fulfillment graph (5 power
    * iterations, d = 0.85). The graph derives from lineitem as SYMMETRIC
    * edges (part→supplier and back), so every node has out-degree ≥ 1 —
    * no dangling-mass correction needed. Each iteration is the canonical
    * scalable shape: edges ⋈ ranks on src (both sides hash-partitioned on
    * the same key), contributions grouped on dst (partial aggregation
    * map-side), a left join back to the node set for teleport mass —
    * never an adjacency matrix, never driver-side state. Iterative
    * lineage is checkpoint-truncated every round ([[Tables.ckpt]]), the
    * same discipline as the connected-components ops — without it the
    * plan doubles per iteration and a 20-iteration job dies at scale.
    *
    * Arithmetic is FIXED-POINT: ranks are BIGINTs in units of 1e-17
    * (`PrScale`), contributions are integer divisions `r div outdeg`,
    * and the damping 0.85 = `(17·csum) div 20` — every per-iteration sum
    * is an INTEGER sum, so the result is partition-order independent and
    * a DuckDB oracle replays the 5 iterations as 5 chained CTEs with the
    * identical integer ops (full hash match, where the float form was
    * rows-only: float contribution sums differ in the low bits by
    * summation order). Truncation loses < indeg units ≈ 1e-14 absolute
    * per node per iteration — ApproxOpsSpec pins the ranks within 1e-9
    * relative of the exact float power iteration, and the top-30 cut
    * ties break EXACTLY (equal fixed-point values → node-asc), needing
    * no quantization step.
    */
  private val PrScale = 100000000000000000L // 1e17; 17·PrScale < 2^63

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    // balanced BEFORE the key build: the lineitem parquet packs into 3
    // scan splits, so the map-side distinct partial ran 3-way on a
    // 32-core box (profiled 0.8 s of pagerank's 4 s at sf0.1, r17, guide
    // §2.5 input parallelism). Repartition the raw long ids (16 B/row)
    // 32-way; a no-op at production scale (balanced only fires when the
    // scan yields fewer splits than cores).
    //
    // r18 (guide §2.3 narrower types): node keys are TAGGED LONGS
    // (pk·2 / sk·2+1 — injective for ids < 2⁶²; TPC-H keys are positive
    // and far below) through the distinct, the edge checkpoint and all 5
    // iterations, instead of the "p"+pk / "s"+sk strings the op
    // previously carried end to end. The 6M-row dedup shuffle, the edge
    // ckpt and the per-iteration join/agg now hash/compare/move 8-byte
    // primitives; the display string is built ONCE on the final
    // node-cardinality ranks frame, BEFORE the top-30 sort, so output
    // rows and the (rank, node-string) tiebreak are bit-identical.
    // Interleaved A/B (OPTIMIZATION_r18.md, 29bd7f2): 6.17 → 3.82 s min,
    // identical top-30.
    val l = Tables.balanced(Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("pkk"), col("l_suppkey").as("skk")))
      .select((col("pkk") * 2).as("src"), (col("skk") * 2 + 1).as("dst"))
    // distinct BEFORE mirroring: dedup shuffles half the rows, and the
    // reversed copy then derives narrowly from the checkpointed base
    val e0 = Tables.ckpt(l.distinct())
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Pre-partition the (static) weighted edge list by dst ONCE: the
    // per-iteration contribution aggregate then reuses that partitioning —
    // with the rank vector broadcast into the join, an iteration is
    // exchange-FREE (scan checkpointed edges → broadcast join → partial+
    // final agg in place). Ranks here are catalog-entity-bounded so the
    // broadcast is right; a billion-node web graph would instead
    // co-partition ranks by src and pay one shuffle per iteration.
    val edgesW = Tables.ckpt(edges.join(broadcast(outdeg), "src")
      .repartition(col("dst"))
      .select(col("src"), col("dst"), col("outdeg")))
    val n = outdeg.count()
    // teleport mass (1-d)/n = (3/20)/n and the uniform start 1/n, both in
    // fixed-point integer ops mirrored verbatim by the oracle SQL
    val tele = (3L * PrScale / 20L) / n
    var ranks = outdeg.select(col("src").as("node"),
      lit(PrScale / n).as("r"))
    for (_ <- 1 to 5) {
      // symmetric edges → every node has in-degree ≥ 1, so the grouped
      // contributions already cover the whole node set and no teleport
      // left-join back to `nodes` is needed (a general digraph would need
      // it, plus a dangling-mass term)
      ranks = Tables.ckpt(edgesW
        .join(broadcast(ranks), edgesW("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
        .select(col("dst").as("node"),
          (lit(tele) + expr("(17 * csum) div 20")).as("r")))
    }
    // Top-30 cut: regular graphs produce large rank plateaus straddling
    // the boundary; fixed-point plateaus tie EXACTLY, so the node-asc
    // tiebreak is deterministic without quantization. rank_fp rides along
    // as the exact integer twin of the double readout. The "p"/"s"
    // string is rebuilt here (node div 2 — integer div, never the
    // double-precision `/`) so the sort ties break on the SAME string
    // order as the all-string formulation.
    ranks
      .select(
        when(col("node") % 2 === 0, concat(lit("p"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2"))).as("node"),
        col("r"))
      .orderBy(col("r").desc, col("node")).limit(30)
      .select(col("node"), col("r").as("rank_fp"),
        (col("r").cast(DoubleType) / lit(1e17)).as("rank"))
  }

  /** Audience overlap by DIRECT sketch intersection — the Theta-sketch
    * complement to [[hllOverlap]]: HLL can only union, so its overlap is
    * inclusion–exclusion with compounding error; Theta sketches support
    * native set intersection, the production tool when the overlap itself
    * is the quantity of interest. Per-partition UpdateSketches of the
    * type-pruned user ids (one sketch per partition travels, never ids),
    * unioned by [[ThetaUnionAgg]], intersected once at the 1×1-row
    * boundary. Below k=4096 distinct ids the sketch is in EXACT mode
    * (theta = 1.0, getEstimate = the retained count), and the fixture
    * tops out at ~1.5k distinct users per type — so the op is fully
    * ORACLE-checked (r15): DuckDB computes the exact distinct counts and
    * set intersection, cast to DOUBLE at the boundary, and the hash must
    * match. Past 4096 distinct ids the sketch starts sampling and the op
    * would move back to the spec-bounded rows-only gate (ApproxOpsSpec
    * still bounds at ±5% independent of regime).
    */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    import org.apache.datasketches.memory.Memory
    val thetaUnion = udaf(ThetaUnionAgg)
    def sk(t: String) =
      Tables.events(spark, dir)
        .filter(col("event_type") === t)
        .select(col("user_id")).as[Long]
        .mapPartitions { it =>
          val s = UpdateSketch.builder().build()
          it.foreach(s.update)
          Iterator.single(s.compact().toByteArray)
        }
        .toDF("sk")
        .agg(thetaUnion(col("sk")).as(s"sk_$t"))
    val est = udf((b: Array[Byte]) =>
      if (b.isEmpty) 0.0 else Sketches.wrapSketch(Memory.wrap(b)).getEstimate)
    val inter = udf((a: Array[Byte], b: Array[Byte]) =>
      if (a.isEmpty || b.isEmpty) 0.0
      else {
        val ix = SetOperation.builder().buildIntersection()
        ix.intersect(Sketches.wrapSketch(Memory.wrap(a)))
        ix.intersect(Sketches.wrapSketch(Memory.wrap(b)))
        ix.getResult.getEstimate
      })
    sk("signup").crossJoin(sk("purchase"))
      .select(
        est(col("sk_signup")).as("est_signup"),
        est(col("sk_purchase")).as("est_purchase"),
        inter(col("sk_signup"), col("sk_purchase")).as("est_overlap"))
  }

  /** Sketch-based audience overlap: |signup ∩ purchase| users estimated by
    * inclusion–exclusion over three HLL sketches (|A| + |B| − |A∪B|) —
    * HLL unions losslessly but cannot intersect, so overlap comes from the
    * union's complement. The three sketches are built in ONE pass over the
    * type-pruned scans and a few KB travel to the driver regardless of
    * corpus size; the exact alternative is a full shuffle of both user
    * sets. Error compounds (three ±1.6% estimates), so the spec bounds
    * overlap at ±10% of exact.
    */
  def hllOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def sk(t: String) = ev.filter(col("event_type") === t)
      .agg(expr("hll_sketch_agg(user_id)").as(s"sk_$t"))
    sk("signup").crossJoin(sk("purchase"))
      .select(
        // estimates surface LONG; overlap subtraction wants double
        expr("hll_sketch_estimate(sk_signup)").cast(DoubleType).as("est_signup"),
        expr("hll_sketch_estimate(sk_purchase)").cast(DoubleType).as("est_purchase"),
        expr("hll_sketch_estimate(hll_union(sk_signup, sk_purchase))")
          .cast(DoubleType).as("est_union"))
      .withColumn("est_overlap",
        col("est_signup") + col("est_purchase") - col("est_union"))
  }

  /** Trailing-7-day distinct active users per day. Window functions can't
    * COUNT DISTINCT over a frame, so the rolling set is computed
    * relationally: collapse events to distinct (day, user) pairs FIRST
    * (bounded by users × days, independent of event volume), then EXPLODE
    * each pair to the ≤7 report days it contributes to — a pure map with a
    * fixed 7× fan-out — and countDistinct per day. No join touches the
    * pair set (the old day-range form was a BroadcastNestedLoopJoin:
    * every pair tested against every day); the only join left is a
    * broadcast semi-join against the tiny distinct-day frame, which
    * restricts output to days that actually appear in the data.
    * At 100 TB the only pass over raw events is the initial distinct;
    * everything after operates on the collapsed pair set.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(spark, dir)
      .select(
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("d"),
        col("user_id"))
      .distinct()
    val days = pairs.select(col("d").as("day")).distinct()
    pairs
      .select(explode(sequence(col("d"), col("d") + 6)).as("day"), col("user_id"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
  }

  /** Slowly-changing-dimension type-2 history: each user's event_type
    * stream collapsed to validity intervals — consecutive equal states
    * merge into one row with [valid_from, valid_to) and a current-row
    * flag. Gaps-and-islands WITHOUT the usual collapse aggregation: a
    * run's start row already carries everything the interval needs, so
    * after lag marks the state changes, the query just KEEPS the start
    * rows — run_id is their rank, valid_to the next start's timestamp,
    * n_events the gap between consecutive start positions. Every window
    * shares one (user_id) partitioning and one (ts, event_id) ordering,
    * so the whole query is a single exchange + single sort — a
    * groupBy(user, run) collapse would add a second shuffle on the
    * composite key and a third back to user_id for the lead. Timestamps
    * cross the boundary as strings (engine-native timestamp objects hash
    * differently in the comparator).
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTs).isNull ||
             lag(col("event_type"), 1).over(byTs) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("rn", row_number().over(byTs))
      .withColumn("n_user", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("chg") === 1L)
      .withColumn("run_id", row_number().over(byTs).cast(LongType))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(byTs))
      .withColumn("n_events",
        coalesce(lead(col("rn"), 1).over(byTs), col("n_user") + 1L) - col("rn"))
      .select(
        col("user_id"), col("run_id"), col("event_type").as("state"), col("n_events"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
  }

  /** Per-user event-type transition matrix — the Markov-chain / clickstream
    * primitive: lag each user's (ts, event_id)-ordered stream one step,
    * count (from, to) bigrams, and derive each source state's transition
    * probability. ONE (user_id) exchange + sort feeds the lag; the bigram
    * aggregation collapses to |types|² rows map-side-partial, and the
    * per-source normalizing window runs over that tiny frame — exact long
    * counts, one IEEE division per row. The 100 TB cost is exactly the
    * cost of sorting each user's history once.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byFrom = Window.partitionBy(col("from_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byTs))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_trans",
        col("n_trans").cast(DoubleType) /
          sum(col("n_trans")).over(byFrom).cast(DoubleType))
  }

  /** Last-touch attribution: each purchase is credited to the same user's
    * most recent STRICTLY-preceding click, carried forward by one
    * `last(..., ignoreNulls)` window over the (ts, event_id)-ordered
    * stream — never a time-range self-join, whose candidate set is
    * unbounded on heavy users. The frame ends at `-1` so a click at the
    * purchase's own ordinal never credits itself. Daily rollup reports
    * conversion coverage and the mean click→purchase gap from exact
    * integer-µs sums (NULL-guarded single division; unattributed
    * purchases — no prior click — stay in n_purchases only). Same single
    * (user_id) exchange discipline as [[sessionize]]/[[scd2History]].
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))),
          ignoreNulls = true).over(carry))
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("click_us")).as("n_attributed"),
        sum(unix_micros(col("ts")) - col("click_us")).as("gap_us_sum"))
      .withColumn("avg_gap_us",
        when(col("n_attributed") > 0L,
          col("gap_us_sum").cast(DoubleType) / col("n_attributed").cast(DoubleType)))
      .select(col("day"), col("n_purchases"), col("n_attributed"), col("avg_gap_us"))
  }

  /** 2-D Pareto frontier (skyline) over parts: the price/size points no
    * other point beats on both axes. The naive formulation is a dominance
    * NOT EXISTS — an all-pairs non-equi anti join, quadratic and
    * unshardable (that shape is the ORACLE here, never the engine). The
    * engine exploits the 2-D structure: after collapsing to the max size
    * per distinct price, a point is dominated iff ANY strictly-cheaper
    * point has size >= its own — a prefix-max over the price order. That
    * prefix-max is computed distributed, [[RelationalOps]] ntile-style:
    * fixed-width price buckets give a partitioned within-bucket running
    * max, and the cross-bucket carry-in comes from a per-bucket summary
    * (O(buckets) rows — the only single-partition window runs on that
    * summary, not the data). No self-join, no quadratic step at any scale.
    */
  def paretoFront(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(spark, dir)
      .groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("size"))
      .withColumn("bucket", floor(col("price")).cast(LongType))
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perBucket = pts.groupBy(col("bucket")).agg(max(col("size")).as("bmax"))
    val carry = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1) // O(buckets) rows only
    val carryIn = perBucket
      .withColumn("carry_max", max(col("bmax")).over(carry))
      .select(col("bucket"), col("carry_max"))
    pts
      .withColumn("local_max", max(col("size")).over(inBucket))
      .join(broadcast(carryIn), Seq("bucket"))
      // greatest() ignores NULLs; NULL-NULL (cheapest point overall) → -1,
      // below every real size, so the frontier keeps it
      .filter(coalesce(greatest(col("local_max"), col("carry_max")), lit(-1)) <
        col("size"))
      .select(col("price"), col("size"))
  }

  /** Interval union (gaps-and-islands): each event opens a 5-minute
    * activity interval; overlapping/touching intervals per user merge into
    * islands, and the op reports per-user island count and exact covered
    * time. The merge is the classic running-max-of-end formulation — a new
    * island starts iff the interval opens past every previous end — ONE
    * shuffle on user_id, two window passes over it, per-island aggregation
    * on the same key. Never an interval self-join (unbounded candidates on
    * active users). All arithmetic in integer epoch-µs; one `div` to
    * seconds at the boundary.
    */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + 300L * 1000000L)
      .withColumn("prev_end", max(col("e")).over(wPrev))
      .withColumn("new_island",
        when(col("prev_end").isNotNull && col("prev_end") >= col("s"), 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("new_island")).over(wRun))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_islands"),
        expr("sum(i_end - i_start) div 1000000").as("covered_sec"))
  }

  /** Interval-OVERLAP join — the interval×interval relational shape
    * [[graft.ops.RelationalOps]]'s range join (point-in-interval) cannot
    * express: which pairs of USERS have concurrently-active merged
    * sessions, how many interval pairs overlap, and for how long. The
    * naive form is a non-equi self-join (cartesian candidates); the
    * scalable form here buckets every interval onto a fixed 1-hour grid
    * and equi-joins on the bucket — two overlapping intervals share the
    * bucket of any common instant, so the grid join finds EVERY
    * overlapping pair (no recall loss), duplicates from multi-bucket
    * overlaps collapse by the unique (user, start) interval keys, and
    * the exact strict-overlap predicate verifies candidates only.
    * Fan-out per interval = duration/width + 1; per-bucket join width =
    * concurrently-active intervals, which is output-bounded (those pairs
    * genuinely overlap and are emitted). Grid width is the tuning knob
    * against interval-length skew at scale. The quadratic non-equi join
    * is the ORACLE formulation only; PlanSpec pins no cartesian/BNLJ in
    * the engine plan. Durations in exact integer µs, one `div` at the
    * boundary per pair (mirrored in the oracle before its sum).
    */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iv = Tables.ckpt(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + 300L * 1000000L)
        .withColumn("prev_end", max(col("e")).over(wPrev))
        .withColumn("new_island",
          when(col("prev_end").isNotNull && col("prev_end") >= col("s"), 0L)
            .otherwise(1L))
        .withColumn("island", sum(col("new_island")).over(wRun))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
        // spread the checkpoint across the cores: AQE coalesces the tiny
        // island aggregate to ~2 partitions, and the downstream grid
        // explode + candidate-join exchange then ran 2-way (1.1 s stage,
        // r17 profile). The planner forgets a pre-ckpt partitioning
        // anyway; this only sets the CACHED partition count the next
        // stage fans out from. No-op-sized shuffle, scale-independent.
        .repartition(spark.sparkContext.defaultParallelism))
    val W = 3600L * 1000000L // 1-hour grid
    val bucketed = iv.select(col("user_id"), col("i_start"), col("i_end"),
      explode(expr(s"sequence(i_start div $W, i_end div $W)")).as("bucket"))
    val x = bucketed.alias("x")
    val y = bucketed.alias("y")
    x.join(y,
        col("x.bucket") === col("y.bucket") &&
          col("x.user_id") < col("y.user_id"))
      .select(col("x.bucket").as("bucket"),
        col("x.user_id").as("user_a"), col("x.i_start").as("sa"),
        col("x.i_end").as("ea"),
        col("y.user_id").as("user_b"), col("y.i_start").as("sb"),
        col("y.i_end").as("eb"))
      // report-once: an overlapping pair co-occupies EVERY bucket of its
      // intersection; count it only in the bucket of the LATER start
      // (covered by both iff they overlap) — no dropDuplicates exchange,
      // and long intervals (these span days) don't multiply candidates
      // by their bucket count
      .filter(col("bucket") === expr(s"greatest(sa div $W, sb div $W)"))
      .filter(col("sa") < col("eb") && col("sb") < col("ea"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(
        count(lit(1)).as("n_overlaps"),
        expr("sum((least(ea, eb) - greatest(sa, sb)) div 1000000)")
          .as("overlap_sec"))
  }

  /** Week-over-week revenue growth: weekly order revenue (exact
    * DECIMAL(18,2) sums — double summation is order-dependent) with the
    * lag-ratio growth rate. The window ORDER BY week runs over the
    * ALREADY-AGGREGATED weekly frame — 52 rows/year regardless of fact
    * size, so the single-partition window is a driver-trivial tail on a
    * one-exchange aggregate, never a global sort of facts. Weeks render
    * as strings (DATE-typed outputs hash-mismatch across engines).
    */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("wk"))
    Tables.orders(spark, dir)
      .groupBy(date_trunc("week", col("o_orderdate")).as("wk"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"),
        count(lit(1)).as("n_orders"))
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(
        date_format(col("wk"), "yyyy-MM-dd").as("week"),
        col("n_orders"),
        col("rev").cast(DoubleType).as("revenue"),
        when(col("prev").isNotNull && col("prev") =!= 0,
          (col("rev") - col("prev")).cast(DoubleType) / col("prev").cast(DoubleType))
          .as("wow_growth"))
  }

  /** Degree distribution of the part↔supplier bipartite graph: how many
    * parts have k suppliers and vice versa — the graph-shape profile run
    * before any graph algorithm (skew in this histogram predicts skew in
    * every traversal). Distinct edges, then two count aggregations per
    * side; every shuffle carries (node, degree) pairs, cardinality =
    * node count, never edges.
    */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    def side(key: String, label: String): DataFrame =
      edges.groupBy(col(key)).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .select(lit(label).as("side"), col("degree"), col("n_nodes"))
    side("l_partkey", "part").unionAll(side("l_suppkey", "supplier"))
  }

  /** Market-basket lift over the co-purchase pairs: lift(a,b) =
    * P(a,b) / (P(a)·P(b)) = n·c_ab / (c_a·c_b) — association strength
    * normalized for item popularity, the ranking [[copurchasePairs]]'s
    * raw counts cannot give. The top-100 cut orders by the EXACT pair
    * count (float-ordered cuts tie-break on ulp noise); lift itself is
    * output-only IEEE from exact integers. Item supports broadcast back
    * onto the pair frame — the basket self-join fan-out stays
    * basket-size-bounded exactly as in [[copurchasePairs]].
    */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    // r17: ONE checkpointed per-order item-set frame feeds everything —
    // basket count (row count), item supports (set explode), and the pair
    // counts (the copurchaseEdges set+explode rewrite, EdgeBuildAb-proven
    // identical to the self-join). Previously the (orderkey, partkey)
    // distinct re-ran per consumer (profiled twice at 0.5 s each, 3 tasks)
    // and the pair expansion was a 3-task self-join. collect_set subsumes
    // the old distinct; per-order derivations off the ~|orders| cached
    // frame are near-free.
    val sets = Tables.ckpt(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
    val nOrders = sets.agg(count(lit(1)).as("n_baskets"))
    val support = sets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    sets
      .select(explode(expr(
        """flatten(transform(ps, (a, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), b ->
          |    named_struct('part_a', a, 'part_b', b))))""".stripMargin)).as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 2)
      .orderBy(col("c_ab").desc, col("part_a"), col("part_b"))
      .limit(100)
      .join(broadcast(support.select(col("l_partkey").as("part_a"), col("c").as("c_a"))), "part_a")
      .join(broadcast(support.select(col("l_partkey").as("part_b"), col("c").as("c_b"))), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(
        col("part_a"), col("part_b"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast(DoubleType) * col("n_baskets").cast(DoubleType) /
          (col("c_a").cast(DoubleType) * col("c_b").cast(DoubleType))).as("lift"))
  }

  /** Corpus-level session KPIs on top of [[sessionize]]'s islands: session
    * count, engaged users, bounce rate (single-event sessions), mean
    * events per session, and mean duration — the product-analytics
    * headline numbers. One extra GLOBAL aggregate over the per-session
    * frame (cardinality = sessions, already tiny relative to events);
    * durations are exact integer µs, means are single IEEE divisions.
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("bounces"),
        sum(col("n_events")).as("total_events"),
        sum(col("session_end_us") - col("session_start_us")).as("dur_us"))
      .select(
        col("n_sessions"), col("n_users"), col("bounces"),
        (col("bounces").cast(DoubleType) / col("n_sessions").cast(DoubleType))
          .as("bounce_rate"),
        (col("total_events").cast(DoubleType) / col("n_sessions").cast(DoubleType))
          .as("avg_events"),
        (col("dur_us").cast(DoubleType) / col("n_sessions").cast(DoubleType)
          / 1000000.0).as("avg_duration_sec"))

  /** Order→ship lead-time SLA per order priority: mean lag, the EXACT
    * p90 order statistic, and the share shipped within 30 days. The p90
    * is rank-selected over the per-distinct-lag count summary with pure
    * integer arithmetic (`cum·10 ≥ 9·n` — ceil(0.9n) without the 0.9
    * double whose cross-engine ulp could shift the cut row; the
    * [[QualityOps.decileDrift]] discipline), so the reported value is an
    * actual data value, identical in any engine. Lags are exact integer
    * days; shuffles carry (priority, lag) count pairs.
    */
  def shipSla(spark: SparkSession, dir: String): DataFrame = {
    val lagged = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
    val byLag = lagged.groupBy(col("priority"), col("lag_days"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("priority")).orderBy(col("lag_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p90 = byLag
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("priority"))))
      .filter(col("cum") * 10 >= col("n") * 9)
      .groupBy(col("priority")).agg(min(col("lag_days")).as("p90_lag"))
    val stats = lagged.groupBy(col("priority"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("lag_days")).as("sum_lag"),
        sum(when(col("lag_days") <= 30, 1L).otherwise(0L)).as("within_30"))
      .select(
        col("priority"), col("n"),
        (col("sum_lag").cast(DoubleType) / col("n").cast(DoubleType))
          .as("avg_lag_days"),
        (col("within_30").cast(DoubleType) / col("n").cast(DoubleType))
          .as("pct_within_30d"))
    stats.join(p90, Seq("priority"))
  }

  /** Robust center per group: deterministic mode (the SMALLEST value among
    * those with maximal frequency — `mode()` itself is tie-arbitrary in
    * every engine, a hash-compare landmine), interpolated median, and mean
    * of lineitem quantities per return flag. Two-level aggregation: the
    * value-frequency table is tiny after the first map-side combine, the
    * mode is a rank-1 row per group (WindowGroupLimit prunes the rest),
    * and the median/mean ride a separate single-pass agg joined back on
    * the handful of flags. Quantities are integer-valued doubles « 2^53,
    * so sums and the median midpoint are exact in any summation order.
    */
  def modeMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val freq = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("c").desc, col("l_quantity").asc)
    val mode = freq
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
    val stats = li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        avg(col("l_quantity")).as("mean_qty"),
        count(lit(1)).as("n"))
    stats.join(mode, Seq("l_returnflag"))
  }

  /** Two-sample Kolmogorov–Smirnov between the SAME user-parity purchase
    * cohorts as [[abTtest]]/[[mannWhitneyU]] — the third leg of the A/B
    * stats trio (mean shift, rank shift, whole-distribution shape). The D
    * statistic stays EXACT integer arithmetic to the final division:
    * cents-quantized values collapse to a value-GROUP frame, inclusive
    * cumulative counts give both ECDFs at every jump point, and
    * D = max|cuma·n_b − cumb·n_a| / (n_a·n_b) keeps the max over a
    * DECIMAL(38,0) cross-product (HUGEINT in the oracle) so the argmax is
    * bit-deterministic at any corpus size. The output exposes d_stat and
    * the scaled statistic z = D·√(n_a·n_b/(n_a+n_b)) — division, multiply
    * and sqrt are all IEEE correctly-rounded, so no transcendental ever
    * enters the compare surface (the asymptotic p needs exp(), which is
    * NOT correctly-rounded-guaranteed across engines; callers apply their
    * own K(z) tail).
    *
    * Scale: one conditional-count pass over the fact table → value
    * groups bounded by the price range in cents; the single unpartitioned
    * window runs over that summary frame only, and the 1-row totals frame
    * joins back by broadcast (the winsorize/mannwhitney discipline).
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(dec2(col("value")).as("v"), (col("user_id") % 2).as("arm"))
      .groupBy(col("v"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = g.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val m = g
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
      .agg(
        max(abs(col("cuma").cast(d38) * col("n_b").cast(d38)
          - col("cumb").cast(d38) * col("n_a").cast(d38))).as("numer"),
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"))
    val naD = col("n_a").cast(DoubleType)
    val nbD = col("n_b").cast(DoubleType)
    val dStat = col("numer").cast(DoubleType) / (naD * nbD)
    m.select(
      col("n_a"), col("n_b"),
      dStat.as("d_stat"),
      (dStat * sqrt(naD * nbD / (naD + nbD))).as("z"))
  }

  /** ROC AUC of `value` as a score for predicting the purchase event —
    * the evaluation primitive for every scored-filter stage (quality
    * classifiers, LM filters, rerankers). Computed by the tie-adjusted
    * rank-sum identity AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺·n⁻), which IS the
    * probabilistic definition P(s⁺>s⁻) + ½P(s⁺=s⁻) — so the all-pairs
    * comparison never materializes. Same exact-integer machinery as
    * [[mannWhitneyU]]: value groups, 2×-scaled tie-averaged ranks
    * (2·cum + t + 1), DECIMAL(38,0) rank-sum totals; the only IEEE steps
    * are the final two divisions (correctly rounded, engine-identical).
    * Gini = 2·AUC − 1 rides along for the credit-scoring crowd.
    *
    * Scale: one pass → value groups bounded by the score range in cents;
    * the lone unpartitioned window runs over that summary frame only.
    */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(dec2(col("value")).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("v"))
      .agg(sum(col("pos")).as("cp"), sum(lit(1L) - col("pos")).as("cn"))
      .withColumn("t", col("cp") + col("cn"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val s = g
      .withColumn("cum", coalesce(sum(col("t")).over(w), lit(0L)))
      .withColumn("r2", lit(2) * col("cum") + col("t") + lit(1))
      .agg(
        sum(col("cp")).as("n_pos"),
        sum(col("cn")).as("n_neg"),
        sum(col("cp").cast(d38) * col("r2").cast(d38)).as("r2p"))
    val npD = col("n_pos").cast(DoubleType)
    val nnD = col("n_neg").cast(DoubleType)
    val auc = (col("r2p") - col("n_pos").cast(d38) * (col("n_pos") + 1).cast(d38))
      .cast(DoubleType) / lit(2.0) / (npD * nnD)
    s.select(
      col("n_pos"), col("n_neg"),
      auc.as("auc"),
      (lit(2.0) * auc - lit(1.0)).as("gini"))
  }

  /** Precision–recall curve for `value` as a purchase-predicting score —
    * the threshold sweep beside [[rocAuc]]: AUC summarizes RANKING, the
    * PR curve is what a scored-filter OPERATOR actually reads to set its
    * threshold, and the honest diagnostic under class imbalance (ROC
    * flatters when negatives dominate — exactly a pretraining-quality
    * filter's regime). One row per DISTINCT score on the value-group
    * frame (bounded by the price range, never by event volume):
    * threshold t = that score, classifier "positive iff score ≥ t", so
    * tp/fp are suffix-cumulative sums over the DESCENDING score order,
    * fn = n_pos − tp, and precision/recall are single correctly-rounded
    * divisions of exact BIGINTs (prec's denominator tp+fp ≥ 1 on every
    * group row by construction; recall's n_pos guarded). The
    * average-precision SCALAR is deliberately left to callers — a float
    * Σ ΔR·P is summation-order defined (the survival_curve discipline).
    *
    * Scale: one map-side-combined group collapse; the lone window runs
    * over the range-bounded summary (the mannwhitney_u/ks_test shape,
    * PlanSpec-pinned).
    */
  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(dec2(col("value")).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("v"))
      .agg(sum(col("pos")).as("cp"), sum(lit(1L) - col("pos")).as("cn"))
    val wDesc = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("tp", sum(col("cp")).over(wDesc))
      .withColumn("fp", sum(col("cn")).over(wDesc))
      .withColumn("n_pos", sum(col("cp")).over(wAll))
      // threshold surfaces as DOUBLE: a DECIMAL output column compares as
      // Decimal-vs-float at the gate's pandas boundary (the aqp_estimate
      // class of trap); DECIMAL(18,2) -> DOUBLE is the same
      // nearest-double rounding in both engines
      .select(col("v").cast(DoubleType).as("threshold"), col("tp"), col("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        (col("tp").cast(DoubleType)
          / (col("tp") + col("fp")).cast(DoubleType)).as("prec"),
        when(col("n_pos") =!= 0,
          col("tp").cast(DoubleType) / col("n_pos").cast(DoubleType))
          .as("recall"))
  }

  /** Reliability diagram (calibration bins) for `value` as a purchase
    * score — the companion diagnostic to [[rocAuc]]: AUC says the score
    * RANKS well, the calibration table says whether the score's level
    * matches the realized event rate (what a quality-classifier
    * threshold is actually set against). Ten equal-width bins over
    * [0, max]: bin = min(9, vc·10 div mxc) with vc the score in integer
    * cents and mxc the corpus max — cross-multiplied INTEGER bin
    * assignment, so no float cut can ever shift a row across bins (the
    * decile_drift discipline). Per bin: n, positives, and event_rate /
    * mean_score as single boundary divisions over exact sums. A summed
    * ECE scalar is deliberately left to callers — a 10-term float dot
    * product would reintroduce summation-order dependence.
    *
    * Scale: one pass for the 1-row max (broadcast back), one map-side
    * combined pass into a 10-row frame. Nothing row-cardinality crosses
    * a single partition.
    */
  /** The binned (vc, pos, mxc, bin) event frame [[calibrationBins]] and
    * [[eceEval]] share — one definition, so the diagram and its scalar
    * can never bin differently.
    */
  private def scoreBinned(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select((dec2(col("value")) * 100).cast(LongType).as("vc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val mx = e.agg(max(col("vc")).as("mxc"))
    e.crossJoin(broadcast(mx))
      .withColumn("bin", least(lit(9L), expr("vc * 10 div mxc")))
  }

  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    scoreBinned(spark, dir)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("pos")).as("n_pos"),
        sum(col("vc")).as("sum_vc"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
          .as("event_rate"),
        (col("sum_vc").cast(DoubleType) / (col("n") * 100).cast(DoubleType))
          .as("mean_score"))
  }

  /** Expected calibration error — the scalar [[calibrationBins]]'s r11
    * doc deliberately declined to hash ("a 10-term float dot product
    * would reintroduce summation-order dependence") — made hashable by
    * clearing denominators instead of summing floats: with conf
    * normalized to the corpus max, the per-bin weighted gap
    * (n_b/N)·|acc_b − conf_b| collapses to |pos_b·mxc − sum_vc_b| /
    * (N·mxc), so ECE·N·mxc = Σ_b |pos_b·mxc − sum_vc_b| — a 10-term sum
    * of exact INTEGER absolute deviations (order-independent), with one
    * boundary division at the end. Shares [[scoreBinned]] with the
    * diagram op, so the scalar aggregates exactly the published bins.
    * The pos·mxc product runs in DECIMAL(38,0) with the guarded int64
    * boundary cast (aqp discipline; pos_b ≤ N, so the bound is N·mxc —
    * int64-safe to a ~10¹⁴-cent·row product, surfaced as decimal past
    * it).
    *
    * Scale: the same one-pass 10-row summary as calibration_bins; the
    * scalar folds the 10 rows. Nothing new crosses an exchange.
    */
  def eceEval(spark: SparkSession, dir: String): DataFrame = {
    val gapDec = abs(col("pos_b").cast(DecimalType(19, 0)) * col("mxc")
      - col("sum_vc"))
    val gapGuard = assert_true(
      col("gap_dec") <= lit(Long.MaxValue),
      lit("ece_eval: pos*mxc gap exceeds int64 — surface the decimal"))
    scoreBinned(spark, dir)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("pos")).as("pos_b"),
        sum(col("vc")).as("sum_vc"), min(col("mxc")).as("mxc"))
      // filter-stage guard: column pruning cannot eliminate it, unlike a
      // when() carried by one output column (fleiss_kappa discipline)
      .withColumn("gap_dec", gapDec)
      .filter(gapGuard.isNull)
      .withColumn("gap", col("gap_dec").cast(LongType))
      .agg(
        sum(col("n_b")).as("n"),
        min(col("mxc")).as("mxc"),
        count(lit(1)).as("n_bins"),
        sum(col("gap")).as("ece_num"))
      .select(col("n"), col("mxc"), col("n_bins"), col("ece_num"),
        (col("ece_num").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("mxc").cast(DoubleType)))
          .as("ece"))
  }

  /** k for [[passAtK]] — public so the oracle SQL interpolates THIS
    * value.
    */
  val PassK = 5

  /** pass@k — the unbiased estimator for "P(at least one of k sampled
    * attempts succeeds)" (Chen et al. 2021, the Codex/HumanEval eval
    * metric; statistically it is 1 − C(n−c, k)/C(n, k) over n attempts
    * with c successes, the hypergeometric no-success probability): the
    * eval-lane primitive for sampled generations, driven here by the
    * behavioral fixture (user sessions as tasks, purchases as
    * successes) — a real eval table swaps in (task_id, n_samples,
    * n_pass) and the statistic is unchanged. Exactness: the binomial
    * ratio collapses to falling factorials, fail_num = Π_{i<k}(n−c−i)
    * (zero when n−c < k) over fail_den = Π_{i<k}(n−i) — k = [[PassK]]
    * explicit integer factors per row, no Γ/ln anywhere, one boundary
    * division (pass = 1 − num/den over exact BIGINTs). n is guarded at
    * 6000 attempts (6000⁵ < 2^63; past that the factors promote to
    * decimal — stated, not silent).
    *
    * Scale: one map-side-combined pass to a per-task (n, c) frame, the
    * estimator is per-row arithmetic on that frame. No joins.
    */
  def passAtK(spark: SparkSession, dir: String): DataFrame = {
    val k = PassK
    def fall(base: Column): Column =
      (0 until k).map(i => base.cast(DecimalType(19, 0)) - lit(i))
        .reduce(_ * _)
    val nGuard = assert_true(col("n_attempts") <= lit(6000L),
      lit("pass_at_k: attempt count exceeds the int64 factorial bound"))
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_attempts"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_success"))
      // pass@k is defined for n ≥ k (C(n,k) = 0 below); tasks with fewer
      // samples are excluded, the standard eval-harness behavior
      .filter(col("n_attempts") >= k)
      // filter-stage guard: riding fail_num alone let a projection that
      // selects only fail_den prune the assert and overflow silently
      .filter(nGuard.isNull)
      .withColumn("fail_num",
        when(col("n_attempts") - col("n_success") < k, lit(0L))
          .otherwise(fall(col("n_attempts") - col("n_success"))
            .cast(LongType)))
      .withColumn("fail_den", fall(col("n_attempts")).cast(LongType))
      .select(col("user_id"), col("n_attempts"), col("n_success"),
        lit(k).as("k"), col("fail_num"), col("fail_den"),
        (lit(1.0) - col("fail_num").cast(DoubleType)
          / col("fail_den").cast(DoubleType)).as("pass_at_k"))
  }

  /** Kaplan–Meier life table over order FULFILLMENT — time-to-ship with
    * administrative censoring at the data cutoff, the survival analysis
    * an ops team runs on open orders (and the same table a retention
    * team builds for churn): duration = whole days from o_orderdate to
    * l_shipdate; items whose ship date falls AFTER the order-date
    * horizon (max o_orderdate — the observation end) are CENSORED at
    * (horizon − orderdate), still "alive" when the data closed. Items
    * shipped before their order date (a synthetic-fixture artifact) are
    * filtered as data-quality violations, the orphan_fk_check
    * discipline. Per duration d: n_at_risk (duration ≥ d, a suffix
    * sum), events and censorings at d, and the discrete hazard =
    * events/at_risk — ONE correctly-rounded division per row. The
    * survival curve S(t) = Π (1 − h) is deliberately left to callers: a
    * running float PRODUCT is exactly the order-dependent surface the
    * engine refuses to hash (the mutual_info/ECE discipline applied to
    * products).
    *
    * Scale: one orderkey equi-join, a 1-row horizon broadcast, then a
    * duration-cardinality summary frame (bounded by the calendar span,
    * not rows) — the lone unpartitioned window runs over that summary
    * only.
    */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
    val horizon = o.agg(max(col("o_orderdate")).as("mx"))
    val base = li.join(o, "o_orderkey")
      .filter(col("l_shipdate") >= col("o_orderdate"))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("l_shipdate") <= col("mx"),
          datediff(col("l_shipdate"), col("o_orderdate")))
          .otherwise(datediff(col("mx"), col("o_orderdate")))
          .cast(LongType).as("d"),
        (col("l_shipdate") <= col("mx")).as("event"))
    val grid = base.groupBy(col("d"))
      .agg(
        sum(when(col("event"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("event"), 0L).otherwise(1L)).as("n_censored"))
    val w = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_at_risk",
        sum(col("n_events") + col("n_censored")).over(w))
      .select(
        col("d"), col("n_at_risk"), col("n_events"), col("n_censored"),
        (col("n_events").cast(DoubleType) / col("n_at_risk").cast(DoubleType))
          .as("hazard"))
  }

  /** Pointwise mutual information between return flag and line status —
    * the dependence census a feature-selection pass runs over categorical
    * column pairs. One cell per (x, y) pair with its joint and marginal
    * counts plus PMI = ln(n_xy·N / (n_x·n_y)) quantized to 1e-9 units
    * (`pmi_q9`, a LONG): counts and the ratio's double conversion are
    * exact/correctly-rounded in both engines, ln() is the one
    * library-rounded step, and the q9 floor absorbs any last-ulp
    * disagreement the way the unigram lane's logp_q6 does. Summing cell
    * terms to a single MI scalar is deliberately left to the caller — a
    * float total would reintroduce summation-order dependence.
    *
    * Scale: ONE map-side-combined pass builds the joint table (cells
    * bounded by the category-pair cardinality, not rows); the joint frame
    * is checkpoint-truncated so the marginal/total branches read the
    * materialized cells instead of re-scanning the fact — without the cut
    * Catalyst plans FOUR independent scans (no exchange reuse across the
    * differing aggregate parents), 4× the IO at any scale.
    */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val joint = Tables.ckpt(Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n_xy")))
    val mx = joint.groupBy(col("flag")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("status")).agg(sum(col("n_xy")).as("n_y"))
    val tot = joint.agg(sum(col("n_xy")).as("n"))
    def d(c: Column) = c.cast(DoubleType)
    joint
      .join(broadcast(mx), "flag")
      .join(broadcast(my), "status")
      .crossJoin(broadcast(tot))
      .select(
        col("flag"), col("status"), col("n_xy"), col("n_x"), col("n_y"),
        floor(log(d(col("n_xy")) * d(col("n")) / (d(col("n_x")) * d(col("n_y"))))
          * lit(1e9)).cast(LongType).as("pmi_q9"))
  }

  /** χ²₀.₀₅ critical values for df = 1..12, in 1e-6 units (floored) — a
    * LITERAL table, so no CDF/special function ever executes in hashed
    * output; public so the oracle SQL interpolates THESE longs (the
    * MaxBucket discipline).
    */
  val ChiSqCrit05Q6: Seq[Long] = Seq(
    3841458L, 5991464L, 7814727L, 9487729L, 11070497L, 12591587L,
    14067140L, 15507313L, 16918977L, 18307038L, 19675137L, 21026069L)

  /** Pearson χ² independence test between return flag and line status —
    * [[mutualInfo]]'s standard decision-procedure companion, riding the
    * SAME bounded category-pair cell frame. Per cell the deviation
    * `dev = O·n − n_x·n_y` is EXACT integer arithmetic (aggregated in
    * DECIMAL(38,0) with the aqp_estimate assert_true guard at the int64
    * boundary, so a population past ~3e9 rows fails loudly instead of
    * wrapping); the cell contribution dev²/(n·n_x·n_y) is a fixed
    * parenthesized chain of IEEE ·,/ over exact-integer-valued doubles —
    * bit-identical across engines — and is floor-quantized to 1e-6 units
    * BEFORE summation, so the statistic accumulates as pure BIGINT
    * (summation order can never matter; the mannwhitney_u exact-to-the-
    * boundary discipline). df = (r−1)(c−1) from the realized category
    * cardinalities; the α=0.05 decision compares against the LITERAL
    * [[ChiSqCrit05Q6]] table (guard-asserted df ≤ 12), so no libm call
    * of any kind reaches hashed output — stricter than mutual_info's
    * quantized-ln boundary.
    *
    * Scale: identical to mutualInfo — ONE map-side-combined pass to the
    * checkpointed cell frame; marginals/total are broadcasts over cells;
    * the statistic aggregates a category-cardinality frame (≤ dozens of
    * rows at any data scale).
    */
  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    val joint = Tables.ckpt(Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n_xy")))
    val mx = joint.groupBy(col("flag")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("status")).agg(sum(col("n_xy")).as("n_y"))
    val tot = joint.agg(
      sum(col("n_xy")).as("n"),
      countDistinct(col("flag")).as("nr"),
      countDistinct(col("status")).as("nc"))
    def d19(c: Column) = c.cast(DecimalType(19, 0))
    val devDec = d19(col("n_xy")) * d19(col("n")) -
      d19(col("n_x")) * d19(col("n_y"))
    val devGuard = assert_true(
      abs(col("dev_dec")) <= lit(Long.MaxValue),
      lit("chi_square: O·n − n_x·n_y exceeds int64 — promote dev to decimal"))
    val dd = col("dev").cast(DoubleType)
    val contrib = (dd * dd) /
      ((col("n").cast(DoubleType) * col("n_x").cast(DoubleType))
        * col("n_y").cast(DoubleType))
    val dfGuard = assert_true(
      col("df") >= 1 && col("df") <= ChiSqCrit05Q6.length,
      lit("chi_square: df outside the literal critical-value table"))
    joint
      .join(broadcast(mx), "flag")
      .join(broadcast(my), "status")
      .crossJoin(broadcast(tot))
      .withColumn("dev_dec", devDec)
      .withColumn("dev", when(devGuard.isNull, col("dev_dec").cast(LongType)))
      .withColumn("contrib_q6", floor(contrib * lit(1e6)).cast(LongType))
      .agg(
        min(col("n")).as("n"),
        min((col("nr") - 1) * (col("nc") - 1)).cast(IntegerType).as("df"),
        sum(col("contrib_q6")).as("chi2_q6"))
      .withColumn("crit_q6",
        element_at(array(ChiSqCrit05Q6.map(lit): _*),
          when(dfGuard.isNull, col("df"))))
      .select(
        col("df"), col("n"), col("chi2_q6"),
        (col("chi2_q6").cast(DoubleType) / lit(1e6)).as("chi2"),
        col("crit_q6"),
        (col("chi2_q6") > col("crit_q6")).as("reject"))
  }

  /** BLOCKED common-neighbor link prediction over the co-purchase graph:
    * the top-100 same-brand NON-edges ranked by shared-neighbor count,
    * with the Jaccard coefficient cn/(deg_a + deg_b − cn) — the
    * recommender primitive ("customers who bought these also bought…"),
    * blocked on the product hierarchy the way every production candidate
    * generator is (entity-resolution blocking: only pairs sharing a
    * blocking key are eligible; counts stay EXACT for eligible pairs —
    * centers of any brand still contribute their wedges). Candidates come
    * from the wedge self-join on (center, brand) — brand equality is an
    * equi-key, so off-block pairs are never probed, let alone emitted;
    * x.dst < y.dst orients each unordered pair once; existing edges drop
    * via LEFT ANTI against the canonical a<b edge list. Besides
    * cn/Jaccard the op scores the resource-allocation index
    * RA = Σ_z 1/deg(z) (Zhou 2009 — down-weights hub centers, usually
    * beats raw common-neighbors) as `ra_q12`: each center's weight is the
    * INTEGER 10¹² div deg(z), so the per-pair sum is exact integer
    * arithmetic — summation-order independent and replayed verbatim by
    * the oracle, where a float Σ 1/deg would hash-diverge. All integer
    * until the single Jaccard division; ties break (cn desc, a, b) so
    * the limit is total-order deterministic.
    *
    * Scale: UNBLOCKED wedge fan-out is Σ deg(z)² — measured 36.7 s at
    * sf0.1 / linear beyond (exponent 1.00: candidates ARE the output).
    * Blocking on B≈25 uniform brands cuts both the probe work and the
    * pair shuffle ≈B×, because the join hash-buckets on (src, brand):
    * Σ_z Σ_br deg_br(z)². At 100 TB the blocking key deepens with the
    * catalog (brand→line→category), holding per-block fan-out flat.
    * Every shuffle carries id pairs + counts only; the degree frame joins
    * by ids (AQE broadcasts it when small); the final top-100 compiles to
    * TakeOrderedAndProject, never a global sort.
    */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    // e feeds THREE consumers (both adj legs + the anti-join); without
    // the checkpoint each one re-runs the lineitem self-join + distinct
    val e = Tables.ckpt(copurchaseEdges(spark, dir))
    val P = 4294967296L // 2³², the triangle dk-packing constant
    val adj = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    // deg feeds three consumers too (adjb build + the two final
    // deg_a/deg_b joins) — ckpt'd in r18 along with the pair rewrite
    val deg = Tables.ckpt(adj.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // r18 rewrite (guide §2.3/§2.4, OPTIMIZATION_r18.md 29bd7f2: shipped
    // 5.66 → packed 5.17 s min, exceptAll-identical top-100):
    //  - wedges come from groupBy(src, brand) + sorted collect_list +
    //    in-codegen ordered-pair explode (the copurchaseEdges r17
    //    precedent) instead of the adjb⋈adjb self-join — the 200+ MB
    //    adjb checkpoint and its second exchange disappear; ra_w is
    //    constant per src so it rides the group as first().
    //  - the candidate-pair stream — the op's largest frame — is
    //    NARROWED before its aggregation exchange: (a, b) packed into
    //    one long a·2³²+b (GUARDED below: ids ≥ 2³¹ fail loudly rather
    //    than mis-pack; a catalog past 2³¹ parts would keep two-column
    //    keys), brand dictionary-coded to an int via a ~25-row broadcast
    //    both ways. The groupBy key drops from 16 B + string to 12 B of
    //    primitives and the anti-join against e becomes single-long.
    val brands = Tables.part(spark, dir).select(col("p_brand").as("brand"))
      .distinct()
      .withColumn("bc", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("brand"))))
    val pb = Tables.part(spark, dir)
      .select(col("p_partkey").as("dst"), col("p_brand").as("brand"))
      .join(broadcast(brands), "brand").select(col("dst"), col("bc"))
    val adjb = adj.join(broadcast(pb), "dst")
      .join(deg.withColumnRenamed("deg", "center_deg"), "src")
      .withColumn("ra_w", expr("CAST(1000000000000 AS BIGINT) div center_deg"))
    val packGuard = assert_true(col("ds")(0) >= 0 && col("ds")(size(col("ds")) - 1) < P / 2,
      lit("link_prediction: part id outside [0, 2^31) — pair packing unsafe"))
    val cand = adjb
      .groupBy(col("src"), col("bc"))
      .agg(sort_array(collect_list(col("dst"))).as("ds"),
        first(col("ra_w")).as("w"))
      .withColumn("g", packGuard).filter(col("g").isNull).drop("g")
      .select(col("bc"), col("w"), explode(expr(
        s"""flatten(transform(ds, (a, i) ->
           |  transform(slice(ds, i + 2, size(ds) - i - 1), b ->
           |    a * ${P}L + b)))""".stripMargin)).as("pk"))
      .groupBy(col("pk"), col("bc"))
      .agg(count(lit(1)).as("cn"), sum(col("w")).as("ra_q12"))
      // the anti-join side packs under the same guard: an id ≥ 2³² would
      // otherwise bleed into the high slot SILENTLY (ANSI overflow only
      // catches a ≥ 2³¹); a < b in e, so checking b covers both
      .join(e.select(when(assert_true(
          col("a") >= 0 && col("b") < P / 2,
          lit("link_prediction: part id outside [0, 2^31) — pair packing unsafe"))
          .isNull, col("a") * P + col("b")).as("pk")),
        Seq("pk"), "left_anti")
      .select(shiftright(col("pk"), 32).as("a"),
        col("pk").bitwiseAND(P - 1).as("b"),
        col("bc"), col("cn"), col("ra_q12"))
      .join(broadcast(brands), "bc")
    cand
      .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("brand"), col("cn"),
        col("deg_a"), col("deg_b"),
        (col("cn").cast(DoubleType) /
          (col("deg_a") + col("deg_b") - col("cn")).cast(DoubleType))
          .as("jaccard"),
        col("ra_q12"))
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(100)
  }

  /** Sampling rate in PERCENT for [[aqpEstimate]] — must divide 100 so
    * the Horvitz-Thompson scale-up stays integer; public so the oracle
    * SQL interpolates THIS value (the MaxBucket discipline).
    */
  val AqpRatePct = 1

  /** Approximate-query-processing estimator — the "answer from a 1%
    * sample" primitive a 100 TB deployment runs when an exact scan is
    * too expensive: per returnflag, estimated row count and revenue
    * total from a DETERMINISTIC multiplicative-hash sample of ORDERS
    * (the pps/split family's hash — no RNG, rerun/partitioning-stable,
    * and whole orders co-sample so line items never split), scaled up
    * by the exact integer 100/[[AqpRatePct]], plus the Horvitz-Thompson
    * variance estimator for Bernoulli-sampled CLUSTERS:
    * V̂ = Σ_{o∈s} y_o² · (100−p)·100/p² over per-(flag, order) revenue
    * totals y_o — the per-order grouping is what keeps the variance
    * honest when lines of one order co-occur (a per-line formula would
    * understate it). Everything is integer cents — no float ever
    * aggregates, so the op is fully oracle-checkable; the output
    * carries Σy² (exact BIGINT) and the constant HT factor separately —
    * their product exceeds int64 and a DECIMAL(38,0) output would
    * degrade through the gate's pandas boundary, so the one multiply
    * (like se = sqrt(var) and the CI) derives client-side (the
    * decile_drift no-libm discipline). The Σy² accumulator itself runs
    * in DECIMAL(38,0); the BIGINT output boundary holds through the
    * probed range (~5e17 at 10×) — a true 100 TB deployment would
    * surface the decimal column unchanged.
    *
    * Scale: the sample predicate evaluates map-side on the scan (at
    * 100 TB one would materialize the sample once and amortize it);
    * the per-order partial aggregation shuffles only the p% sample,
    * and the final census consumes the sampled-order-cardinality
    * frame. No joins.
    */
  def aqpEstimate(spark: SparkSession, dir: String): DataFrame = {
    val p = AqpRatePct
    require(100 % p == 0, "rate must divide 100")
    val up = lit(100L / p)
    val varFactor = lit((100L - p) * 100L / (p.toLong * p))
    val cents = (dec2(col("l_extendedprice")) * 100).cast(LongType)
    val perOrder = Tables.lineitem(spark, dir)
      .filter(PipelineOps.hashBucket(col("l_orderkey")) < lit(p))
      .select(col("l_returnflag").as("flag"), col("l_orderkey"), cents.as("cents"))
      .groupBy(col("flag"), col("l_orderkey"))
      .agg(count(lit(1)).as("nl"), sum(col("cents")).as("y"))
    // the y² sum aggregates in DECIMAL(38,0); the int64 boundary cast is
    // GUARDED because non-ANSI decimal overflow yields null SILENTLY on
    // the Spark side while the DuckDB oracle's CAST raises — asymmetric
    // failure. assert_true makes the Spark side fail loudly too; past the
    // guard the cast is provably lossless.
    val y2dec = col("sum_y2_dec")
    val y2Guard = assert_true(
      y2dec.isNotNull && y2dec <= lit(Long.MaxValue) && y2dec >= lit(0L),
      lit("aqp_estimate: y² sum exceeds int64 — widen sum_y2 to decimal"))
    perOrder.groupBy(col("flag"))
      .agg(
        sum(col("nl")).as("n_sample_rows"),
        count(lit(1)).as("n_sample_orders"),
        sum(col("y")).as("sum_y"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("sum_y2_dec"))
      .withColumn("sum_y2",
        when(y2Guard.isNull, y2dec.cast(LongType)))
      .select(col("flag"),
        col("n_sample_rows"), col("n_sample_orders"),
        (col("n_sample_rows") * up).as("est_rows"),
        (col("sum_y") * up).as("est_revenue_cents"),
        col("sum_y2").as("y2_sum_cents2"),
        varFactor.as("ht_var_factor"))
  }
}
