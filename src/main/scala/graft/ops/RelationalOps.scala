package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** Relational batch surface (SURVEY §2.5): joins, window functions, sort /
  * top-k, set ops, array functions, deduplication, as-of — the DataFrame
  * form. The SQL-surface queries (the TPC-H shapes `sql_q*`, the EXISTS /
  * NOT IN / scalar subqueries and `lateral_topn`) have no op here: each is
  * one `SparkEntry.sqlQuery` text that Spark runs through `Tables.sql` and
  * DuckDB runs as the oracle.
  *
  * Scale notes, per operator family:
  *  - Equi-joins are declared, never hand-scheduled: Catalyst + AQE pick
  *    broadcast vs shuffled-hash vs sort-merge from runtime stats. Genuinely
  *    small dimensions (region/nation) get an explicit `broadcast()` hint.
  *  - Ranking / top-k per key is one shuffle on the partition key; global
  *    top-k compiles to TakeOrderedAndProject (no global sort).
  *  - Dedup is expressed as hash-groupBy (partial agg combines duplicates
  *    map-side before the shuffle — at 100 TB this is the only shape that
  *    works; `dropDuplicates` would be nondeterministic anyway).
  */
object RelationalOps {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Inner 3-way equi-join: customer ⋈ orders ⋈ lineitem → revenue per
    * market segment. Join order (fact last, dims first) and strategy are
    * left to Catalyst/AQE; at sf0.x customer broadcasts, at 100 TB AQE
    * would pick SMJ — same declared plan either way.
    */
  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Bloom-prefiltered join — AQE's runtime-filter pattern written out
    * explicitly, for when the optimizer can't inject it (the build side
    * comes from an earlier pipeline stage, or the engine sits below the
    * size thresholds that trigger `InjectRuntimeFilter`). The build side's
    * join keys are collapsed into a ~1.2 MB bloom sketch (driver-bounded:
    * size is fixed by expectedItems × fpp, never by row width) embedded as
    * a binary literal, and the probe side is pre-filtered with the native
    * codegen'd [[org.apache.spark.sql.catalyst.expressions
    * .BloomFilterMightContain]] BEFORE its shuffle — at 100 TB the orders
    * scan drops ~(1 - selectivity) of its rows ahead of the exchange
    * instead of shuffling them to die in the join. False positives
    * (fpp=1%) survive the prefilter but are removed by the exact join that
    * follows, so the result is byte-identical to the plain join and fully
    * oracle-checkable. Sketch semantics match `DataFrame.stat.bloomFilter`:
    * raw `putLong` on build = raw `mightContainLong` on probe.
    */
  /** Fixed build-side capacity for [[bloomPrefilterJoin]]'s sketch. A
    * FIXED constant, not `keys.count()`: sizing by count spent a whole
    * extra action re-scanning the filtered build side before the real
    * one (the two-actions shape the repo replaced with `observe()`
    * elsewhere), and capacity only tunes the false-positive rate — the
    * exact join behind the prefilter removes every false positive, so
    * output is byte-identical at ANY capacity. 128k keys × fpp 1% ≈
    * 150 KB sketch — still ≫ any realistic broadcast-worthy build side
    * (the r12 1M/1.2 MB default made every task carry a megabyte literal
    * for a ~3k-key build); a build side beyond it degrades fpp gracefully
    * (more rows survive to the exact join), never correctness.
    */
  val BloomCapacity: Long = 1L << 17

  def bloomPrefilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.GraftBridge
    val keys = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bloom = keys.stat.bloomFilter("c_custkey", BloomCapacity, 0.01)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val o = Tables.orders(spark, dir)
    val prefiltered = o.filter(GraftBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), GraftBridge.expression(col("o_custkey")))))
    prefiltered.join(keys, prefiltered("o_custkey") === keys("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
  }

  /** Left outer join: every order with its lineitem count (0 for none) and
    * exact quantity sum. Aggregate-then-join: lineitem is pre-aggregated to
    * one row per orderkey BEFORE the join, so the join input is minimal —
    * the shape that survives a 100× fact-table scale-up.
    */
  def joinLeft(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val lAgg = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"), sum(dec2(col("l_quantity"))).as("qty"))
    o.join(lAgg, o("o_orderkey") === lAgg("l_orderkey"), "left")
      .select(
        col("o_orderkey"),
        coalesce(col("cnt"), lit(0L)).as("n_items"),
        coalesce(col("qty").cast(DoubleType), lit(0.0)).as("sum_qty"))
  }

  /** Left-semi join: customers that have at least one order (EXISTS). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Dimension join with explicit broadcast: customer → nation → region
    * rollup. nation/region are bounded-cardinality dimensions (25/5 rows at
    * ANY scale factor) — always broadcast, never shuffled.
    */
  def joinDims(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast(DoubleType).as("sum_acctbal"))
  }

  /** Ranking window: top-3 orders per customer by totalprice
    * (SURVEY §2.5 topk_rank). Tiebreak on o_orderkey — o_totalprice has
    * duplicates in the data, and rank determinism is a correctness
    * requirement under shuffle.
    */
  def topkRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
  }

  /** Analytic window with frame: 3-row moving average of event value per
    * user, plus lag/lead (SURVEY §2.5 moving_avg). The frame sum is
    * decimal-exact before the final divide so it is deterministic under
    * any partitioning.
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(-2, 0)
    Tables.events(spark, dir)
      .select(
        col("user_id"),
        col("event_id"),
        col("value"),
        (sum(dec2(col("value"))).over(frame).cast(DoubleType)
          / count(lit(1)).over(frame)).as("moving_avg"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
  }

  /** Global top-k: compiles to TakeOrderedAndProject — per-partition heap
    * then a k-row merge on the driver, NOT a global sort. Tiebreak on key.
    */
  def orderbyLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Set op: UNION ALL of tagged key sets (customer ∪ supplier). */
  def unionAll(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(lit("customer").as("kind"), col("c_custkey").as("key"))
    val s = Tables.supplier(spark, dir)
      .select(lit("supplier").as("kind"), col("s_suppkey").as("key"))
    c.unionAll(s).groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
  }

  /** Set op: customers that placed orders, as INTERSECT (distinct). */
  def intersectKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .intersect(Tables.orders(spark, dir).select(col("o_custkey")))

  /** Set op: customers that never ordered, as EXCEPT (distinct). */
  def exceptKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .except(Tables.orders(spark, dir).select(col("o_custkey")))

  /** Multiset set ops: EXCEPT ALL / INTERSECT ALL preserve multiplicity —
    * order keys minus one occurrence per lineitem order key, and the
    * multiset intersection, summarized for a stable small result.
    */
  def exceptAllKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select((col("o_orderkey") % 100).as("k"))
      .exceptAll(Tables.lineitem(spark, dir).select((col("l_orderkey") % 100).as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  def intersectAllKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select((col("o_orderkey") % 100).as("k"))
      .intersectAll(Tables.lineitem(spark, dir).select((col("l_orderkey") % 100).as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  /** Null-handling function family: coalesce / nullif / nvl2 / nanvl-style
    * guards over the left join's null side.
    */
  def nullFuncs(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val lAgg = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
    o.join(lAgg, o("o_orderkey") === lAgg("l_orderkey"), "left")
      .select(
        col("o_orderkey"),
        coalesce(col("cnt"), lit(0L)).as("cnt_or_zero"),
        col("cnt").isNull.as("is_missing"),
        nullif(col("o_orderstatus"), lit("O")).as("status_nullif_o"),
        when(col("cnt").isNotNull, lit("has_items"))
          .otherwise(lit("empty")).as("nvl2_style"))
  }

  /** Array functions: per-user sorted event-type list via collect_list.
    * collect_list order is nondeterministic under shuffle, so the result is
    * canonicalized with sort_array — the only deterministic (and therefore
    * scale-safe) way to surface a collected array. Arrays are surfaced as
    * comma-joined strings at the output boundary so the result is
    * comparator-safe (array cells aren't hashable downstream).
    */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_list(col("event_type"))), ",").as("types"),
        size(collect_list(col("event_type"))).as("n_types"),
        array_join(sort_array(collect_set(col("event_type"))), ",").as("distinct_types"))

  /** Exact dedup as hash-groupBy (SURVEY §2.5 dedup): one row per
    * (user_id, event_type), keeping the earliest event deterministically.
    * Equivalent to dropDuplicates but with defined keep-semantics; partial
    * aggregation collapses duplicates before the shuffle.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        expr("min_by(event_id, ts)").as("first_event_id"),
        expr("min_by(value, ts)").as("first_value"),
        count(lit(1)).as("n_dups"))

  /** Fact ⋈ part dimension: revenue per brand, with the TPC-H Q14-style
    * promo share as a conditional aggregate. Declared equi-join — Catalyst
    * broadcasts part at small SF; at 100 TB part scales with SF so AQE
    * picks a shuffled join on the same plan.
    */
  def partRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val disc = dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(disc).cast(DoubleType).as("revenue"),
        (sum(when(col("p_type").startsWith("PROMO"), disc).otherwise(dec2(lit(0))))
          .cast(DoubleType) * 100.0
          / sum(disc).cast(DoubleType)).as("promo_share"))
  }

  /** As-of join (SURVEY §2.5 joins: range/as-of): each signup event gets
    * the user's most recent prior-or-equal purchase value. Implemented as
    * the union + last(ignoreNulls) over an ordered window — the standard
    * scalable as-of pattern: ONE shuffle on the partition key, no range
    * self-join blow-up.
    */
  def asofPrice(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("purchase_value",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("asof_value", last(col("purchase_value"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"), col("asof_value"))
  }

  /** Two-table as-of join through the native [[graft.plans.AsofJoin]]
    * operator (custom LogicalPlan → Rule → Strategy → SparkPlan): each
    * signup row takes the latest prior-or-equal purchase VALUE for its
    * user. Purchases are pre-aggregated to one row per (user_id, ts)
    * (`max_by` on event_id) so the as-of match is deterministic on both
    * engines; the oracle is DuckDB's native ASOF LEFT JOIN. Same answer
    * as [[asofPrice]]'s union+window emulation — spec-pinned — with the
    * two-shuffle merge-join physical shape instead of a window.
    */
  def asofJoinPrice(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(expr("max_by(value, event_id)").as("value"))
    graft.plans.AsofJoinOps.asofJoin(
        signups, purchases, on = Seq("user_id"),
        leftTimeCol = "ts", rightTimeCol = "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value_r").as("asof_value"))
  }

  /** Point-in-time feature join (the feature-store "PIT join"): each label
    * row (purchase events = training labels) takes the entity's latest
    * prior-or-equal VIEW value and CLICK value — two feature tables
    * as-of joined without ever leaking future information, the correctness
    * property that makes or breaks offline training data. Built as TWO
    * chained native [[graft.plans.AsofJoin]]s on the same entity key: the
    * first as-of shuffles labels and views onto user_id, and the second
    * reuses that partitioning for its probe side — feature tables are
    * each shuffled once, the label stream exactly once (PlanSpec pins the
    * exchange count). Each feature side is pre-aggregated to one row per
    * (user_id, ts) so tie resolution is deterministic in both engines;
    * the oracle is DuckDB's native ASOF LEFT JOIN applied twice.
    */
  def pitFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // repartition on user_id BEFORE the (user_id, ts) dedup-agg:
    // hashpartitioning(user_id) satisfies the agg's clustered distribution
    // (subset of grouping keys) AND the as-of join's key requirement, so
    // each feature table is shuffled ONCE, not agg-shuffled then
    // join-shuffled. (user_id, ts) is near-unique here, so the forfeited
    // map-side combine is a no-op anyway.
    def feature(eventType: String, alias: String): DataFrame =
      ev.filter(col("event_type") === eventType)
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("ts"))
        .agg(expr("max_by(value, event_id)").as(alias))
    val withView = graft.plans.AsofJoinOps.asofJoin(
        labels, feature("view", "f_view"), on = Seq("user_id"),
        leftTimeCol = "ts", rightTimeCol = "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("f_view_r").as("last_view"))
    graft.plans.AsofJoinOps.asofJoin(
        withView, feature("click", "f_click"), on = Seq("user_id"),
        leftTimeCol = "ts", rightTimeCol = "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_view"), col("f_click_r").as("last_click"))
  }

  /** Snapshot reconciliation (table diff): two versions of the orders
    * table — a base snapshot and a successor with deterministic inserts,
    * deletes, and in-place updates — diffed into per-status row counts
    * with a per-column change census. The shape is ONE full-outer join on
    * the snapshot key (single key-partitioned shuffle, AQE skew-splits
    * apply) followed by a tiny grouped aggregate; at 100 TB with wide
    * schemas the per-column compares would collapse to one xxhash64 over
    * a struct per side, but with three compared columns the direct
    * compares stay inside whole-stage codegen and keep the per-column
    * census exact. Doubling a price is IEEE-exact (power of two), so
    * "changed" is bit-deterministic in both engines.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val base = o.filter(col("o_orderkey") % 20 =!= 3)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price_a"),
        col("o_orderpriority").as("prio_a"))
    val next = o.filter(col("o_orderkey") % 20 =!= 7)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("price_b"),
        when(col("o_orderkey") % 7 === 0, lit("RECHECK"))
          .otherwise(col("o_orderpriority")).as("prio_b"))
    base.join(next, Seq("k"), "full_outer")
      .withColumn("diff_status",
        when(col("price_a").isNull, "added")
          .when(col("price_b").isNull, "removed")
          .when(col("price_a") =!= col("price_b") ||
                col("prio_a") =!= col("prio_b"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("diff_status"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("price_a").isNotNull && col("price_b").isNotNull &&
                 col("price_a") =!= col("price_b"), 1L).otherwise(0L))
          .cast("long").as("n_price_changed"),
        sum(when(col("prio_a").isNotNull && col("prio_b").isNotNull &&
                 col("prio_a") =!= col("prio_b"), 1L).otherwise(0L))
          .cast("long").as("n_priority_changed"))
      .orderBy(col("diff_status"))
  }

  /** Full outer join: high-value orders against orders having oversized
    * line items — rows survive from BOTH unmatched sides (null-padded),
    * the join form the reference lacks entirely. Both keys are surfaced
    * unsmashed so the null pattern itself is oracle-checked.
    */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 200000)
      .select(col("o_orderkey"), col("o_totalprice"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 45)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_big_items"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "full")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("l_orderkey"), col("n_big_items"))
  }

  /** Hand-salted large-large equi-join: the probe side gets a
    * deterministic salt in [0, S), the build side is replicated S× with
    * every salt value, and the join key becomes (orderkey, salt) — the
    * classic hot-key defuser when ONE key's rows exceed an executor
    * (AQE's skew-join splits stragglers at runtime; explicit salting is
    * the plan-level form that also covers aggregations and works without
    * runtime statistics). The aggregated result is oracle-checked against
    * the UNSALTED join — salting must never change semantics.
    */
  def joinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    // salt from a hash, not a raw column: l_linenumber is 1..7 (salt 0
    // would never occur and the spread would mirror the column's own skew);
    // the hash is uniform over all S buckets for any input distribution
    // balanced: the probe-side salt + join + partial agg fused into the
    // scan's 3 splits (1.1 s of the op's 2.6 s at sf0.1, r17 profile) —
    // repartition the probe columns to core count first (guide §2.5);
    // no-op at production scale.
    val l = Tables.balanced(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")))
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(S))
          .cast(IntegerType))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        explode(lit((0 until S).toArray)).as("salt"))
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("revenue"))
  }

  /** Explicit cross join of the two bounded dimensions — the one join type
    * that is ONLY safe when a side is provably tiny; both sides broadcast-
    * sized here (reference has no joins at all; SURVEY §2.5).
    */
  def crossJoinDims(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
      .crossJoin(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name")))

  /** Range join (SURVEY §2.5 joins: range/as-of): per purchase event, the
    * count and value of the same user's events in the preceding hour. The
    * range predicate rides an EQUI-join on user_id, so the plan is a hash
    * join whose per-key candidate set is one user's history — bounded and
    * skew-safe — never an unbounded interval cross-product. Left join
    * keeps purchases with an empty window (n_prior = 0).
    */
  def rangeJoinPriorHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
        col("ts").as("p_ts"))
    val prior = purchases.join(e,
        col("user_id") === col("p_user_id") &&
          col("ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("ts") < col("p_ts"))
      .groupBy(col("p_event_id"))
      .agg(
        count(lit(1)).as("n_prior"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("prior_value"))
    purchases
      .join(prior, Seq("p_event_id"), "left")
      .select(
        col("p_event_id").as("event_id"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        col("prior_value"))
  }

  /** Navigation window functions (SURVEY §2.5 window: first/last/lag/lead)
    * over each user's event sequence, ordered deterministically by
    * (ts, event_id). `last_value` takes the explicit full-partition frame —
    * the default RANGE frame would see only the prefix.
    */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        col("user_id"),
        first(col("event_id")).over(full).as("first_event"),
        last(col("event_id")).over(full).as("last_event"),
        lag(col("value"), 1).over(ord).as("prev_value"),
        lead(col("value"), 1).over(ord).as("next_value"))
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): two aggregates of
    * the event stream keyed by a NULLABLE derived key (error events map to
    * NULL) joined so the NULL groups MATCH — a plain `=` would silently
    * drop them, the classic lost-rows bug when a dimension key is
    * optional. Catalyst plans `<=>` as a hash join on the null-safe key
    * (no fallback to nested loops), so the shape is identical to a normal
    * equi-join at scale.
    */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("k", nullif(col("event_type"), lit("error")))
    val counts = ev.groupBy(col("k")).agg(count(lit(1)).as("n_events"))
    val values = ev.groupBy(col("k").as("k2"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
    counts.join(values, col("k") <=> col("k2"))
      .select(
        coalesce(col("k"), lit("(error)")).as("event_key"),
        col("n_events"), col("sum_value"))
  }

  /** Batch MERGE (SCD-1 key upsert): apply a change set to a base table —
    * change rows win on key conflict, unmatched rows of either side
    * survive. This is the reference's streaming upsert semantics
    * (processor.py:145-164's ON CONFLICT DO UPDATE) as a BATCH operator:
    * one full-outer equi-join on the merge key + per-column coalesce with
    * the change side first. At scale this is the standard MERGE INTO
    * shape — a single key-partitioned shuffle, no windows, no broadcast
    * needed on either side; AQE splits skewed merge keys. Fixture: 80% of
    * orders as the base, the top-half key range re-priced as the change
    * set, so the output exercises update / insert / keep-unchanged rows.
    */
  def mergeUpsertBatch(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val base = o.filter(col("o_orderkey") % 10 < 8)
    val changes = o.filter(col("o_orderkey") % 10 >= 5)
      .select(
        col("o_orderkey"),
        (col("o_totalprice") * 2).as("c_totalprice"),
        lit("UPDATED").as("c_orderpriority"))
    base.join(changes, Seq("o_orderkey"), "full_outer")
      .select(
        col("o_orderkey"),
        coalesce(col("c_totalprice"), col("o_totalprice")).as("o_totalprice"),
        coalesce(col("c_orderpriority"), col("o_orderpriority")).as("o_orderpriority"))
  }

  /** Full ANSI MERGE triad: WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT /
    * WHEN NOT MATCHED BY SOURCE [AND cond] DELETE — the third branch the
    * reference's ON CONFLICT upsert (processor.py:145-164) cannot express.
    * Same full-outer-join shape as [[mergeUpsertBatch]] plus ONE filter:
    * the source-presence marker (`c_orderpriority`, a literal on every
    * change row, so NULL iff no source match) keeps matched+inserted rows,
    * and base-only rows survive unless they hit the delete condition
    * (urgent orders absent from the change feed are retired). All four row
    * fates — updated, inserted, kept, deleted — are exercised by the
    * fixture. Still a single key-partitioned shuffle; the delete branch
    * adds no exchange, and AQE skew-splits the merge key as before.
    */
  def mergeFullTriad(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val base = o.filter(col("o_orderkey") % 10 < 8)
    val changes = o.filter(col("o_orderkey") % 10 >= 5)
      .select(
        col("o_orderkey"),
        (col("o_totalprice") * 2).as("c_totalprice"),
        lit("UPDATED").as("c_orderpriority"))
    base.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(col("c_orderpriority").isNotNull ||
              col("o_orderpriority") =!= "1-URGENT")
      .select(
        col("o_orderkey"),
        coalesce(col("c_totalprice"), col("o_totalprice")).as("o_totalprice"),
        coalesce(col("c_orderpriority"), col("o_orderpriority")).as("o_orderpriority"))
  }

  /** Collation-aware distinct — Spark 4's native string collations
    * (`collate(col, 'UTF8_LCASE')`) push case-insensitivity into the
    * TYPE, so comparisons, grouping and distinct honor it inside codegen
    * and hash exchanges instead of via `lower()` wrappers that defeat
    * per-column stats and dictionary pushdown. The fixture's part names
    * are single-case, so the query manufactures case variance (each name
    * unioned with its uppercase twin) and counts distinct names per
    * brand under the case-insensitive collation: exactly half the
    * raw distinct count, which the oracle reproduces with
    * `count(DISTINCT lower(nm))` — the semantics collations subsume.
    * One data-key shuffle (container); distinct runs as a partial
    * aggregate under it.
    */
  def collationDistinct(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .select(col("p_brand").as("brand"), col("p_name").as("nm"))
    names.union(names.select(col("brand"), upper(col("nm"))))
      .groupBy(col("brand"))
      .agg(
        count_distinct(collate(col("nm"), "UTF8_LCASE")).as("n_names_ci"),
        count(lit(1)).as("n_rows"))
  }

  /** Sampled-key percentage for [[joinSizeEstimate]] — public so the
    * oracle SQL interpolates THIS value (must divide 100 so the
    * Horvitz-Thompson scale-up 100/p stays an exact integer).
    */
  val JoinSamplePct = 10L

  /** Equi-join cardinality estimation by KEY-CLUSTER sampling — the
    * cost-model number an optimizer wants BEFORE committing to a join
    * strategy, and the planning-lane companion to `salt_plan` /
    * `compaction_plan`: |orders ⋈ lineitem| estimated from the join
    * restricted to the ~[[JoinSamplePct]]% of orderkeys selected by the
    * shared [[PipelineOps.permKey]] multiplicative hash, scaled by
    * 100/p. Sampling KEYS (keeping every row of a sampled key on both
    * sides) is what makes the estimator unbiased with one join: each
    * key's contribution cnt_o(k)·cnt_l(k) enters Bernoulli(p) whole, so
    * E[sample·(100/p)] = Σ_k cnt_o·cnt_l exactly; independent ROW
    * sampling on both sides would estimate p²·Σ and square the variance.
    * Deterministic hash → the "sample" is replayable, so estimate AND
    * ground truth are both oracle-exact; est_over_actual is the single
    * IEEE division. The exact leg exists to VALIDATE the estimator
    * (this is the calibration op); a deployment runs only the sampled
    * leg — its filters evaluate map-side on both scans, so only p% of
    * either table ever shuffles.
    */
  def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    val scale = 100L / JoinSamplePct
    // the ONE family bucketing (permKey mod 100) — sharing hashBucket
    // keeps this op's sample aligned with the split/pps/cv family
    def keyHit(c: Column) = PipelineOps.hashBucket(c) < lit(JoinSamplePct)
    val o = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey").as("k"))
    val actual = o.join(l, "k").agg(count(lit(1)).as("actual_rows"))
    val sampled = o.filter(keyHit(col("k")))
      .join(l.filter(keyHit(col("k"))), "k")
      .agg(count(lit(1)).as("sample_rows"))
    actual.crossJoin(sampled)
      .select(col("actual_rows"), col("sample_rows"),
        (col("sample_rows") * lit(scale)).as("est_rows"),
        when(col("actual_rows") =!= 0,
          (col("sample_rows") * lit(scale)).cast(DoubleType)
            / col("actual_rows").cast(DoubleType)).as("est_over_actual"))
  }
}
