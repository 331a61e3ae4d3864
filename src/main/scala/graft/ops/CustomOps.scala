package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** User-extension surface (SURVEY §2.5 "UDF/UDAF/UDTF"): the reference has
  * zero custom functions — everything it computes is built-ins — so these
  * are the engine's declared proof points for each extension mechanism:
  * a scalar `udf`, a typed `Aggregator` (UDAF), and a Generator-style
  * explode (UDTF). Each is still oracle-checkable.
  *
  * Scale guidance encoded here: a Scala UDF breaks whole-stage codegen at
  * the call site (rows are materialized to invoke the closure), so UDFs are
  * for logic that genuinely can't be expressed with built-ins; the
  * surrounding pipeline stays declarative so Catalyst still prunes/pushes
  * around the opaque call.
  */
object CustomOps {

  /** Scalar UDF proof point: a rational quality score
    * tokens/(tokens + 50) — pure double arithmetic (no transcendentals, so
    * any engine computes identical bits).
    */
  def udfScore(spark: SparkSession, dir: String): DataFrame = {
    val score = udf((nTokens: Int) => nTokens / (nTokens + 50.0))
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(trim(col("text")), " ")))
      .select(col("doc_id"), col("n_tokens"),
        score(col("n_tokens")).as("score"))
  }

  private type PQ = (String, java.math.BigDecimal, java.math.BigDecimal)

  /** Typed UDAF: decimal-exact VWAP as an `Aggregator`. The buffer is the
    * pair of exact decimal sums (Σ price·qty, Σ qty); merge is associative
    * and commutative, so partial aggregation combines map-side and the
    * shuffle carries one buffer per key per partition. The single
    * double-precision step happens once at `finish`.
    */
  object VwapAggregator extends Aggregator[
      PQ,
      (java.math.BigDecimal, java.math.BigDecimal),
      java.lang.Double] {
    private val Z = java.math.BigDecimal.ZERO
    def zero: (java.math.BigDecimal, java.math.BigDecimal) = (Z, Z)
    def reduce(b: (java.math.BigDecimal, java.math.BigDecimal), a: PQ) =
      if (a._2 == null || a._3 == null) b
      else (b._1.add(a._2.multiply(a._3)), b._2.add(a._3))
    def merge(x: (java.math.BigDecimal, java.math.BigDecimal),
              y: (java.math.BigDecimal, java.math.BigDecimal)) =
      (x._1.add(y._1), x._2.add(y._2))
    def finish(b: (java.math.BigDecimal, java.math.BigDecimal)): java.lang.Double =
      if (b._2.signum == 0) null
      else java.lang.Double.valueOf(b._1.doubleValue() / b._2.doubleValue())
    def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.DECIMAL, org.apache.spark.sql.Encoders.DECIMAL)
    def outputEncoder = org.apache.spark.sql.Encoders.DOUBLE
  }

  /** VWAP per symbol through the typed-Dataset Aggregator path —
    * semantically identical to the declarative `vwap` query, proving the
    * UDAF mechanism against the same oracle.
    */
  def aggCustomVwap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(
        col("event_type"),
        col("value").cast(DecimalType(18, 2)),
        get_json_object(col("props"), "$.k").cast(DecimalType(18, 0)))
      .as[PQ]
      .groupByKey(_._1)
      .agg(VwapAggregator.toColumn.name("vwap"))
      .toDF("symbol", "vwap")
  }

  /** Generator (UDTF-shape) proof point: posexplode of the token array —
    * one (doc_id, pos, token) row per token. Row expansion happens BEFORE
    * any shuffle; downstream ops see rows that partition freely.
    */
  def explodeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("pos", "token")))
      .filter(length(col("token")) >= 6)

  /** Map-function family: props JSON → map<string,string>, surfacing sorted
    * keys and a point lookup.
    */
  def jsonMapKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
      .select(
        col("event_id"),
        array_join(sort_array(map_keys(col("m"))), ",").as("keys"),
        col("m").getItem("k").as("k_value"))

  /** Typed `Dataset.groupByKey(...).mapGroups` proof point — the last §2.5
    * extension mechanism (arbitrary JVM logic per group, with Encoders
    * instead of Rows): the longest inter-event gap per event type.
    *
    * Scale contract, stated honestly: `mapGroups` MATERIALIZES each group
    * on one task, so it is only safe when the per-group volume is bounded
    * (here: a handful of event types; generally: after a pre-aggregation).
    * The relational twin — max over a lag window — is the shape that
    * scales unbounded, and it is exactly what the oracle runs, so the
    * gate also proves the typed and relational forms agree.
    */
  def typedMaxGap(spark: SparkSession, dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast(LongType).as("ts_s"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (tpe, rows) =>
        val ts = rows.map(_._2).toArray
        java.util.Arrays.sort(ts)
        val maxGap = if (ts.length < 2) 0L
          else ts.indices.tail.map(i => ts(i) - ts(i - 1)).max
        (tpe, ts.length.toLong, maxGap)
      }
      .toDF("event_type", "n_events", "max_gap_s")
  }

  /** Typed `KeyValueGroupedDataset.cogroup` proof point — the one typed
    * extension mechanism [[typedMaxGap]]'s mapGroups doesn't cover:
    * arbitrary JVM logic over BOTH sides of a key at once, the typed
    * analogue of a full-outer grouped join. Reconciles orders against
    * their lineitems per orderkey: side cardinalities, the order's
    * total, and the items' exact decimal gross Σ extprice·(1−disc)·
    * (1+tax) — orphan keys on either side surface with a 0 count and a
    * NULL for the absent side's value (the orphan_fk_check shape, typed).
    * Exactness: the gross is SQL-side exact DECIMAL(24,6) per item;
    * the typed fold adds BigDecimals (exact, order-independent) and
    * converts once at the DOUBLE boundary — the same nearest-double the
    * oracle's decimal sum produces.
    *
    * Scale contract, stated honestly: cogroup shuffles both sides on the
    * key and MATERIALIZES both groups per key on one task — safe here
    * (≤1 order per key; lines per order peak at 12 / 13 / 17 at sf0.001 /
    * 0.01 / 0.1 and grow with SF) and generally only when per-key
    * volume is bounded; the relational twin (full outer join of two
    * grouped aggregates) is the unbounded-safe shape and is exactly
    * what the oracle runs, so the gate proves the two forms agree.
    */
  def typedCogroup(spark: SparkSession, dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("tp"))
      .as[(Long, java.math.BigDecimal)]
      .groupByKey(_._1)
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(DecimalType(12, 2))
          * (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
          * (lit(1) + col("l_tax").cast(DecimalType(4, 2)))).as("gross"))
      .as[(Long, java.math.BigDecimal)]
      .groupByKey(_._1)
    orders.cogroup(items) { (k, os, is) =>
      val oArr = os.toArray
      val iArr = is.toArray
      // defensive min (orderkey is unique in the fixture, but the typed
      // side must not depend on group iteration order)
      val tp = oArr.map(_._2)
        .reduceOption((a, b) => if (a.compareTo(b) <= 0) a else b)
      val gross =
        if (iArr.isEmpty) None
        else Some(iArr.map(_._2)
          .foldLeft(java.math.BigDecimal.ZERO)(_ add _))
      Iterator.single((k, oArr.length.toLong, iArr.length.toLong,
        tp.map(d => java.lang.Double.valueOf(d.doubleValue)).orNull,
        gross.map(d => java.lang.Double.valueOf(d.doubleValue)).orNull))
    }.toDF("o_orderkey", "n_orders", "n_items", "total_price", "items_gross")
  }
}
