package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Tables

/** Storage-layout operators — the two table-layout levers that decide
  * whether a 100 TB join/scan is feasible at all:
  *
  *  - '''Bucketed co-located join''': both fact tables are written
  *    `bucketBy(N, key)` + `sortBy(key)`, so an equi-join on the bucket key
  *    needs NO shuffle on either side — each task merge-joins bucket i of
  *    both tables in place. At 100 TB this is the difference between
  *    re-shuffling terabytes per join and zero network traffic; the
  *    write-side bucketing cost amortizes over every downstream join.
  *    (PlanSpec pins the exchange-free shape.)
  *
  *  - '''Partition pruning''': the fact table is written
  *    `partitionBy(col)`; a predicate on the partition column eliminates
  *    whole directories at PLANNING time — the scan never opens a pruned
  *    file, so a selective filter reads 1/k of the table instead of
  *    filtering rows post-read. (PlanSpec asserts the pruned scan.)
  *
  * Both ops build their layout ONCE per source table ([[ensure]], through
  * the [[Tables.memo]] build-once cache) and then answer queries through
  * the layout; the oracle runs the equivalent SQL over the RAW parquet,
  * proving layout changes never change results.
  */
object StorageOps {

  /** The ONE place the managed-table-location assumption lives: staging
    * moving to a named database or explicit LOCATION changes this and
    * nothing else ([[ensure]]'s orphan cleanup and every path-based
    * reader go through it).
    */
  private[ops] def tableLocation(spark: SparkSession, tbl: String): String =
    spark.conf.get("spark.sql.warehouse.dir") + "/" + tbl

  /** Build-once catalog table derived from (dir, source table): the table
    * name embeds a hash of the source's fingerprint, so distinct SF dirs
    * (or rewritten data) in one JVM get distinct tables, and
    * [[Tables.memo]] skips repeat existence checks until the source
    * changes. A fresh JVM starts with an empty in-memory catalog but the
    * warehouse DIRECTORY survives on disk — `saveAsTable` refuses that
    * orphan location (LOCATION_ALREADY_EXISTS; `overwrite` only drops
    * locations of tables the catalog knows), so delete it before building.
    * A rebuild for a rewritten source drops the table it supersedes, with
    * its location and any `<table>_*` sibling location, so each (session,
    * dir, base) keeps one stored table.
    */
  private[ops] def ensure(spark: SparkSession, dir: String, source: String,
                          base: String)(build: String => Unit): String =
    Tables.memo(spark, base, Tables.path(dir, source))({ fingerprint =>
      // 64 hex bits of SHA-256, not String.hashCode: with a 31-bit name a
      // colliding (dir, fingerprint) pair would silently SERVE THE OTHER
      // CORPUS'S TABLE (tableExists short-circuits the build)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$dir#$base#$fingerprint".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      val tbl = base + "_" + digest
      if (!spark.catalog.tableExists(tbl)) {
        deleteLocations(spark, tbl)
        build(tbl)
      }
      tbl
    }, { (old: String) =>
      spark.sql(s"DROP TABLE IF EXISTS `$old`")
      deleteLocations(spark, old)
    })

  /** Deletes `tbl`'s warehouse location and its `<tbl>_*` siblings. */
  private def deleteLocations(spark: SparkSession, tbl: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(tableLocation(spark, tbl))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (loc +: Option(fs.globStatus(loc.suffix("_*"))).toSeq.flatten.map(_.getPath))
      .foreach(fs.delete(_, true))
  }

  /** Orders ⋈ lineitem on the order key with BOTH sides bucketed (and
    * per-file sorted) on that key: the executed plan is a sort-merge join
    * with no Exchange on either input — the only shuffle in the query is
    * the final 3-group aggregation. Revenue aggregates in DECIMAL (exact,
    * order-independent) and crosses the output boundary as DOUBLE.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val oT = ensure(spark, dir, "orders", "graft_orders_bkt") { tbl =>
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus"))
        .write.format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(tbl)
    }
    val lT = ensure(spark, dir, "lineitem", "graft_lineitem_bkt") { tbl =>
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(tbl)
    }
    val disc = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(18, 2)))
    spark.table(oT)
      .join(spark.table(lT), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(disc).cast(DoubleType).as("revenue"))
  }

  /** Events partitioned by event_type; the `event_type = 'click'` predicate
    * prunes sibling partitions at planning time (PartitionFilters on the
    * scan, zero data filters) — the scan reads ~1/5 of the table. Daily
    * click volume per partition-pruned scan; day crosses the boundary as a
    * string (DATE objects hash differently across engines) and value sums
    * in DECIMAL.
    */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val eT = ensure(spark, dir, "events", "graft_events_parted") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          col("event_type"))
        .write.format("parquet").partitionBy("event_type")
        .mode("overwrite").saveAsTable(tbl)
    }
    spark.table(eT)
      .filter(col("event_type") === "click")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_clicks"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("click_value"))
  }

  /** Dynamic partition pruning — the RUNTIME companion of
    * [[partitionPrune]]'s static pruning: the selective predicate lives on
    * a DIMENSION attribute (category), so no static filter on the fact's
    * partition column exists at plan time. Catalyst broadcasts the
    * filtered dim, then prunes the fact's event_type partition
    * DIRECTORIES with a `dynamicpruningexpression` fed from the broadcast
    * (PlanSpec-pinned) — at 100 TB this is the difference between
    * scanning 2 of N partitions and scanning the whole fact table, for a
    * predicate the engine only learns at runtime. Star-schema queries are
    * exactly this shape.
    */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val eT = ensure(spark, dir, "events", "graft_events_parted") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          col("event_type"))
        .write.format("parquet").partitionBy("event_type")
        .mode("overwrite").saveAsTable(tbl)
    }
    // The dim attribute must be DATA-dependent (an aggregate), not an
    // expression of the join key: a literal Seq.toDF dim constant-folds
    // its filter away, and a `category = f(event_type)` dim gets
    // constraint-propagated into a STATIC PartitionFilter — both leave
    // nothing for runtime pruning to do. "First seen before the cutoff"
    // can only be known by reading the dim data, so the fact scan's
    // partition set is genuinely decided at runtime.
    val dims = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(min(col("ts")).as("first_ts"))
    spark.table(eT)
      .join(dims.filter(
        col("first_ts") < lit("2024-01-01 01:00:00").cast(TimestampType)), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
  }

  /** Small-file compaction — the table-maintenance pass every streaming
    * ingest needs: micro-batch sinks leave one file per trigger per
    * partition, and a year of 60 s triggers is ~500k tiny files whose
    * open/footer cost dominates scans long before data volume does. The
    * staged table simulates that debris (64 files); compaction rewrites it
    * into a handful of scan-sized files in one shuffle-free coalesce pass.
    * Production sizing divides table bytes by a 128 MB target (and uses
    * maxRecordsPerFile for the tail); the 4-file target here keeps the
    * fixture deterministic. The oracle aggregates the RAW events table —
    * compaction must never change query results, only file geometry
    * (PlanSpec asserts the 64 → ≤8 file-count drop).
    */
  def compactionScan(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensure(spark, dir, "events", "graft_events_smallfiles") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartition(64)
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    val compacted = ensure(spark, dir, "events", "graft_events_compacted") { tbl =>
      spark.table(staged)
        .coalesce(4)
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    formatProbe(spark.table(compacted))
  }

  /** Target bytes per compacted output group for [[compactionPlan]] —
    * public so the oracle SQL interpolates THIS value. 4 KiB keeps the
    * fixture's per-source corpora (~7.5 KB at sf0.01) spanning several
    * bins; a deployment sets ~128 MB.
    */
  val CompactTargetBytes = 4096L

  /** Compaction PLAN — the sizing table [[compactionScan]]'s rewrite
    * executes from: which small files coalesce into which output group.
    * Files are modeled by the documents table (doc_id = file id, n_chars
    * = bytes — a manifest scan in production); within each source
    * partition, files pack in id order by STREAMING first-fit: bin_id =
    * ⌊running-bytes-before / [[CompactTargetBytes]]⌋, the bin-packing
    * every LSM/lakehouse compactor (Delta OPTIMIZE, Iceberg rewrite)
    * runs per table partition. A bin can exceed target by less than one
    * file — the standard streaming-pack guarantee; per (source, bin):
    * file count, exact byte total, id range. Integer arithmetic end to
    * end — fully oracle-checked.
    *
    * Scale: the cumulative sum is per-SOURCE sequential (one ordered
    * window per partition key) — exactly how production compactors
    * schedule it, because a lake's physical partitions (source × date)
    * bound the per-partition file count; the window never sees more
    * than one partition's manifest. The plan frame is
    * manifest-sized, not data-sized: at 100 TB the input is the file
    * listing (~10⁶ rows), never the rows inside the files.
    */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars").as("b"))
      .withColumn("cum_before", coalesce(sum(col("b")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"cum_before div $CompactTargetBytes"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("b")).as("bytes"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
  }

  /** Shared probe aggregate for the format round-trip sources: identical
    * to [[compactionScan]]'s — a format change must never change query
    * results, so all three text/columnar sources share ONE oracle (the
    * same SQL over the parquet original).
    */
  /** Schema-evolution scan: a table whose files span TWO schema
    * generations — v1 (even event_ids) lacks `event_type`, v2 (odd) has
    * it — read through `mergeSchema`, the lakehouse mechanism for
    * widening a table without rewriting history. The merged scan NULLs
    * the missing column for v1 files; the aggregate groups legacy rows
    * under `_legacy` so the oracle can reproduce it from the raw table
    * with a parity CASE. mergeSchema costs a footer read per file at
    * planning (not a data scan); steady-state reads pin the explicit
    * merged schema instead.
    */
  def schemaEvolutionScan(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensure(spark, dir, "events", "graft_events_evo") { tbl =>
      val ev = Tables.events(spark, dir)
      // v1 generation becomes the catalog table; the v2 generation (wider
      // schema) lands in a sibling location — saveAsTable(append) would
      // reject the widened schema against the catalog, which is exactly
      // the migration moment mergeSchema reads bridge
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
      // ensure deleted any stale `<tbl>_g2` before this build
      val loc2 = tableLocation(spark, tbl) + "_g2"
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.parquet(loc2)
    }
    val loc = tableLocation(spark, staged)
    spark.read.option("mergeSchema", "true").parquet(loc, loc + "_g2")
      .groupBy(coalesce(col("event_type"), lit("_legacy")).as("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
  }

  private def formatProbe(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))

  private val evSchema =
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

  /** JSON-lines batch source — the reference's wire format read from
    * files instead of a topic (producer/producer.py:51-58 emits exactly
    * such lines). Schema-on-READ: the explicit schema + PERMISSIVE mode
    * means a malformed line NULLs its row instead of killing the job, and
    * no sampling inference pass runs (inference is a full extra scan at
    * corpus scale AND nondeterministic under sampling). The timestamp
    * column stays OUT of the round-trip: JSON text serialization of
    * sub-second precision is formatter-dependent, the one lossy field in
    * an otherwise exact long/double round-trip (doubles print
    * shortest-form and reparse bit-exactly).
    */
  def jsonLinesScan(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensure(spark, dir, "events", "graft_events_jsonl") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("json").mode("overwrite").saveAsTable(tbl)
    }
    val loc = tableLocation(spark, staged)
    formatProbe(spark.read.schema(evSchema).option("mode", "PERMISSIVE").json(loc))
  }

  /** CSV batch source, header + explicit schema (no inference pass —
    * see [[jsonLinesScan]]). Long/double fields round-trip exactly
    * through CSV text; the probe aggregate hash-matches the parquet
    * original's oracle.
    */
  def csvScan(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensure(spark, dir, "events", "graft_events_csv") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("csv").option("header", "true").mode("overwrite")
        .saveAsTable(tbl)
    }
    val loc = tableLocation(spark, staged)
    formatProbe(spark.read.schema(evSchema)
      .option("header", "true").option("mode", "PERMISSIVE").csv(loc))
  }

  /** XML batch source — Spark 4 folded `spark-xml` into core, so XML is a
    * first-class FileFormat (`org.apache.spark.sql.execution.datasources
    * .xml`); an ingest pipeline meets it as the export format of legacy
    * enterprise systems. Same schema-on-READ discipline as the other text
    * formats: explicit schema + PERMISSIVE (inference on XML is an extra
    * full scan that must sample attribute/element ambiguity). Long/double
    * fields round-trip exactly through element text (shortest-form double
    * printing, like JSON); `rowTag` is pinned on BOTH sides because write
    * and read defaults differ.
    */
  def xmlScan(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensure(spark, dir, "events", "graft_events_xml") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("xml").option("rowTag", "event").mode("overwrite")
        .saveAsTable(tbl)
    }
    val loc = tableLocation(spark, staged)
    formatProbe(spark.read.schema(evSchema)
      .option("rowTag", "event").option("mode", "PERMISSIVE")
      .format("xml").load(loc))
  }

  /** ORC batch source — the other columnar format a lakehouse inherits;
    * types round-trip natively (no text serialization), and a PATH read
    * (symmetric with the other two sources) makes the ORC footer schema
    * authoritative; the scan gets the same pushdown/pruning treatment as
    * parquet (FileSourceScanExec either way).
    */
  def orcScan(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensure(spark, dir, "events", "graft_events_orc") { tbl =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("orc").mode("overwrite").saveAsTable(tbl)
    }
    formatProbe(spark.read.orc(tableLocation(spark, staged)))
  }

  /** Morton (z-order) key: the low 16 bits of two BIGINT dimensions bit-
    * interleaved into one 32-bit sort key, built as ONE arithmetic
    * expression string shared verbatim by Spark and the oracle — shifts,
    * masks and `+` only (the interleaved bit positions never overlap, so
    * `+` ≡ `|` and stays portable). Sorting a table by z groups rows that
    * are close in BOTH dimensions into the same file, which is what makes
    * 2-D min/max data skipping work: a predicate box on (x, y) touches only
    * the files whose per-file stats intersect it, instead of every file the
    * way a 1-D sort on either single dimension would for the other column.
    */
  def zvalueSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")

  /** Events epoch-minute index relative to 2024-01-01 — the second z
    * dimension. Integer floor division end-to-end (the ns→µs→minute chain
    * stays in BIGINT; doubles lose integer exactness past 2^53).
    */
  private val minuteOrigin = 1704067200L / 60 // 2024-01-01T00:00:00Z

  /** The fused Hilbert kernel as a Column — ONE construction site for
    * both [[hilbertKey]] and the [[hilbertScan]] layout, so the key an
    * op surfaces and the key the files are laid out on can never be
    * built over different coordinates.
    */
  private def hilbertCol(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.HilbertIndex(
        org.apache.spark.sql.GraftBridge.expression(x),
        org.apache.spark.sql.GraftBridge.expression(y)))

  /** Bits per dimension for [[hilbertKey]] (grid side [[HilbertN]]) —
    * single-sourced from the fused kernel so the oracle's CTE chain and
    * the Spark expression can never disagree on the grid.
    */
  val HilbertBits: Int = graft.functions.HilbertIndex.Bits
  val HilbertN: Long = 1L << HilbertBits

  /** One Hilbert fold step at level `s`: the (next-x, next-y,
    * d-increment) expression strings of the textbook xy2d walk (quadrant
    * digit via the Gray decode (3·rx) xor ry — spelled arithmetically as
    * 3rx + ry − 2·rx·ry because `^` is POWER in DuckDB — then the
    * flip-and-swap rotation, flipping against the FULL grid N−1 so every
    * intermediate stays in [0, N): the sub-square s−1 variant walks
    * negatives through two's-complement `&`, which both engines happen to
    * agree on but neither should be asked to). CASE/&/·/− only. Since the
    * Spark side moved to the fused [[graft.functions.HilbertIndex]]
    * kernel these strings are the ORACLE's derivation only (16 chained
    * CTEs over coordinates pre-masked to the grid at h0) — the hash match
    * is now a cross-derivation proof: imperative loop vs per-level
    * relational fold must agree bit for bit on every fixture row.
    */
  private[graft] def hilbertStepExprs(
      s: Long, x: String, y: String): (String, String, String) = {
    val rx = s"(CASE WHEN ($x & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN ($y & $s) > 0 THEN 1 ELSE 0 END)"
    val inc = s"${s * s} * (3 * $rx + $ry - 2 * $rx * $ry)"
    def flip(v: String) = s"(CASE WHEN $rx = 1 THEN ${HilbertN - 1} - $v ELSE $v END)"
    val nx = s"(CASE WHEN $ry = 0 THEN ${flip(y)} ELSE $x END)"
    val ny = s"(CASE WHEN $ry = 0 THEN ${flip(x)} ELSE $y END)"
    (nx, ny, inc)
  }

  /** Hilbert-curve key over (user_id, minute) — the layout companion to
    * [[zorderKey]]: at equal bit budget the Hilbert curve strictly beats
    * Morton on locality (every consecutive pair of keys is an ADJACENT
    * grid cell, so a file of contiguous keys covers a connected region —
    * no Morton "seams" where the curve teleports across the box), which
    * is why large lakehouses offer both and prefer Hilbert for
    * multi-dimensional clustering at scale. The walk is the fused
    * [[graft.functions.HilbertIndex]] kernel — one codegen'd loop per
    * row, coordinates masked to the grid's low [[HilbertBits]] bits
    * exactly like [[zvalueSql]]'s Morton truncation (unmasked input used
    * to walk the N−1−x flip negative at coordinates ≥ 2^16 and silently
    * stop being a Hilbert index). Fully oracle-checked against an
    * INDEPENDENT derivation (the [[hilbertStepExprs]] CTE chain), and
    * HilbertSpec pins the two defining curve properties on a complete
    * grid — bijectivity and unit-step adjacency — against a driver-side
    * replay, the masking contract out-of-range, plus the quantitative
    * clustering win (Moon et al. 2001): 7.85 vs 13.96 mean
    * contiguous-key clusters per 8×8 query box over the fixture's cells.
    *
    * Scale: per-row integer arithmetic, map-only, no exchange, one
    * whole-stage-codegen'd loop (~Bits iterations) per row.
    */
  def hilbertKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .selectExpr("event_id", "user_id",
        s"unix_micros(ts) div 1000000 div 60 - $minuteOrigin AS m")
      .withColumn("hval", hilbertCol(col("user_id"), col("m")))

  /** The z-ordered events layout: (event_id, user_id, m, value, zval)
    * range-partitioned into 16 files by zval and sorted by zval within
    * each, so every file covers a tight box in (user_id, minute) space and
    * carries parquet min/max stats for BOTH columns.
    */
  private def zorderedEvents(spark: SparkSession, dir: String): String =
    ensure(spark, dir, "events", "graft_events_zorder") { tbl =>
      Tables.events(spark, dir)
        .select(
          col("event_id"), col("user_id"), col("value"),
          // same exact integer formula as zorderKey — double division here
          // only agreed by luck (error below the 1µs offset), and layout vs
          // key computation must share one rounding
          expr(s"unix_micros(ts) div 1000000 div 60 - $minuteOrigin").as("m"))
        .withColumn("zval", expr(zvalueSql("user_id", "m")))
        .repartitionByRange(16, col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }

  /** The z-key computation itself, surfaced per event so the oracle proves
    * the interleave arithmetic is engine-identical bit for bit.
    */
  def zorderKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("user_id"),
        expr(s"unix_micros(ts) div 1000000 div 60 - $minuteOrigin").as("m"))
      .withColumn("zval", expr(zvalueSql("user_id", "m")))

  /** A 2-D predicate box — a user-id band × a time band — answered through
    * the z-ordered layout. Both predicates push to parquet; the scan's
    * row-group stats eliminate every file whose (user_id, m) box misses the
    * query box (ZorderSpec measures the skip against a random layout). The
    * oracle computes the same box on the RAW events table: layout must
    * never change results.
    */
  def zorderScan(spark: SparkSession, dir: String): DataFrame =
    spark.table(zorderedEvents(spark, dir))
      .filter(col("user_id") >= 40 && col("user_id") < 80 &&
              col("m") >= 10000L && col("m") < 20000L)
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))

  /** The Hilbert-ordered events layout — [[zorderedEvents]]' twin keyed
    * by the fused [[graft.functions.HilbertIndex]] key: range-partitioned
    * into 16 files by hval and sorted within, so every file covers a
    * CONNECTED region of (user_id, minute) space (the curve's defining
    * adjacency — Morton files cover a region with seams) and carries
    * parquet min/max stats for both columns.
    */
  private def hilbertEvents(spark: SparkSession, dir: String): String =
    ensure(spark, dir, "events", "graft_events_hilbert") { tbl =>
      Tables.events(spark, dir)
        .select(
          col("event_id"), col("user_id"), col("value"),
          expr(s"unix_micros(ts) div 1000000 div 60 - $minuteOrigin").as("m"))
        .withColumn("hval", hilbertCol(col("user_id"), col("m")))
        .repartitionByRange(16, col("hval"))
        .sortWithinPartitions(col("hval"))
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }

  /** The [[zorderScan]] box query answered through the HILBERT layout —
    * the pair that makes the locality claim operational: same predicate
    * box, same oracle (the box on RAW events — layout must never change
    * results), different curve under the files. Both predicates push to
    * parquet and row-group stats prune files whose (user_id, m) box
    * misses. On THIS single box at 16-file granularity the two curves
    * skip within 1% of each other (measured: 3180 vs 3145 of 10k rows —
    * PlanSpec pins both >50% and within 25%); Hilbert's strict advantage
    * is a MEAN over query boxes at finer file granularity, pinned
    * quantitatively by HilbertSpec's clusters-per-box measurement
    * (7.85 vs 13.96) — fewer contiguous key runs = fewer file ranges a
    * box touches as files shrink toward run length.
    */
  def hilbertScan(spark: SparkSession, dir: String): DataFrame =
    spark.table(hilbertEvents(spark, dir))
      .filter(col("user_id") >= 40 && col("user_id") < 80 &&
              col("m") >= 10000L && col("m") < 20000L)
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))

  /** Dynamic partition overwrite — the idempotent-backfill primitive of a
    * partitioned lake: rewriting ONE partition's contents replaces exactly
    * the partitions the incoming frame touches and leaves every sibling
    * directory byte-untouched (static overwrite mode would TRUNCATE the
    * whole table first — the classic backfill footgun). Here the `click`
    * partition is re-derived from source with a quality filter
    * (value ≥ 1.00, a reprocessing-style correction); `signup`/`error`/
    * `view`/`purchase` survive as-is, proven by the oracle computing the
    * same CASE-split over raw events. The overwrite reads from the RAW
    * source, never from the table being overwritten (self-read-overwrite
    * is both rejected by Spark and semantically circular for a backfill),
    * and re-running it is a no-op rewrite of identical bytes — the
    * at-least-once retry contract a scheduled backfill needs. The mode
    * conf is set scoped-and-restored, not globally. Dynamic mode's one
    * semantic hole is guarded explicitly: an EMPTY backfill frame
    * touches no partitions under dynamic overwrite (stale rows would
    * survive, silently diverging from the declared result), so that
    * case routes through the STATIC partition-spec INSERT OVERWRITE,
    * which truncates the named partition regardless of row count.
    */
  def dynamicPartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val evCols = Seq(col("event_id"), col("ts"), col("user_id"), col("value"))
    val staged = ensure(spark, dir, "events", "graft_events_dpo") { tbl =>
      Tables.events(spark, dir)
        .select(evCols :+ col("event_type"): _*)
        .write.format("parquet").partitionBy("event_type")
        .mode("overwrite").saveAsTable(tbl)
    }
    val backfill = Tables.events(spark, dir)
      .filter(col("event_type") === "click" && col("value") >= 1.0)
      .select(evCols :+ col("event_type"): _*)
    if (backfill.isEmpty) {
      // dynamic overwrite's one semantic hole: an EMPTY frame touches no
      // partitions, which would leave the stale click rows in place (and
      // silently diverge from the backfill's declared result). "Replace
      // with nothing" needs the STATIC partition-spec form, which
      // truncates the named partition regardless of row count.
      Tables.sql(spark,
        s"INSERT OVERWRITE TABLE $staged PARTITION (event_type = 'click') " +
        "SELECT event_id, ts, user_id, value FROM graft_dpo_backfill",
        "graft_dpo_backfill" -> backfill)
    } else {
      // The mode flip is SESSION-wide (restored in finally, but not
      // atomic): a concurrent writer on this SparkSession would silently
      // inherit dynamic-overwrite semantics for the duration. This op
      // assumes the registry's single-threaded driver; a multi-tenant
      // deployment should scope the mode via a dedicated session
      // (spark.newSession()) or DataFrameWriterV2.overwritePartitions.
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(modeKey)
      spark.conf.set(modeKey, "dynamic")
      try {
        // insertInto is POSITIONAL; the catalog schema has the partition
        // column last, so the select matches spark.table(staged).columns
        backfill.write.mode("overwrite").insertInto(staged)
      } finally prev match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None    => spark.conf.unset(modeKey)
      }
    }
    spark.table(staged)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
  }
}
