package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md / FIXTURES.md).
  *
  * Reads are plain `spark.read.parquet` so Catalyst gets a full
  * `FileSourceScanExec`: column pruning and filter pushdown reach the scan
  * (the reference declares a fixed schema for its stream source,
  * reference: spark_processor/processor.py:43-52; for parquet the footer
  * schema is authoritative and explicit StructTypes would only disable
  * schema evolution).
  *
  * At 100 TB these would be partitioned/bucketed tables behind the same
  * function signature — every operator downstream is written
  * partition-count-agnostic so nothing here changes with scale.
  */
object Tables {
  /** `<dir>/<name>.parquet`: one parquet file, or a directory of parts. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** A table's reader, built once per (session, source listing) by [[memo]]
    * (r18, guide §6 "file listing … cached per session"): `spark.read.parquet`
    * pays a driver-side file listing + parquet footer schema read +
    * relation build on EVERY call — 0.09-0.18 s per query construction at
    * sf0.1 (OPTIMIZATION_r18.md, "Tables.table"), where a hit costs one
    * status call (~20 µs for a file, ~130 µs for a directory). The value is
    * the lazy DataFrame only: every action still scans the parquet inputs.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    memo(spark, "reader", p)(_ => spark.read.parquet(p))
  }

  /** The one build-once cache: table readers, the IVF/PQ index builds and
    * the storage-layout tables of `StorageOps.ensure`. An entry is keyed by
    * (session, kind, source path) and keeps the source's [[fingerprint]]
    * from its build; every call takes a fresh one, and when it differs (the
    * source was rewritten) `build` runs again with it and replaces the
    * entry. Builds nest (an index build reads its corpus through [[table]]),
    * so a build holds only its own entry's lock: one build per key at a
    * time. A build that throws leaves the entry as it was.
    */
  private[graft] def memo[T](spark: SparkSession, kind: String, source: String)(
      build: String => T): T = {
    val fp = fingerprint(spark, source)
    val entry = sessions.synchronized {
      sessions.computeIfAbsent(spark, _ => new Entries())
        .computeIfAbsent((kind, source), _ => new Entry)
    }
    entry.synchronized {
      if (entry.fingerprint != fp) {
        entry.value = build(fp)
        entry.fingerprint = fp
      }
      entry.value.asInstanceOf[T]
    }
  }

  private final class Entry { var fingerprint: String = _; var value: Any = _ }
  private type Entries = java.util.HashMap[(String, String), Entry]

  /** A reader value holds its session, so every session with entries stays
    * reachable: only the most recently used few keep them. Four covers a
    * main's one session, perfbench's cold-start session and three setups,
    * and a spec suite's shared session beside its `newSession()`s; a
    * session past the cap only rebuilds.
    */
  private[graft] val MaxSessions = 4
  private val sessions = new java.util.LinkedHashMap[SparkSession, Entries](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SparkSession, Entries]): Boolean =
      size > MaxSessions
  }

  /** (name, length, mtime) of `source`, or of each file in it when it is a
    * directory, from one fresh `listStatus` — never from a memoized frame's
    * `inputFiles`, which lists the files as they were at build time. Empty
    * for a missing source, whose build then fails with the reader's error.
    */
  private def fingerprint(spark: SparkSession, source: String): String = {
    val p = new org.apache.hadoop.fs.Path(source)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    catch { case _: java.io.FileNotFoundException => "" }
  }

  /** Round-robin repartition up to the session's default parallelism when
    * the source scan yields fewer splits. Single-file/single-row-group
    * inputs (the small-SF testdata) otherwise run all downstream per-row
    * compute on ONE task regardless of core count. At production scale the
    * scan has thousands of splits and this is a no-op — no shuffle is added
    * where the input is already parallel. Only applied in front of
    * CPU-heavy per-row stages (minhash/simhash signatures, vector math)
    * where the shuffle cost is far below the compute it parallelizes.
    */
  def balanced(df: DataFrame): DataFrame =
    if (skinny(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** Keyed twin of [[balanced]]: hash-repartition on `keys` to the default
    * parallelism when the source scan would otherwise be skinny. For a
    * groupBy on the same keys this replaces the aggregation's own exchange
    * (the partitioning already satisfies the agg's distribution) with one
    * whose partition count AQE does NOT coalesce — the fix for reduce-side
    * stages whose per-byte CPU (pair explode, set aggregation) is far above
    * what AQE's advisory byte sizing assumes (guide §2.5: a 5 MB
    * post-shuffle stage coalesced to 3-4 tasks serializes a 1 s explode on
    * a 32-core box). At production split counts this is a no-op and the
    * aggregation keeps its normal AQE-sized exchange with map-side partial
    * aggregation.
    */
  def balancedBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    if (skinny(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
    else df

  /** True when the scan under `df` is estimated to yield fewer splits than
    * the session's default parallelism. The estimate packs splits the way
    * FilePartition does — ceil((bytes + nFiles·openCost) /
    * maxPartitionBytes) — from the file listing alone: unlike `df.rdd` this
    * never materializes the RDD lineage (AQE still owns the plan), and
    * unlike a raw file COUNT it is correct in both directions (many small
    * files pack into few partitions; one big file splits into many).
    */
  private def skinny(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val totalCost = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hadoopConf).getFileStatus(p).getLen + conf.filesOpenCostInBytes
    }.sum
    val estPartitions =
      math.max(1L, (totalCost + conf.filesMaxPartitionBytes - 1) / conf.filesMaxPartitionBytes)
    estPartitions < spark.sparkContext.defaultParallelism
  }

  /** Lineage cut for iterative/multi-use intermediates: a RELIABLE
    * checkpoint when the session has a checkpoint dir configured (survives
    * executor loss — localCheckpoint blocks die with their executor, which
    * kills a long fixpoint job on a real cluster), localCheckpoint
    * otherwise (single-JVM tests/bench, where reliability adds only I/O).
    * Checkpoint files are reclaimed when the DataFrame is GC'd IF
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on —
    * [[graft.GraftSession]] sets it; without it they accumulate forever.
    */
  def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` normalized to session-zone TimestampType whatever the
    * parquet file declares — fixture generations have varied:
    *
    *  - TIMESTAMP(NANOS): Spark 4 has no native type for it — it either
    *    throws PARQUET_TYPE_ILLEGAL or, with the legacy conf
    *    `spark.sql.legacy.parquet.nanosAsLong` (set in
    *    [[graft.GraftSession.defaults]]), reads INT64 nanos. We read nanos
    *    and truncate to microsecond TimestampType with integer arithmetic
    *    (`div`, not double division — epoch-nanos ≈ 1.7e18 exceeds
    *    double's 2^53 integer range).
    *  - TIMESTAMP(µs, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ, on which `unix_micros`/epoch casts are type errors.
    *    Cast to TimestampType — the session zone is pinned to UTC
    *    ([[graft.GraftSession]]), so the wall-clock instant is unchanged
    *    and DuckDB (which reads the same values as naive timestamps)
    *    still agrees bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Case class for the reference's wire-format trade event
    * (reference: producer/producer.py:51-58): price/quantity arrive as
    * decimal strings, trade_time as epoch millis.
    */
  final case class Trade(
      trade_id: Long,
      symbol: String,
      price: String,
      quantity: String,
      trade_time: Long,
      is_buyer_maker: Boolean)
}
