package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder pre-loaded with the
  * configuration the engine is designed against. A user of the reference
  * switching to this library calls `GraftSession.builder(...)`, gets the
  * native functions registered via `spark.sql.extensions`, and every
  * operator in [[SparkEntry.queries]] runs with the intended plan shapes.
  *
  * `spark.sql.shuffle.partitions` is deliberately NOT set in [[builder]]:
  * with AQE coalescing enabled the initial partition number only needs an
  * upper bound, and the right bound is cluster-sized (set per deployment).
  * Single-JVM runs — the Bench/Verify/Probe mains, the stream bench and the
  * test suite — take [[local]], which sizes it to the core count.
  */
object GraftSession {

  /** The engine's recommended defaults, exposed for inspection/tests. */
  val defaults: Map[String, String] = Map(
    // deterministic timestamp semantics — every oracle-checked op assumes UTC
    "spark.sql.session.timeZone" -> "UTC",
    // runtime re-planning: partition coalescing, skew-join splitting, and
    // join-strategy switching from observed sizes — the mechanisms the
    // operator Scaladocs lean on at 100 TB
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // reliable checkpoints (Tables.ckpt) are written per dedup/cluster run;
    // without the cleaner they accumulate in the checkpoint dir forever
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    // native expressions (dot_product, cosine_sim, minhash_sig, simhash64,
    // signlsh_buckets, char_ngrams3) resolve in SQL without per-session
    // registration
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // streaming state off-heap: the default HDFS-backed provider holds all
    // state in executor heap — at production key cardinality (state per
    // (window, symbol) × lateness horizon) RocksDB keeps heap flat and
    // makes state size a disk problem, which scales
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // checkpoint files on file: paths through java.nio (other schemes keep
    // Spark's own manager): Spark ships no native-hadoop library, so
    // Hadoop's local filesystem starts a chmod process per file create and
    // mkdir and a readlink process per rename — the offset and commit log
    // writes of every micro-batch were mostly process launches
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "graft.streaming.LocalCheckpointFileManager",
    // a RocksDB commit writes one changelog file through the manager above;
    // SST snapshot uploads (still Hadoop copyFromLocalFile) move to the
    // background maintenance thread instead of running inside every trigger
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // events.parquet fixture generations that declare TIMESTAMP(NANOS) are
    // unreadable without it (PARQUET_TYPE_ILLEGAL); with it the column
    // reads as INT64 nanos, which Tables.events truncates to microseconds.
    // Set once here rather than by Tables.events on every read, so reading
    // a table never mutates the session's conf
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def builder(appName: String = "graft"): SparkSession.Builder =
    defaults.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The single-JVM session: `local[cores]` with one shuffle partition per
    * core (AQE coalesces from there) and the web UI off. Bench, Verify, the
    * probes, StreamBench and the specs all take their session from here, so
    * what is benchmarked and verified is what is tested and shipped.
    */
  def local(cores: Int, appName: String = "graft"): SparkSession.Builder =
    builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")

  /** Core count of the driver mains: `$SPARK_GRAFT_CPUS`, else every
    * available processor.
    */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
