package graft.streaming

import java.sql.DriverManager
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Idempotent JDBC key-upsert sink for `foreachBatch`
  * (reference: spark_processor/processor.py:116-172).
  *
  * Two dialects produce the same upsert semantics:
  *
  *  - [[Dialect.Portable]] — staging table + one driver-side transaction
  *    that deletes target rows whose keys appear in staging and inserts the
  *    staged rows. Delete+insert inside a transaction is the portable ANSI
  *    form of a key upsert — it runs on any JDBC database (tests use
  *    embedded Derby).
  *  - [[Dialect.Postgres]] — staging table + the reference's native
  *    `INSERT … ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col`
  *    (processor.py:145-164), one round trip and row-level locking instead
  *    of the delete window. Target DDL in [[ohlcvDdl]] mirrors the
  *    reference's init script (postgres/init/init.sql:6-21).
  *
  * Exactly-once-ish delivery = streaming checkpoint (offsets + state) plus
  * this idempotence: replaying a batch after recovery converges to the same
  * final table, which the spec verifies by applying a batch twice.
  *
  * The reference's `df.isEmpty()` + `df.count()` sink guards recompute the
  * micro-batch twice before writing (processor.py:117-121) — here the only
  * action is the staged write itself.
  */
object JdbcUpsertSink {

  sealed trait Dialect
  object Dialect {
    /** ANSI delete+insert transaction — any JDBC database. */
    case object Portable extends Dialect
    /** Native `INSERT … ON CONFLICT DO UPDATE` (PostgreSQL ≥ 9.5). */
    case object Postgres extends Dialect
  }

  private def q(id: String) = "\"" + id + "\""

  /** The merge statements executed against a staged micro-batch, exposed as
    * a pure function of (table, staging, columns, keys, dialect) so dialect
    * SQL is unit-assertable without a live database.
    */
  def mergeStatements(
      table: String,
      staging: String,
      columns: Seq[String],
      keys: Seq[String],
      dialect: Dialect): Seq[String] = {
    val cols = columns.map(q).mkString(", ")
    dialect match {
      case Dialect.Portable =>
        val keyPred = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
        Seq(
          s"DELETE FROM $table t WHERE EXISTS (SELECT 1 FROM $staging s WHERE $keyPred)",
          s"INSERT INTO $table ($cols) SELECT $cols FROM $staging",
          s"DROP TABLE $staging")
      case Dialect.Postgres =>
        val conflictKeys = keys.map(q).mkString(", ")
        val nonKey = columns.filterNot(keys.contains)
        // all-columns-are-keys (pure presence table): DO UPDATE SET with an
        // empty assignment list is a syntax error — there is nothing to
        // refine, so conflicts are no-ops
        val action =
          if (nonKey.isEmpty) "DO NOTHING"
          else "DO UPDATE SET " +
            nonKey.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
        // ON CONFLICT DO UPDATE raises "cannot affect row a second time" if
        // the SAME statement carries two rows with equal keys, so the staged
        // batch is collapsed to one row per key first. The engine's
        // update-mode streaming output already emits one row per key per
        // micro-batch — the dedup is a no-op there — but upsert() is a
        // generic API and nothing upstream enforces that invariant. The
        // survivor is DETERMINISTIC: ORDER BY every non-key column picks
        // the smallest non-key tuple, so replays converge on the same row
        // (an unordered row_number would keep whichever row the scan met
        // first — nondeterministic, and divergent from Portable's
        // all-rows-must-agree behavior on genuinely different duplicates).
        val rn = "row_number() OVER (PARTITION BY " +
          keys.map(k => s"s.${q(k)}").mkString(", ") +
          (if (nonKey.isEmpty) ""
           else " ORDER BY " + nonKey.map(c => s"s.${q(c)}").mkString(", ")) + ")"
        Seq(
          s"INSERT INTO $table ($cols) SELECT $cols FROM " +
            s"(SELECT s.*, $rn AS graft_rn FROM $staging s) d WHERE graft_rn = 1 " +
            s"ON CONFLICT ($conflictKeys) $action",
          s"DROP TABLE $staging")
    }
  }

  /** Deployment DDL for the OHLCV target table — the analog of the
    * reference's init script (postgres/init/init.sql:6-21): NUMERIC(20,8)
    * price/volume columns, composite primary key on (symbol, window_start)
    * backing the ON CONFLICT arbiter, and a window_start index for the
    * freshness monitor's recency scan.
    */
  def ohlcvDdl(table: String): Seq[String] = Seq(
    s"""CREATE TABLE $table (
       |    "window_start"    TIMESTAMP NOT NULL,
       |    "window_end"      TIMESTAMP NOT NULL,
       |    "symbol"          VARCHAR(16) NOT NULL,
       |    "open_price"      NUMERIC(20, 8),
       |    "high_price"      NUMERIC(20, 8),
       |    "low_price"       NUMERIC(20, 8),
       |    "close_price"     NUMERIC(20, 8),
       |    "total_volume"    NUMERIC(20, 8),
       |    "vwap"            NUMERIC(20, 8),
       |    PRIMARY KEY ("symbol", "window_start")
       |)""".stripMargin,
    s"""CREATE INDEX idx_${table}_window_start ON $table ("window_start" DESC)""")

  /** Returns a `foreachBatch`-shaped sink upserting into `table` on `keys`.
    * Columns of the batch DataFrame define the staged schema; `table` must
    * exist with a compatible schema.
    *
    * Duplicate keys WITHIN one batch: the Postgres dialect collapses them to
    * one deterministic survivor — smallest non-key tuple — before the merge
    * (see [[mergeStatements]]); the
    * Portable dialect requires one row per key tuple per batch — a duplicate
    * violates the target's primary key mid-transaction and fails the batch
    * (the transaction rolls back, so the target is untouched, and the
    * staging table is dropped after the rollback). Streaming
    * update-mode aggregation output satisfies the precondition by
    * construction.
    */
  def upsert(url: String, table: String, keys: Seq[String],
             dialect: Dialect = Dialect.Portable)
      : (DataFrame, Long) => Unit = { (df, epochId) =>
    val staging = s"${table}_staging_$epochId"
    // Stage string columns as VARCHAR: some dialects (Derby) default
    // StringType to CLOB/TEXT types that can't appear in key comparisons.
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(255)")
    // parallel executor-side write; overwrite makes batch replay idempotent
    val w = df.write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", staging)
      .mode("overwrite")
    (if (stringCols.nonEmpty)
       w.option("createTableColumnTypes", stringCols.mkString(", "))
     else w).save()
    // Spark's JDBC writer passes `dbtable` through unquoted but quotes
    // COLUMN identifiers it creates, so the merge SQL does the same; the
    // target table must be created with case-matching (quoted/lowercase)
    // column names.
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        mergeStatements(table, staging, df.columns.toSeq, keys, dialect)
          .foreach(st.executeUpdate)
        conn.commit()
      } catch {
        case e: Throwable =>
          conn.rollback()
          // the rollback also undid the merge's DROP of the staging table:
          // drop it on its own, best effort, keeping the merge's failure
          try { st.executeUpdate(s"DROP TABLE $staging"); conn.commit() }
          catch { case NonFatal(d) => e.addSuppressed(d) }
          throw e // fail the streaming query like the reference (processor.py:170-172)
      } finally st.close()
    } finally conn.close()
  }
}
