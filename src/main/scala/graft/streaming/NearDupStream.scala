package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming MinHash-LSH near-duplicate filter — the streaming twin of
  * the batch ingest dedup ([[graft.ops.DedupOps.minhashNeardup]] /
  * `incremental_dedup`): documents arrive as a stream, and each one is
  * checked against everything ALREADY SEEN without ever holding the
  * corpus — the state is the banded LSH index itself.
  *
  * Shape: signature computation is stateless per row (the same native
  * `word3gram_hashes` → `minhash_sig` expressions as the batch path,
  * codegen'd, no shuffle), then rows explode to their 16 band buckets
  * and `transformWithState` keys on (band_id, band_hash) — the ONLY
  * shuffle, identical in key structure to the batch equi-join. Each
  * bucket's state is a capped list of (doc_id, signature): an arriving
  * doc compares against at most [[graft.ops.DedupOps.MaxBucket]]
  * residents (the batch cap, same constant), emits a match row per
  * resident within the estimator threshold, then joins the bucket if
  * there is room. First-seen-wins, which is exactly the batch
  * incremental-dedup contract.
  *
  * Determinism: within a micro-batch, rows process in doc_id order, so
  * a replay of the same batched input emits the same matches. The same
  * pair can surface from several bands (as in the batch path before its
  * dropDuplicates) — consumers dedup on (doc_id, dup_of); the raw
  * per-band stream is emitted so provenance stays visible.
  *
  * Scale: per-bucket state is ≤ MaxBucket signatures (64 × 8 B each);
  * bucket count grows with corpus vocabulary, so production deployments
  * bound state AGE with a TTL (the `ttl` parameter — crawl dedup
  * horizons are typically days), exactly the watermark-bounds-state
  * discipline of the exact-dedup stage (OhlcvStream.dedupTrades).
  */
object NearDupStream {

  final case class DocRow(doc_id: Long, text: String)
  final case class BandRow(band_id: Int, band_hash: Long, doc_id: Long, sig: Array[Long])
  final case class DocSig(doc_id: Long, sig: Array[Long])
  final case class MatchRow(doc_id: Long, dup_of: Long, est_jaccard: Double, band_id: Int)

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** MinHash Jaccard estimate: agreeing signature positions / NumHashes —
    * shared by [[Processor]] and [[CorpusPrepStream]]'s verdict stage.
    */
  def estimate(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) {
      if (a(i) == b(i)) eq += 1
      i += 1
    }
    eq.toDouble / NumHashes
  }

  class Processor(threshold: Double, maxBucket: Int,
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[(Int, Long), BandRow, MatchRow] {

    @transient private var seen: ListState[DocSig] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[DocSig](
        "seen", Encoders.product[DocSig], ttl)

    override def handleInputRows(
        key: (Int, Long),
        rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[MatchRow] = {
      val out = Seq.newBuilder[MatchRow]
      var residents = seen.get().toSeq // bounded: <= maxBucket entries
      var n = residents.size
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        residents.foreach { s =>
          val est = estimate(r.sig, s.sig)
          if (est >= threshold) out += MatchRow(r.doc_id, s.doc_id, est, r.band_id)
        }
        if (n < maxBucket) {
          val ds = DocSig(r.doc_id, r.sig)
          seen.appendValue(ds)
          residents = residents :+ ds
          n += 1
        }
      }
      out.result().iterator
    }
  }

  /** Stateless per-row stage: signature + band explosion (the exact
    * banding arithmetic of the batch `lshCandidatePairs`).
    */
  def banded(docs: DataFrame): Dataset[BandRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), expr("word3gram_hashes(text)").as("hh"))
      .filter(size(col("hh")) >= 1)
      .withColumn("sig", expr("minhash_sig(hh)"))
      .select(col("doc_id"), col("sig"), expr(
        s"explode(transform(sequence(0, ${Bands - 1}), b -> named_struct('band_id', b, 'band_hash', xxhash64(b, slice(sig, b*$RowsPerBand + 1, $RowsPerBand)))))"
      ).as("band"))
      .select(col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"),
        col("doc_id"), col("sig"))
      .as[BandRow]
  }

  /** Streaming near-dup matches for a document stream: every emitted row
    * says "doc_id estimates Jaccard ≥ threshold against the earlier
    * dup_of, discovered in band_id".
    */
  def matches(docs: DataFrame,
              threshold: Double = 0.5,
              maxBucket: Int = graft.ops.DedupOps.MaxBucket,
              ttl: TTLConfig = TTLConfig.NONE): Dataset[MatchRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ttl requires ProcessingTime time mode; NONE keeps TimeMode.None
    // (data-driven batches, the testable default)
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    banded(docs)
      .groupByKey(r => (r.band_id, r.band_hash))
      .transformWithState(
        new Processor(threshold, maxBucket, ttl),
        timeMode,
        OutputMode.Append())
  }
}
