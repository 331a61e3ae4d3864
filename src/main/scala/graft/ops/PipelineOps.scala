package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** Dataset-preparation operators a training-data pipeline runs after
  * cleaning/dedup: deterministic splits, stratified sampling, TF-based
  * term scoring, and near-dup cluster collapse (BASELINE.json north star).
  *
  * Split/sample assignment is a pure function of the row key (multiplicative
  * hashing, plain BIGINT arithmetic) — NOT `rand()`: at 100 TB a split must
  * be reproducible across reruns, stable under repartitioning, and cheap to
  * recompute on any engine (the oracle runs the same arithmetic), none of
  * which holds for RNG-based sampling. The modulus keeps the product within
  * int64 for any realistic key; a deployment hashing arbitrary keys would
  * use `xxhash64` instead (not portable to the oracle, same structure).
  */
object PipelineOps {

  /** Knuth multiplicative hash of the doc id, reduced mod 100 — the
    * bucket both split and sample decisions read. Identical arithmetic is
    * SQL-expressible in any engine: no RNG, no engine-specific hash.
    *
    * The key is pre-reduced mod p BEFORE the multiply so the product
    * provably fits in int64 for ANY BIGINT key ((p−1)·2654435761 ≈ 2.7e18
    * < 2^63): a raw `key * 2654435761` silently wraps in Spark past
    * key ≈ 3.5e9 while ANSI engines (the oracle included) error or
    * promote, so assignments would diverge across engines exactly where
    * a 100 TB corpus lives. pmod(x·m, p) = pmod(pmod(x,p)·m, p), so
    * in-range buckets are unchanged.
    */
  /** The un-reduced permutation key (full 0..p−1 range) the bucket above
    * truncates: the ONE definition of the multiplicative hash — every
    * deterministic ordering/sharding op derives from it, so the
    * overflow-safety argument above guards them all.
    */
  private[ops] def permKey(c: org.apache.spark.sql.Column) =
    pmod(pmod(c, lit(1000000007L)) * lit(2654435761L), lit(1000000007L))

  private[graft] def hashBucket(c: org.apache.spark.sql.Column) =
    pmod(permKey(c), lit(100))

  /** Fold count for [[cvFolds]] — public so the oracle SQL interpolates
    * THIS value.
    */
  val CvK = 5

  /** k-fold cross-validation plan — the rotation primitive
    * [[trainTestSplit]]'s fixed 80/10/10 cannot express: every document
    * lands in exactly one of [[CvK]] folds by the deterministic
    * multiplicative-hash permutation (no RNG — rerun/partitioning-stable,
    * so every trainer sees the identical folds), and each output row is
    * one ROTATION: fold f's validation doc/token counts plus the
    * complementary train counts (total − fold, via an unpartitioned
    * window over the k-row census — a second aggregation branch would
    * re-scan the corpus, and a SinglePartition window is exactly the
    * summary-frame shape the global PlanSpec sweep allows). A
    * balance-checking spec pins that fold sizes stay within 20%, the
    * property k-fold CV needs from the assignment.
    *
    * Scale: ONE pass to a k-row census (map-side combined); everything
    * after touches k rows. All-integer output.
    */
  def cvFolds(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(Long.MinValue, Long.MaxValue)
    Tables.documents(spark, dir)
      .select(
        pmod(permKey(col("doc_id")), lit(CvK)).cast(IntegerType).as("fold"),
        size(split(trim(col("text")), " ")).cast(LongType).as("toks"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_val_docs"), sum(col("toks")).as("n_val_tokens"))
      .select(col("fold"),
        (sum(col("n_val_docs")).over(w) - col("n_val_docs")).as("n_train_docs"),
        col("n_val_docs"),
        (sum(col("n_val_tokens")).over(w) - col("n_val_tokens")).as("n_train_tokens"),
        col("n_val_tokens"))
  }

  /** Deterministic 80/10/10 train/val/test split over documents. */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        when(hashBucket(col("doc_id")) < 80, lit("train"))
          .when(hashBucket(col("doc_id")) < 90, lit("val"))
          .otherwise(lit("test")).as("split"))

  /** Probability-proportional-to-size sample: each document is kept with
    * probability ≈ min(1, n_chars/2000) — the weighted-sampling primitive
    * a training-mix builder uses to bias toward long documents without a
    * per-row RNG (nondeterministic under retries/partitioning) or a
    * global pass. Acceptance compares the SAME deterministic
    * [[hashBucket]] the split/sample family uses against a per-row
    * integer threshold, so the op is a pure pushed-down filter: no
    * shuffle, rerun-stable, and the realized rate converges to the
    * target weight per size stratum. Output carries the threshold so a
    * downstream estimator can Horvitz-Thompson reweight (1/p) exactly.
    */
  def ppsSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("keep_pct", least(lit(100L), expr("n_chars div 20")))
      .filter(hashBucket(col("doc_id")) < col("keep_pct"))
      .select(col("doc_id"), col("n_chars"), col("keep_pct"))

  /** Stratified ~20% sample: the rate applies within every `lang` stratum
    * because the hash is independent of the stratum — no per-group pass, no
    * shuffle, filter pushes to the scan.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(hashBucket(col("doc_id")) < 20)
      .select(col("doc_id"), col("lang"))

  /** Top-5 distinguishing terms per document, scored tf·(N+1)/(df+1) —
    * reciprocal-df weighting instead of log-idf because +,·,/ are
    * IEEE-deterministic across engines while `ln` is libm-dependent (the
    * same reason every op surfaces DOUBLE only through exact arithmetic).
    * Shape at scale: one token explode feeding two partial aggregations
    * (per-(doc,term) and per-term), a broadcast-joined doc count, and a
    * per-doc top-k window on the (doc_id-partitioned) scored rows.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // document frequency falls out of tf for free: tf has exactly one row
    // per (doc, term), so rows-per-term IS the distinct-doc count — no
    // second explode, no distinct shuffle over raw tokens
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast(DoubleType) * (col("nd") + lit(1.0)) / (col("dfreq") + lit(1.0)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("term"), col("score"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** Corpus-wide top-20 character trigrams — the frequency table a
    * BPE-style tokenizer trainer seeds from. Explode-then-count: the
    * explode multiplies rows BEFORE the aggregation shuffle, partial
    * counts combine map-side, and the final top-k is a 20-row
    * TakeOrderedAndProject with a deterministic (count desc, gram) order.
    */
  def charNgrams(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 3)
      // native one-pass extraction — the substring(text, i, 3)-per-position
      // SQL form rescans the string per gram, O(len²) per document
      .select(explode(expr("char_ngrams3(text)")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(20)
  }

  /** Exact heavy hitters over the token stream (vocabulary-pruning
    * primitive), two-pass: a Misra-Gries-style sketch (`stat.freqItems`)
    * produces a tiny candidate superset — its no-false-negative guarantee
    * means no true heavy hitter can be missed — then exact counts are
    * computed for the candidates ONLY (a broadcast semi-join, never a full
    * groupBy over the token universe) and filtered to support > 1%. The
    * candidate set is partitioning-dependent, but the verified OUTPUT is
    * exact and deterministic — which is why this op is oracle-checkable
    * while a raw sketch dump would not be.
    */
  def freqTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val cands = toks.stat.freqItems(Seq("term"), 0.01)
      .select(explode(col("term_freqItems")).as("term"))
    toks.join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(toks.agg(count(lit(1)).as("total"))))
      .filter(col("cnt") > col("total") * 0.01)
      .select(col("term"), col("cnt"))
      .orderBy(col("term"))
  }

  /** Sequence packing — the concat-and-chop step that turns a cleaned
    * corpus into fixed-length training windows: documents are concatenated
    * per `lang` shard in doc_id order and chopped at 2048-token boundaries;
    * `pack_id` is the context window a document STARTS in, `pack_offset`
    * its position inside that window. One window function per shard — the
    * running sum parallelizes across strata (a single global ORDER BY would
    * serialize the corpus through one task at 100 TB; real deployments
    * shard exactly like this, by language/source/date).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ctxLen = 2048
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), " ")).as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before div $ctxLen").cast(IntegerType).as("pack_id"),
        pmod(col("cum_before"), lit(ctxLen)).cast(IntegerType).as("pack_offset"))
  }

  /** WINDOW-side census of [[packSequences]]' packing — the efficiency
    * diagnostic a training-prep pipeline reads before committing a
    * packing strategy: per (lang shard, context window), how many
    * documents contribute tokens, how many START here, how many are SPLIT
    * across the window's right boundary (the attention-masking /
    * cross-doc-leakage cost of concat-and-chop), the exact token fill and
    * its ratio (one division; every interior window must fill to exactly
    * 2048 — the trailing window of each shard is the only partial one).
    * A document spanning windows [first, last] contributes
    * min((p+1)·L, cum+n) − max(p·L, cum) tokens to window p — exact
    * integer interval overlap, no float anywhere before the ratio.
    *
    * Scale: the same per-shard running sum as packSequences (sharded BY
    * DESIGN — see there), then a BOUNDED explode: one row per
    * (doc, spanned window), totalling corpus_tokens/2048 + n_docs rows,
    * and a hash aggregation on (lang, pack) — cardinality = corpus
    * tokens / 2048, never rows².
    */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ctxLen = 2048
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), " ")).cast(LongType).as("n"))
      .withColumn("cb", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("p", explode(expr(
        s"sequence(cb div $ctxLen, (cb + n - 1) div $ctxLen)")))
      .select(
        col("lang"), col("p").cast(IntegerType).as("pack_id"),
        (least((col("p") + 1) * ctxLen, col("cb") + col("n"))
          - greatest(col("p") * ctxLen, col("cb"))).as("tok"),
        (expr(s"cb div $ctxLen") === col("p")).cast(IntegerType).as("starts"),
        (expr(s"(cb + n - 1) div $ctxLen") > col("p"))
          .cast(IntegerType).as("crosses"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("starts")).cast(LongType).as("n_docs_starting"),
        sum(col("crosses")).cast(LongType).as("n_docs_crossing"),
        sum(col("tok")).as("n_tokens"))
      .withColumn("fill_ratio",
        col("n_tokens").cast(DoubleType) / ctxLen)
  }

  /** Train/test contamination check — the eval-integrity gate every
    * training-data pipeline needs: for each test-split document, the
    * fraction of its distinct word-3-gram shingles that appear anywhere in
    * the train split. Splits reuse [[hashBucket]] (deterministic, engine
    * portable) and shingles are the hashed word-3-grams of the dedup layer
    * (same definition on both sides of the overlap). Shape at scale:
    * explode → distinct train-shingle set → one equi-join on the shingle,
    * then a per-doc aggregation. Two deliberate physical choices: each
    * split branch filters documents BEFORE shingling (80% + 10% of the
    * corpus shingled, vs 2 × 100% when branches share one post-shingle
    * frame — Spark recomputes an unshared child per consumer), and the
    * shingle is the 8-byte native [[graft.functions.Word3GramHashes]]
    * hash, never a string — the distinct and the join shuffle fixed-width
    * longs (at 100 TB, a few TB of longs instead of tens of TB of
    * strings), and shingle extraction runs as one codegen'd byte walk
    * (measured 3.4s → ~1s at sf0.1). The oracle joins exact strings;
    * `n_hits`/`n_shingles` carry the ~n²/2⁶⁵ hash-collision risk the
    * oracle doesn't (negligible at any SF this runs at).
    */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", hashBucket(col("doc_id")))
    def shingleHashes(d: DataFrame): DataFrame =
      Tables.balanced(d)
        .select(col("doc_id"), explode(expr("word3gram_hashes(text)")).as("sh"))
    val train = shingleHashes(docs.filter(col("bucket") < 80))
      .select(col("sh")).distinct()
    val test = shingleHashes(docs.filter(col("bucket") >= 90))
    test.join(train.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast(DoubleType) / col("n_shingles"))
  }

  /** Benchmark decontamination — the ENFORCEMENT twin of
    * [[contaminationCheck]] (which only measures): every train-split doc
    * is scored by the maximum eval-shingle containment any single eval
    * doc has inside it (|∩| / |eval shingles| — "how much of this eval
    * doc leaked into this train doc"), and docs at ≥ 0.5 are verdicted
    * `dropped` with the worst eval doc as blame. Deterministic blame:
    * row_number over (containment desc, eval doc id) — the containment
    * is an exact integer ratio, so the double compares identically in
    * any engine.
    *
    * Scale shape: candidates come ONLY from the shingle-hash equi-join
    * (ids+hashes shuffle, never text), and shingles whose eval document
    * frequency exceeds 5 are dropped from BOTH sides first — the
    * stop-shingle valve that bounds per-key join fan-out (the
    * [[DedupOps]] degenerate-bucket cap, applied to an index key). The
    * cap is part of the op contract — computed from exact counts, so the
    * oracle applies it identically (it genuinely binds at sf0.1).
    * Containment denominators are post-cap for the same reason.
    */
  def decontaminateTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", hashBucket(col("doc_id")))
    def shingles(d: DataFrame): DataFrame =
      Tables.balanced(d)
        .select(col("doc_id"), explode(expr("word3gram_hashes(text)")).as("sh"))
    val tr = shingles(docs.filter(col("bucket") < 80))
      .withColumnRenamed("doc_id", "tdoc")
    val te = shingles(docs.filter(col("bucket") >= 90))
      .withColumnRenamed("doc_id", "edoc")
    val hot = te.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 5).select(col("sh"))
    val trk = tr.join(hot, Seq("sh"), "left_anti")
    val tek = te.join(hot, Seq("sh"), "left_anti")
    val ne = tek.groupBy(col("edoc")).agg(count(lit(1)).as("n_e"))
    val scored = trk.join(tek, Seq("sh"))
      .groupBy(col("tdoc"), col("edoc")).agg(count(lit(1)).as("i"))
      .join(ne, Seq("edoc"))
      .withColumn("containment",
        col("i").cast(DoubleType) / col("n_e").cast(DoubleType))
    val w = Window.partitionBy(col("tdoc"))
      .orderBy(col("containment").desc, col("edoc"))
    val worst = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("tdoc").as("doc_id"), col("edoc"), col("containment"))
    docs.filter(col("bucket") < 80).select(col("doc_id"))
      .join(worst, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("containment"), lit(0.0)).as("max_containment"),
        col("edoc").as("blame_doc"),
        when(coalesce(col("containment"), lit(0.0)) >= 0.5, lit("dropped"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** Within-document repetition signal (the Gopher-style quality rule that
    * catches boilerplate/looping text): the fraction of a document's word
    * bigrams that are repeats of an earlier bigram. Pure per-row array
    * arithmetic — zero shuffle, filter and projection push to the scan, so
    * at 100 TB this is one streaming map over the corpus.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
      .select(
        col("doc_id"),
        size(col("bg")).as("n_bigrams"),
        (lit(1.0) - size(array_distinct(col("bg"))).cast(DoubleType) / size(col("bg")))
          .as("dup_bigram_frac"))

  /** Token-budget corpus selection — the "fill the training mix" step:
    * within each `lang` shard, documents are taken in quality order
    * (average word length ascending as the exact, engine-portable quality
    * proxy; doc_id tiebreak) until the shard's token budget is exhausted.
    * The running sum parallelizes across shards exactly like
    * [[packSequences]] — budgets are per-shard BY DESIGN: a single global
    * quality order would both serialize the window at 100 TB and let one
    * language starve the others (real mixes fix per-language token
    * budgets first).
    */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 5000L
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(trim(col("text")), " ")).as("n_tokens"))
      .withColumn("avg_word_len",
        col("n_chars").cast(DoubleType) / col("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_word_len"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
  }

  /** One-shot cleaning pipeline composition — the filter chain a corpus
    * passes before packing: language whitelist, token-count bounds, then
    * exact dedup keeping the smallest doc_id per distinct text. The dedup
    * window partitions by full text here so the oracle can run the
    * identical query; a deployment keys it on `xxhash64(text)` (the
    * [[graft.ops.TextOps]] fingerprint path) so the shuffle carries 8-byte
    * keys — same plan shape, narrower rows.
    */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(trim(col("text")), " ")).as("n_tokens"))
      .filter(col("lang").isin("en", "de", "fr", "es"))
      .filter(col("n_tokens").between(5, 2000))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
  }

  /** The prep pipeline END-TO-END as one composed query — the capstone a
    * user of this library actually runs: [[corpusClean]]'s filter chain
    * (lang whitelist, token bounds, exact-text dedup keeping min doc_id)
    * → [[trainTestSplit]]'s deterministic 80% train bucket →
    * [[packSequences]]'s 2048-token context packing → the per-lang shard
    * report (docs, tokens, packs, tokens/doc). Every stage reuses the
    * EXACT semantics of its standalone op (same hash, same window
    * arithmetic), so the composition is oracle-checkable as chained CTEs
    * and spec-checkable against the standalone ops' own outputs.
    * Exchanges: text-partition dedup window, lang-partition packing
    * window, and the final lang groupBy rides the packing partitioning —
    * no joins anywhere.
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    val cleaned = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(trim(col("text")), " ")).as("n_tokens"))
      .filter(col("lang").isin("en", "de", "fr", "es"))
      .filter(col("n_tokens").between(5, 2000))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val train = cleaned.filter(hashBucket(col("doc_id")) < 80)
    val wPack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    train
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(wPack), lit(0L)))
      .withColumn("pack_id", expr("cum_before div 2048"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("pack_id")) + 1).as("n_packs"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1)))
          .as("tokens_per_doc"))
  }

  /** Prefix-anchor duplicate grouping: documents that share their first
    * 100 characters are one group (crawl-dedup heuristic for templated
    * pages whose tails differ — catches what exact-hash dedup misses
    * without any pairwise comparison). One hash-aggregation on the 16-byte
    * md5 anchor; at 100 TB the shuffle carries one row per GROUP, not per
    * document, thanks to partial aggregation.
    */
  def anchorDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(substring(col("text"), 1, 100)).as("anchor"))
      .groupBy(col("anchor"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))

  /** Corpus composition report — the mix dashboard every dataset build
    * publishes: per (source, lang), document count, token count, and the
    * cell's share of all tokens. Two-level aggregation: the per-cell
    * groupBy combines map-side; the global total is a window over the
    * ALREADY-AGGREGATED frame (|sources|×|langs| rows), so the second pass
    * is driver-trivial at any corpus size.
    */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(split(trim(col("text")), " ")).as("n_tokens"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .withColumn("token_share",
        col("tokens").cast(DoubleType) / sum(col("tokens")).over(Window.partitionBy()))
  }

  /** Fixed-size per-stratum sample: exactly k documents per `lang`,
    * chosen by ranking the stratum on the full multiplicative hash of the
    * key (deterministic shuffle order — same reproducibility contract as
    * [[trainTestSplit]], never `rand()`). Complements [[stratifiedSample]]
    * (fixed RATE, no shuffle): fixed SIZE needs a per-stratum top-k, which
    * is a partial top-k under the ranking window — the shuffle carries at
    * most k rows per (partition, stratum).
    */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val order = permKey(col("doc_id"))
    val w = Window.partitionBy(col("lang")).orderBy(order, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk").cast(IntegerType).as("rk"))
  }

  /** Split-drift report — the check that a deterministic split didn't
    * accidentally skew a feature: per lang, mean token count in the train
    * vs test split ([[hashBucket]] 80/10/10) and the absolute gap. Means
    * are computed as exact integer sums divided once (`sum/count`), NOT
    * streaming `avg`: integer sums are order-independent and engine-exact,
    * while incremental mean accumulation is neither.
    */
  def splitDrift(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(trim(col("text")), " ")).as("n_tokens"),
        hashBucket(col("doc_id")).as("bucket"))
      .groupBy(col("lang"))
      .agg(
        sum(when(col("bucket") < 80, col("n_tokens"))).as("train_toks"),
        count(when(col("bucket") < 80, lit(1))).as("train_docs"),
        sum(when(col("bucket") >= 90, col("n_tokens"))).as("test_toks"),
        count(when(col("bucket") >= 90, lit(1))).as("test_docs"))
      .select(
        col("lang"), col("train_docs"), col("test_docs"),
        (col("train_toks").cast(DoubleType) / col("train_docs")).as("train_mean"),
        (col("test_toks").cast(DoubleType) / col("test_docs")).as("test_mean"),
        abs(col("train_toks").cast(DoubleType) / col("train_docs")
          - col("test_toks").cast(DoubleType) / col("test_docs")).as("drift"))

  /** Corpus bigram continuation table — the top-3 next tokens per head
    * token by count (the n-gram-LM building block, and a practical probe
    * for templated text). One bigram explode → counted groupBy (partial
    * aggregation: the shuffle carries one row per DISTINCT bigram) → per-
    * head top-k window, a partial top-k on the head partitioning. Heads
    * with a single occurrence are pruned before the window so the rank
    * shuffle sees only repeated bigrams.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("head"))
      .orderBy(col("n").desc, col("next_tok"))
    docBigrams(spark, dir)
      .groupBy(col("head"), col("next_tok"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("head"), col("next_tok"), col("n"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** One (doc_id, head, next_tok) row per word bigram — shared stream under
    * [[bigramLm]] and [[lmFamiliarity]]. Pure map (split + explode), no
    * shuffle of its own.
    */
  private def docBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> named_struct('head', w[i], 'next_tok', w[i+1]))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.head"), col("bg.next_tok"))

  /** LM-familiarity score per document — the oracle-safe analog of
    * perplexity filtering (KenLM-style quality gates): for each doc, the
    * corpus-wide bigram count summed over its bigram instances, divided by
    * the head-unigram count summed the same way. Equals the count-weighted
    * mean of the MLE conditional P(next|head), but BOTH accumulations are
    * INTEGER sums (order-independent, engine-identical) with exactly one
    * IEEE division at the output boundary — a log-prob perplexity would
    * stream floats through libm `ln`, which no cross-engine gate can pin.
    * Low familiarity = bigrams rare for their heads = gibberish/OCR noise;
    * the shape is two hash-aggregations over the bigram stream and two
    * equi-joins back, all partial-aggregated, no windows. The head join
    * key is Zipfian (stopword heads are hot) — at corpus scale that is
    * exactly the AQE skew-join case the session enables; at fixture scale
    * the count frames broadcast outright.
    */
  def lmFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    val bg = docBigrams(spark, dir)
    val cnt = bg.groupBy(col("head"), col("next_tok")).agg(count(lit(1)).as("n"))
    val hc = bg.groupBy(col("head")).agg(count(lit(1)).as("hn"))
    bg.join(cnt, Seq("head", "next_tok")).join(hc, Seq("head"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("n")).as("sum_bg"),
        sum(col("hn")).as("sum_head"))
      .withColumn("familiarity", col("sum_bg") / col("sum_head"))
  }

  /** N-gram diversity per source: distinct word-3-grams over total
    * 3-gram instances — the standard repetitiveness/diversity signal for
    * corpus mixing (a boilerplate-heavy source scores low). One explode +
    * one partial-aggregated groupBy; the distinct count shuffles (source,
    * gram) pairs once.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), split(trim(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("g"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct"),
        (countDistinct(col("g")).cast(DoubleType) / count(lit(1))).as("diversity"))

  /** Near-dup cluster collapse: keep ONE document per cluster — the longest
    * text, doc_id as tiebreak — the decision step that turns
    * [[DedupOps.dedupClusters]] labels into a deduplicated corpus.
    * `max_by` over a (n_chars, doc_id) struct compares lexicographically —
    * the tiebreak holds for ANY doc_id range (a packed integer key like
    * `n_chars * K + doc_id` silently breaks once doc_id ≥ K) and is
    * deterministic under any partitioning because the struct is unique
    * per row.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = DedupOps.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    clusters.join(docs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        expr("max_by(doc_id, struct(n_chars, doc_id))").as("survivor_id"),
        count(lit(1)).as("cluster_size"))
  }

  /** Out-of-vocabulary rate of the test split against the train split's
    * vocabulary — the leakage-direction twin of `contamination_check`
    * (there: test content seen in train; here: test content the model
    * never saw). Splits reuse the deterministic hash of
    * [[trainTestSplit]]; the vocabulary is one distinct-shuffle on token
    * and the test side anti-joins it token-partitioned, so nothing wider
    * than (token) ever shuffles. The rate divides two exact counts once
    * at the boundary.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val vocab = docs.filter(hashBucket(col("doc_id")) < 80)
      .select(col("token")).distinct()
    val test = docs.filter(hashBucket(col("doc_id")) >= 90)
    test
      .join(vocab.withColumn("in_vocab", lit(1)), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_test_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(DoubleType) / col("n_test_tokens"))
  }

  /** Sub-document passage dedup: documents are cut into ALIGNED 20-token
    * windows, each window hashed, and passages appearing more than once
    * across the corpus surface with their document spread — the op behind
    * removing duplicated boilerplate passages from otherwise-distinct
    * pages (doc-level dedup misses them entirely). Aligned windows give
    * n/20 hashes per document instead of the n overlapping shingles
    * minhash uses — cheap enough to run exactly at corpus scale; the
    * shuffle carries (16-byte hash, doc_id) pairs only, never text, and
    * map-side partial aggregation collapses within-partition repeats.
    */
  def passageDedup(spark: SparkSession, dir: String): DataFrame = {
    val P = 20
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= P)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), (size(col("toks")) / P).cast(IntegerType) - 1)).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("toks"), col("i") * P + 1, lit(P)))).as("h"))
      .groupBy(col("h"))
      .agg(
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)
  }

  /** Rebalance the corpus toward an EQUAL per-source mix: each source is
    * down-sampled at rate min(1, N/(k·n_s)) so no source exceeds its equal
    * share N/k. Selection is the same deterministic multiplicative hash as
    * [[trainTestSplit]] and the rate comparison is pure INTEGER
    * cross-multiplication — keep iff bucket·k·n_s < 100·N — so the chosen
    * set is reproducible on any engine with no floating-point rate at all.
    * Counts broadcast (one row per source); the corpus pass is a pure
    * map+filter that pushes nothing to the driver — the shape that holds
    * when the mix report covers 100 TB.
    */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val perSource = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val totals = perSource.agg(
      sum(col("n_s")).as("n_total"), count(lit(1)).as("k"))
    docs
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(totals))
      .filter(hashBucket(col("doc_id")) * col("k") * col("n_s") <
              lit(100L) * col("n_total"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_orig"))
  }

  /** Incremental aggregate maintenance: the running per-type stats table
    * is maintained from PARTIAL aggregates — the base period's partials
    * merged with a new delta period's partials (sum-of-sums, min-of-mins,
    * max-of-maxes) — never by re-scanning the base. The oracle computes
    * the same stats with one full-table aggregation, so the correctness
    * gate IS the algebraic statement incremental == full. This merge
    * property (commutative-monoid partials) is what lets a 100 TB metric
    * table absorb a daily delta by reading only the delta plus one row
    * per group of prior state. Sums stay in DECIMAL through the merge
    * (exact, order-independent) and exit as DOUBLE.
    */
  def incrementalAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val cut = "2024-01-20 00:00:00"
    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
    val ev = Tables.events(spark, dir)
    val base = partials(ev.filter(col("ts") < lit(cut).cast("timestamp")))
    val delta = partials(ev.filter(col("ts") >= lit(cut).cast("timestamp")))
    base.unionAll(delta)
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        sum(col("sum_v")).cast(DoubleType).as("sum_value"),
        min(col("min_v")).as("min_value"),
        max(col("max_v")).as("max_value"))
  }

  /** Per-stratum length-band outlier filter: drop each language's shortest
    * 5% and longest 5% of documents (truncation/boilerplate tails), the
    * standard corpus-cleaning band filter. The band is computed from RANK
    * ARITHMETIC — 100·rank > 5·n and 100·rank ≤ 95·n over (n_chars,
    * doc_id) order — not an engine quantile function (interpolated
    * quantile definitions differ subtly across engines) and not a
    * fractional multiply (0.05·n is DECIMAL in ANSI engines but DOUBLE
    * here, and the rounding can disagree exactly at integer band edges);
    * scaled-integer comparison is exact everywhere. One window
    * partitioned by lang (the
    * stratum count bounds the skew) plus a broadcast per-lang count; at
    * 100 TB the window sort shuffles each stratum once and nothing else.
    */
  def lengthBandFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val byLen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    docs
      .withColumn("rk", row_number().over(byLen))
      .join(broadcast(counts), "lang")
      .filter(col("rk") * lit(100L) > lit(5L) * col("n_lang") &&
              col("rk") * lit(100L) <= lit(95L) * col("n_lang"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        min(col("n_chars")).as("min_kept"),
        max(col("n_chars")).as("max_kept"),
        sum(col("n_chars")).as("chars_kept"))
  }

  /** Sliding-window document chunking — the RAG/pretraining segmentation
    * shape: each document split into 64-token chunks on a 32-token stride
    * (50% overlap so no boundary sentence is orphaned). Pure per-row
    * expansion: tokenize once, explode the stride grid
    * (`sequence(0, n−1, 32)`), slice the token array per chunk — no
    * shuffle at all until a consumer aggregates, and the emitted row
    * carries the chunk's md5 (its dedup/lookup key) rather than the text,
    * so the expansion ships ~50 bytes per chunk regardless of chunk size.
    * Tokenization is the corpus's single-space convention, identical to
    * [[TextOps]].
    *
    * The stride grid stops at the FIRST window reaching the document end
    * (bound n−33, so the last kept start is the largest multiple of 32
    * below n−32): a naive 0..n−1 grid also emits trailing starts whose
    * windows are strict suffixes of the previous chunk — pure stride
    * artifacts (34% of chunks on the test corpus) that [[chunkDedup]]
    * would then misreport as duplicated passages.
    *
    * Empty/whitespace-only documents are dropped up front: `split(trim(''),
    * ' ')` is `['']`, which would otherwise emit one zero-content chunk per
    * empty doc, all hashing to the same empty-token md5 — [[chunkDedup]]
    * would then flag every empty doc as a duplicated passage.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
      .select(
        col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 33, lit(0)), lit(32)))
          .as("s"))
      .select(
        col("doc_id"),
        (col("s") / 32).cast(IntegerType).as("chunk_id"),
        size(slice(col("toks"), col("s") + 1, lit(64))).as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("s") + 1, lit(64))))
          .as("chunk_hash"))

  /** Chunk-level duplicate detection over [[docChunks]] — the boilerplate
    * radar doc-level dedup misses: a chunk hash appearing under more than
    * one position/document marks repeated passage content (headers, legal
    * footers, templated sections). One hash-keyed partial aggregation over
    * the chunk stream; the shuffle carries (hash, doc_id) pairs only, and
    * output is bounded by the duplicated subset, not the corpus.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    docChunks(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_occurrences") > 1)

  /** CDC log replay: materialize the final state of a keyed table from an
    * ordered change log — the batch twin of the streaming upsert sink
    * (reference: processor.py:145-164 applies the same last-writer-wins
    * contract per key). The event stream is read as a change feed on
    * user_id: 'error' rows are delete markers, everything else upserts the
    * row. Final state = the LAST operation per key decides everything
    * (later updates overwrite, a trailing delete tombstones), so replay is
    * ONE row_number window over (ts, event_id) — the unique tiebreak makes
    * the survivor deterministic — never an iterative apply. One user_id
    * shuffle; at 100 TB the log compacts per partition map-side first
    * (rank-limit pushdown keeps only each partition's latest candidates).
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_op"),
        col("value").as("last_value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
  }

  /** Deterministic global shuffle — the training-order permutation every
    * epoch needs over a corpus too big to `ORDER BY rand()`: the same
    * multiplicative hash as [[hashBucket]] (un-reduced, full 0..p−1
    * range) is the permutation key, its low bits pick one of 64 output
    * shards, and the within-shard position is a rank over the hash order
    * (doc_id tiebreak for the p-collision case). No RNG: rerun-stable
    * under retries and repartitioning, and any engine reproduces the
    * exact permutation (the oracle does). Scale shape: assigning shards
    * is a pure projection; ranking runs under a 64-way shard-PARTITIONED
    * window — at 100 TB that IS the distributed shuffle (one exchange +
    * per-shard local sort), with shard count sized to the write target
    * (not a global sort, not a single partition).
    */
  /** Batch size for [[batchPadding]] — public so the oracle SQL
    * interpolates THIS value.
    */
  val PadBatch = 32

  /** Length-grouped batching plan — the padding-efficiency audit behind
    * every trainer's group-by-length option: when docs batch in hash
    * order, each batch pads to its longest member and short docs burn
    * compute; grouping by length first shrinks that waste. Both
    * strategies are planned DETERMINISTICALLY (no RNG, no global sort):
    *  - `grouped`: bucket = tokens div 64, rank by the multiplicative-
    *    hash permutation WITHIN bucket, chop into [[PadBatch]]-doc
    *    batches — windows partition by bucket;
    *  - `hash_order`: the corpus_shuffle sharding (64 hash shards, rank
    *    within shard) — the "random" baseline with the same no-global-
    *    sort discipline.
    * Per strategy: batch count, real tokens, padded tokens
    * (Σ per batch cnt·max_len), and the waste fraction as the single
    * boundary division. All-integer; fully oracle-checkable (both
    * rankings replay as identically-ordered row_number windows).
    *
    * Scale: two passes over a (doc_id, tokens) projection; every window
    * partitions by bucket/shard (bounded fan-in per partition), batch
    * maxima partial-aggregate. At 100 TB the plan IS the batching
    * manifest a loader consumes.
    */
  def batchPadding(spark: SparkSession, dir: String): DataFrame = {
    val b = PadBatch
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), permKey(col("doc_id")).as("hkey"),
        size(split(trim(col("text")), " ")).cast(LongType).as("toks"))
    def plan(name: String, keyCol: Column): DataFrame = {
      val w = Window.partitionBy(col("grp")).orderBy(col("hkey"), col("doc_id"))
      base.withColumn("grp", keyCol)
        .withColumn("rn", row_number().over(w))
        .withColumn("batch", expr(s"(rn - 1) div $b"))
        .groupBy(col("grp"), col("batch"))
        .agg(count(lit(1)).as("cnt"), max(col("toks")).as("mx"),
          sum(col("toks")).as("real"))
        .agg(
          lit(name).as("strategy"),
          count(lit(1)).as("n_batches"),
          sum(col("real")).as("real_tokens"),
          sum(col("cnt") * col("mx")).as("padded_tokens"))
        .select(col("strategy"), col("n_batches"), col("real_tokens"),
          col("padded_tokens"),
          ((col("padded_tokens") - col("real_tokens")).cast(DoubleType) /
            col("padded_tokens").cast(DoubleType)).as("waste_frac"))
    }
    plan("grouped", expr("toks div 64"))
      .unionByName(plan("hash_order", col("hkey") % 64))
  }

  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val hkey = permKey(col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), hkey.as("hkey"))
      .withColumn("shard", col("hkey") % 64)
      .withColumn("pos", row_number().over(w))
  }

  /** Training-order mixing audit of [[corpusShuffle]]'s permutation — the
    * check run before a training job trusts a shuffled corpus ("data
    * order matters"): within each shard, the rate at which ADJACENT
    * documents come from the same source, against the random-permutation
    * baseline P(collision) = Σ_s n_s(n_s−1) / (N(N−1)). A shuffle that
    * silently preserves ingest order (e.g. a monotone key) shows
    * collision_rate ≫ expected_rate; the `well_mixed` flag alerts at 2×
    * the baseline, decided by exact DECIMAL cross-multiplication — the
    * doubles are display-only. Adjacency is ONE `lag` inside the same
    * shard window the shuffle itself defines (no self-join); the two
    * exact-integer baseline terms ride along (the derive-client-side
    * discipline; int64-safe below ~3·10⁹ docs per source — past that the
    * two columns move to internal DECIMAL and only the rates ship).
    *
    * Scale: the id+source projection checkpoints once and feeds both the
    * shard-windowed adjacency pass and the source census; shard count
    * bounds window parallelism exactly as it bounds corpusShuffle's own
    * write parallelism (production raises both together).
    */
  def shuffleAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.ckpt(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("hkey", permKey(col("doc_id")))
      .withColumn("shard", col("hkey") % 64))
    val w = Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))
    val adj = base
      .withColumn("prev_source", lag(col("source"), 1).over(w))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("prev_source").isNotNull, 1L).otherwise(0L))
          .as("n_pairs"),
        sum(when(col("prev_source") === col("source"), 1L).otherwise(0L))
          .as("collisions"))
    val exp = base.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      .agg(
        sum(col("ns") * (col("ns") - 1)).as("expected_num"),
        (sum(col("ns")) * (sum(col("ns")) - 1)).as("expected_den"))
    adj.crossJoin(broadcast(exp))
      .select(
        col("n_docs"), col("n_pairs"), col("collisions"),
        when(col("n_pairs") > 0,
          col("collisions").cast(DoubleType) / col("n_pairs").cast(DoubleType))
          .as("collision_rate"),
        col("expected_num"), col("expected_den"),
        when(col("expected_den") > 0,
          col("expected_num").cast(DoubleType)
            / col("expected_den").cast(DoubleType)).as("expected_rate"),
        (col("collisions").cast(DecimalType(38, 0)) * col("expected_den") <=
          lit(2) * col("n_pairs").cast(DecimalType(38, 0)) * col("expected_num"))
          .as("well_mixed"))
  }

  /** Dataset card — the per-source datasheet a released corpus ships
    * with (Gebru et al.'s "Datasheets for Datasets", the model-card
    * sibling): per source, document/language/token/char totals, the
    * exact-duplicate count, and mean tokens per doc. One scan; every
    * statistic is an exact integer until the single division at the
    * output boundary. The duplicate count rides a (source, md5) window —
    * partitions are duplicate GROUPS (bounded by the dup cluster size),
    * never a source-wide sort.
    */
  /** T5-style span-corruption PLAN (Raffel et al. 2020, §3.1.4): mark
    * ~15% of token positions per document for masking and merge adjacent
    * marks into corruption spans — the denoising-objective preprocessing
    * every encoder-decoder pretraining pipeline runs. The mask decision
    * is the deterministic [[permKey]] discipline over (doc_id, pos) — no
    * RNG, reproducible across reruns/partitionings, and replayable by
    * the oracle with identical BIGINT arithmetic (doc_id pre-reduced mod
    * p so the combine provably fits int64 for ANY key; positions are
    * assumed < 1000003 ≈ a 1M-token document, documented contract).
    *
    * Scale shape: positions explode map-side but only the MASKED ~15%
    * survive the filter into the one doc_id exchange; span merging is
    * the gaps-and-islands trick (pos − row_number) under a doc-bounded
    * window — never a global sort, never a self-join. Output per doc:
    * token/masked/span counts, the mask fraction (one IEEE division),
    * and the packed sequence length after each span collapses to one
    * sentinel (what the trainer actually allocates).
    */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"))
    val masked = toks.filter(
      pmod(pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(1000003L) + col("pos"),
        lit(1000000007L)) * lit(2654435761L), lit(1000000007L)) % 100 < 15)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = masked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_masked"),
        countDistinct(col("grp")).as("n_spans"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast(LongType).as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (coalesce(col("n_masked"), lit(0L)).cast(DoubleType) / col("n_tokens"))
          .as("mask_frac"),
        (col("n_tokens") - coalesce(col("n_masked"), lit(0L)) +
          coalesce(col("n_spans"), lit(0L))).as("packed_len"))
  }

  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"), col("h"))
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(trim(col("text")), " ")).cast(LongType).as("toks"),
        md5(col("text")).as("h"))
      .withColumn("grp", count(lit(1)).over(w))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_exact_dups"),
        (sum(col("toks")).cast(DoubleType) / count(lit(1))).as("tokens_per_doc"))
  }

  /** Target-weighted training-mixture plan with an epoch-capped upsample —
    * the data-mixing step (DoReMi / Llama-style source reweighting) that
    * [[mixRebalance]]'s equal-share special case cannot express: each
    * source s gets a TARGET token share w_s, the budget is the corpus
    * token total, and the plan both down-samples over-represented sources
    * and REPEATS under-represented ones, with repetition capped at 4
    * epochs (the standard multi-epoch degradation bound) so a tiny
    * high-weight source cannot be looped dozens of times.
    *
    * All plan arithmetic is scaled-INTEGER — desired = B·w/W, epochs in
    * hundredths least(400, 100·desired/n_s) — never a floating-point rate,
    * so the emitted set is engine-exact (the [[trainTestSplit]]
    * discipline). A document's copy count is full_copies plus one more iff
    * its [[hashBucket]] falls under the fractional-epoch percent: the
    * per-doc decision is a pure function of (doc_id, source plan row), so
    * re-running the plan on any engine, any partitioning, emits the SAME
    * multiset. Target weights come from a config table in production; here
    * they derive deterministically from the source name (suffix+1) so the
    * fixture exercises BOTH directions. Scale shape: per-source counts and
    * the 1-row total BROADCAST; both corpus passes are map-only
    * project+filter with partial aggregation on `source` — nothing
    * driver-side, no shuffle wider than |sources| rows.
    */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast(LongType).as("n_toks"),
        (coalesce(nullif(regexp_extract(col("source"), "(\\d+)$", 1), lit(""))
          .cast(LongType), lit(0L)) + 1L).as("w"))
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("w")).as("w"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("budget"), sum(col("w")).as("w_total"))
    val plan = perSource.crossJoin(broadcast(totals))
      .withColumn("desired_tokens", expr("budget * w div w_total"))
      .withColumn("epochs_q2",
        least(lit(400L), expr("100L * desired_tokens div n_tokens")))
      .withColumn("full_copies", expr("epochs_q2 div 100"))
      .withColumn("frac_pct", expr("epochs_q2 % 100"))
    val emitted = docs
      .join(broadcast(plan.select(col("source"), col("full_copies"), col("frac_pct"))),
        "source")
      .withColumn("copies",
        col("full_copies") +
          when(hashBucket(col("doc_id")) < col("frac_pct"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(sum(col("copies")).as("docs_emitted"),
        sum(col("copies") * col("n_toks")).as("tokens_emitted"))
    plan
      .join(emitted, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("w").as("target_w"), col("desired_tokens"), col("epochs_q2"),
        col("docs_emitted"), col("tokens_emitted"))
  }

  /** α-temperature source reweighting at α = 1/2 — the standard
    * multilingual/source-balancing sampler (mBERT/XLM-R-style: sampling
    * share p_s ∝ n_s^α, renormalized) that [[mixturePlan]]'s
    * externally-given fixed ratios cannot express: the weight DERIVES
    * from the observed size, flattening the head and boosting the tail
    * without inverting the order. α = 1/2 keeps the whole plan
    * engine-exact: the weight is isqrt(n_s) — floor-integer square root
    * via the guarded FLOOR(SQRT(n)) ± 1 correction fold (sqrt is
    * IEEE-correctly-rounded on both engines and n_s < 2^52 converts to
    * double exactly, so the library root is within one of the true
    * isqrt and the two integer comparisons pin it — no float survives
    * into the plan). Downstream is [[mixturePlan]]'s own composition:
    * desired = budget·isqrt_s div Σ isqrt (factors promoted to
    * decimal/HUGEINT so the multiply can't wrap at corpus scale),
    * epochs capped at 4 in hundredths, per-doc copy decision by the
    * shared [[hashBucket]] — the emitted multiset is a pure function of
    * (doc_id, plan row), identical on any engine, any partitioning.
    *
    * Scale shape is mixturePlan's: per-source summary + 1-row totals
    * BROADCAST; two corpus passes, both map-side project+filter with
    * partial aggregation on `source`; no shuffle wider than |sources|.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixFrom(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast(LongType).as("n_toks")))

  /** The plan body over a prepared (doc_id, source, n_toks) frame —
    * factored out so the spec can force the epoch-cap branch on a
    * synthetic corpus the near-uniform fixture cannot produce.
    */
  private[graft] def temperatureMixFrom(docs: DataFrame): DataFrame = {
    val r0 = floor(sqrt(col("n_tokens").cast(DoubleType)))
    val weighted = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("isqrt_w",
        when(r0 * r0 > col("n_tokens"), r0 - 1)
          .when((r0 + 1) * (r0 + 1) <= col("n_tokens"), r0 + 1)
          .otherwise(r0))
    val totals = weighted.agg(
      sum(col("n_tokens")).as("budget"), sum(col("isqrt_w")).as("s_total"))
    val plan = weighted.crossJoin(broadcast(totals))
      .withColumn("desired_tokens", expr(
        "CAST(CAST(budget AS DECIMAL(19,0)) * isqrt_w div s_total AS BIGINT)"))
      .withColumn("epochs_q2",
        least(lit(400L), expr("100L * desired_tokens div n_tokens")))
      .withColumn("full_copies", expr("epochs_q2 div 100"))
      .withColumn("frac_pct", expr("epochs_q2 % 100"))
    val emitted = docs
      .join(broadcast(plan.select(col("source"), col("full_copies"), col("frac_pct"))),
        "source")
      .withColumn("copies",
        col("full_copies") +
          when(hashBucket(col("doc_id")) < col("frac_pct"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(sum(col("copies")).as("docs_emitted"),
        sum(col("copies") * col("n_toks")).as("tokens_emitted"))
    plan
      .join(emitted, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("isqrt_w"),
        col("desired_tokens"), col("epochs_q2"),
        col("docs_emitted"), col("tokens_emitted"))
  }

  /** Cross-source contamination matrix: for every source pair, how many
    * distinct aligned 20-token passage hashes (the [[passageDedup]]
    * window) appear in BOTH — the leakage audit a corpus build runs
    * between crawl snapshots / vendors before attributing mixture weights
    * (passage grain catches shared boilerplate and syndicated text that
    * whole-document hashing misses). Output: each overlapping pair with
    * its shared-passage count, per-source distinct-passage totals, and
    * the exact Jaccard (a ratio of integers — engine-exact).
    *
    * Scale shape: the corpus reduces to DISTINCT (source, hash) — partial
    * aggregation collapses within-partition repeats, so the shuffle
    * carries one 16-byte hash per distinct (source, passage), never text.
    * The pair join is hash-keyed; per-hash fan-out is bounded by the
    * SOURCE count (each hash row meets at most |sources|−1 partners), so
    * there is no quadratic blow-up in corpus size — only in the
    * dashboard-bounded source count.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val P = 20
    val sh = Tables.documents(spark, dir)
      .select(col("source"), split(trim(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= P)
      .select(col("source"), col("toks"),
        explode(sequence(lit(0), (size(col("toks")) / P).cast(IntegerType) - 1)).as("i"))
      .select(col("source"),
        md5(concat_ws(" ", slice(col("toks"), col("i") * P + 1, lit(P)))).as("h"))
      .distinct()
    val perSource = sh.groupBy(col("source")).agg(count(lit(1)).as("n_passages"))
    val a = sh.select(col("source").as("source_a"), col("h"))
    val b = sh.select(col("source").as("source_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(perSource.select(col("source").as("source_a"),
        col("n_passages").as("n_a"))), "source_a")
      .join(broadcast(perSource.select(col("source").as("source_b"),
        col("n_passages").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
  }

  /** Half-life in days for [[recencyMix]] — public so the oracle SQL
    * interpolates THIS value.
    */
  val RecencyHalfLifeDays = 7

  /** Bucket clamp for [[recencyMix]] (shift guard; keep_pct is 0 well
    * before it) — public for the same interpolation reason.
    */
  val RecencyMaxBucket = 20L

  /** Freshness-decay sampling plan — the recency weighting a training
    * pipeline applies to behavioral/event or crawl-snapshot data (recsys
    * training and news/crawl mixing both down-weight stale records):
    * keep probability halves every [[RecencyHalfLifeDays]] days of age.
    * A dyadic half-life keeps the whole plan engine-exact — weight
    * 2^(−age div H) clears to keep_pct = 100 div 2^bucket, an exact
    * integer per bucket (100/50/25/12/6/3/1 then 0), and the per-record
    * decision is the shared [[hashBucket]] gate, so the emitted set is a
    * pure function of (event_id, horizon) — rerun/partitioning-stable,
    * any engine (the trainTestSplit discipline; no float rate ever
    * exists). The bucket index is CLAMPED at 20 before the shift (past
    * 2^20 the pct is 0 anyway) because Java's shift is mod-64 — an
    * unclamped 64-bucket age would silently wrap keep_pct back to 100,
    * the exact overflow class the permKey doc warns about.
    *
    * Output: per (event_type, age bucket) the census a mixing dashboard
    * reads — population, keep_pct, emitted count.
    *
    * Scale: one pass; the 1-row horizon broadcasts; partial aggregation
    * on (type, bucket) — a calendar-bounded frame. No shuffle wider
    * than the census.
    */
  def recencyMix(spark: SparkSession, dir: String): DataFrame = {
    val h = RecencyHalfLifeDays
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    val hz = e.agg(max(col("ts")).as("horizon"))
    e.crossJoin(broadcast(hz))
      .withColumn("age_days",
        datediff(to_date(col("horizon")), to_date(col("ts"))).cast(LongType))
      .withColumn("bucket",
        least(expr(s"age_days div $h"), lit(RecencyMaxBucket)))
      .withColumn("keep_pct",
        expr("100L div shiftleft(1L, CAST(bucket AS INT))"))
      .withColumn("kept",
        (hashBucket(col("event_id")) < col("keep_pct")).cast(LongType))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("keep_pct")).as("keep_pct"),
        sum(col("kept")).as("n_kept"))
  }

  /** Target docs per shard for [[shardManifest]] — the SIZE contract the
    * shard count derives from (S = ⌈docs / target⌉), interpolated into
    * both the op and its oracle from this one val. Small so the test
    * fixtures populate several shards (sf0.01's 500 docs → 4 shards); a
    * deployment would set it to its trainer's shard budget — the scale
    * posture is independent of the value.
    */
  val ShardTargetDocs = 128L

  /** Training-shard export manifest — the reproducibility record a
    * corpus build writes beside its shards: every doc assigned to one of
    * S shards by the shared [[permKey]] multiplicative hash
    * (deterministic, partitioning/rerun-stable — the trainTestSplit
    * discipline), and per shard the census a consumer validates against
    * (doc/token/char counts, id range) plus an ORDER-DEFINED integrity
    * checksum: md5 over the shard's doc ids in (perm_key, doc_id) order
    * — the same permutation [[shuffleAudit]] audits, so the manifest
    * fixes the exact byte order a trainer will read. Fully
    * oracle-checkable: both engines compute the identical ordered
    * digest (DuckDB string_agg ORDER BY == sorted-array concat here).
    *
    * Scale: S is DERIVED from the corpus — S = ⌈docs /
    * [[ShardTargetDocs]]⌉ (one count() aggregate broadcast back over the
    * scan; GREATEST(…, 1) guards the empty corpus) — so the per-shard
    * `sort_array(collect_list(...))` ordered-id list is bounded by the
    * target (× the multiplicative hash's small imbalance), NOT by
    * corpus/S with a fixed S: at 100 TB the shard count grows and every
    * group stays a few hundred ids. This replaces r14's fixed S = 8,
    * whose O(corpus/8) lists were honest-but-prose at scale. The shuffle
    * carries (ids, counts) only; the count pass is metadata-cheap on
    * parquet.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(trim(col("text")), " ")).cast(LongType).as("n_toks"),
        permKey(col("doc_id")).as("pk"))
    // 1-row shard-count frame, broadcast into the scan: ceil-div via
    // (n + T - 1) div T in pure BIGINT (no float CEIL on either side)
    val nsh = d.agg(greatest(
      expr(s"(count(1) + ${ShardTargetDocs - 1}) div $ShardTargetDocs"),
      lit(1L)).as("n_shards"))
    d.crossJoin(broadcast(nsh))
      .withColumn("shard_id", pmod(col("pk"), col("n_shards")))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sort_array(collect_list(struct(col("pk"), col("doc_id")))).as("ord"))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("min_doc_id"), col("max_doc_id"),
        md5(expr("CAST(concat_ws(',', transform(ord, x -> CAST(x.doc_id AS STRING))) AS BINARY)"))
          .as("ids_md5"))
  }

  /** Phase count for [[curriculumPlan]] — public so the oracle SQL
    * interpolates THIS value.
    */
  val CurriculumPhases = 4L

  /** Length-curriculum schedule — the classic short→long training
    * curriculum (sequence-length warmup: early phases train on short
    * documents, both a stability technique and a throughput lever since
    * packed short sequences waste less padding), planned as a census the
    * data loader executes from. Difficulty = whitespace token count
    * (shard_manifest's convention); phases are [[CurriculumPhases]]
    * equal-population bands assigned PER SOURCE by exact integer rank —
    * phase = (rank−1)·P div n over the (toks, doc_id) total order, the
    * revenue_concentration band arithmetic — so every phase preserves
    * the corpus's source MIX (a global sort by length would skew early
    * phases toward the shortest-document sources and silently change
    * the mixture temperature_mix fixed). Per (source, phase): doc/token
    * census and the length band. Integer arithmetic end to end — fully
    * oracle-checked; ties break on doc_id, deterministic.
    *
    * Scale: one ordered window per source partition (the mixture lane's
    * per-source discipline — ranks never cross sources, so the window
    * parallelizes across the dashboard-bounded source dimension); the
    * output is |sources|·P rows. rank cast to BIGINT before the ·P
    * multiply — int row_number overflows at ~536 M docs/source under
    * ANSI.
    */
  def curriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("toks"), col("doc_id"))
    val wc = Window.partitionBy(col("source"))
    Tables.documents(spark, dir)
      // NULL text must not reach the rank: a NULL toks would sort NULLS
      // FIRST here but NULLS LAST in the oracle's row_number, shifting
      // every phase in that source (latent — fixtures carry no NULL
      // text, but one fixture edit away from a parity failure)
      .filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), " ")).cast(LongType).as("toks"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("phase", expr(s"((rn - 1) * $CurriculumPhases) div n"))
      .groupBy(col("source"), col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_toks"),
        min(col("toks")).as("tok_min"), max(col("toks")).as("tok_max"))
  }
}
