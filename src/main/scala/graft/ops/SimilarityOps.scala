package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** Similarity search over the `embeddings` table (dim-64 float vectors):
  * brute-force cosine top-k as the exactness baseline, sign-LSH bucketing
  * as the 100 TB scale path.
  *
  * All vector math is higher-order array expressions (zip_with + aggregate
  * left-fold in index order) in DOUBLE — deterministic on any partitioning,
  * and bit-comparable with an oracle that folds in the same order. float ×
  * float products are exact in double (24+24 ≤ 53 mantissa bits), so the
  * only rounding is the fold itself, which both engines do left-to-right.
  */
object SimilarityOps {

  /** embeddings with double-precision vectors and the L2 norm materialized
    * per vector BELOW any join — per-pair work is then one zip_with fold
    * plus a multiply/divide, instead of re-folding both norms for every
    * candidate pair. `cos = dot / (nrm_v * nrm_q)` is the same IEEE op
    * sequence as computing the norms inline, so results (and the DuckDB
    * oracle match) are bit-identical.
    */
  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    Tables.balanced(Tables.embeddings(spark, dir))
      .select(
        col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(v, a -> a * a), 0D, (acc, x) -> acc + x))"))
  }

  /** Per-pair dot product through the native codegen'd
    * [[graft.functions.DotProduct]] expression — a primitive double loop in
    * whole-stage codegen instead of an interpreted zip_with/aggregate fold
    * (identical index-order summation, so results are bit-equal).
    */
  private val dotVQ = "dot_product(v, qv)"

  /** Exact cosine re-rank of candidate (q_id, vec_id) pairs — the shared
    * verification tail of every ANN path: candidates travel as IDS ONLY;
    * vectors join back per side here, queries broadcast.
    */
  private def exactRerank(cand: DataFrame, e: DataFrame, q: DataFrame,
                          k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand
      .join(e, "vec_id")
      .join(broadcast(q.select(col("q_id"), col("qv"), col("q_nrm"))), "q_id")
      .withColumn("cosine", expr(s"$dotVQ / (nrm * q_nrm)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("cosine"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** Brute-force exact top-10 cosine neighbors for a small query set
    * (vec_id < 10). The query side is broadcast — the corpus side streams
    * once with no shuffle until the per-query top-k, which is a partial
    * top-k under the ranking window on a 10-key partitioning.
    */
  def knnCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr(s"$dotVQ / (nrm * q_nrm)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"), col("cosine"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009 —
    * the score-free fusion every hybrid lexical+vector search stack
    * runs): for each query id < 10, fuse (a) the exact cosine top-10
    * over the embeddings ([[knnCosine]]'s ranks, unchanged plan) with
    * (b) a lexical top-10 by DISTINCT shared word-3-grams between the
    * query document and each candidate document (integer overlap,
    * (overlap desc, id) tiebreak; zero-overlap candidates never rank).
    * Fused score = Σ_legs 1/(60+rank) with rank-absent legs contributing
    * 0 — a fixed two-term expression over integer ranks, so the doubles
    * are engine-identical and the op is fully oracle-checkable despite
    * the float-free-sum discipline (no aggregation over floats happens
    * at all). Output: both leg ranks (0 = absent), the fused score, and
    * the fused top-10.
    *
    * Scale: the lexical leg's candidates come from an equi-join of the
    * corpus shingle explosion against the BROADCAST query-side shingles
    * — per-query fan-out is bounded by shingle fan-in, never an
    * all-pairs product; the vector leg broadcasts the 10 queries as in
    * knnCosine; fusion joins two ≤10·|Q|-row frames.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val vleg = knnCosine(spark, dir)
      .select(col("q_id"), col("vec_id").as("id"), col("rk").as("rk_v"))
    val lleg = lexicalTopK(spark, dir)
      .select(col("q_id"), col("id"), col("rk_l"))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("fused").desc, col("id"))
    vleg.join(lleg, Seq("q_id", "id"), "full_outer")
      .select(
        col("q_id"), col("id"),
        coalesce(col("rk_v"), lit(0)).cast(IntegerType).as("rk_v"),
        coalesce(col("rk_l"), lit(0)).cast(IntegerType).as("rk_l"),
        (when(col("rk_v").isNotNull, lit(1.0) / (lit(60) + col("rk_v")))
          .otherwise(lit(0.0)) +
          when(col("rk_l").isNotNull, lit(1.0) / (lit(60) + col("rk_l")))
            .otherwise(lit(0.0))).as("fused"))
      .withColumn("fused_rk", row_number().over(wf))
      .filter(col("fused_rk") <= k)
      .select(col("q_id"), col("id"), col("rk_v"), col("rk_l"),
        col("fused"), col("fused_rk").cast(IntegerType).as("fused_rk"))
  }

  /** The lexical retrieval leg shared by [[hybridRrf]] and [[ndcgEval]]:
    * per query doc (doc_id < 10), the top-10 candidate docs by DISTINCT
    * shared word-3-grams (integer overlap, (overlap desc, id) tiebreak;
    * zero-overlap candidates never rank). Candidates come from an
    * equi-join of the corpus shingle explosion against the BROADCAST
    * query-side shingles — per-query fan-out is bounded by shingle
    * fan-in, never an all-pairs product.
    */
  private def lexicalTopK(spark: SparkSession, dir: String,
                          k: Int = 10): DataFrame = {
    // r13: rides [[queryGramFrames]]' single restricted explosion — each
    // grams row is one distinct (doc, gram) pair, so the overlap count is
    // definitionally the old shingled-self-join's distinct shared-shingle
    // count (oracle unchanged; HybridRrfSpec replays pin the rows). The
    // measured win: ~4.0 → ~2.2 s at sf0.1 for hybrid_rrf.
    val (grams, qg, _) = queryGramFrames(spark, dir)
    overlapRank(grams, qg, k)
  }

  /** Three-leg Reciprocal Rank Fusion — [[hybridRrf]] extended with the
    * [[bm25TopK]] leg, the production shape where the lexical side runs
    * BOTH a cheap boolean-overlap retriever and a BM25-weighted one and
    * the fusion arbitrates: per query, fused = Σ over present legs of
    * 1/(60+rank) across (vector cosine top-10, distinct-overlap top-10,
    * BM25 top-10). Still a FIXED three-term expression over integer
    * ranks — no float aggregation anywhere — so fully oracle-checkable;
    * 0 marks an absent leg. Two same-cost lexical legs genuinely
    * disagree (BM25's idf demotes stopword-ish shingles), which is what
    * gives the third leg fusion value; HybridRrf3Spec asserts the
    * orders differ and replays the full fusion.
    *
    * Scale: the vector leg is the established broadcast-query corpus
    * stream; BOTH lexical legs derive from the ONE
    * [[queryGramFrames]] corpus explosion (r13 — previously each leg
    * paid its own); fusion full-outer-joins three ≤10·|Q|-row frames.
    * Nothing new shuffles.
    */
  def hybridRrf3(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val vleg = knnCosine(spark, dir)
      .select(col("q_id"), col("vec_id").as("id"), col("rk").as("rk_v"))
    // r13: both lexical legs ride ONE corpus explosion ([[queryGramFrames]])
    // — overlapRank is row-identical to lexicalTopK (spec-pinned), so the
    // fusion and its oracle are unchanged while the corpus is exploded
    // once, not twice
    val (grams, qg, stats) = queryGramFrames(spark, dir)
    val lleg = overlapRank(grams, qg, k)
      .select(col("q_id"), col("id"), col("rk_l"))
    val bleg = bm25Rank(grams, qg, stats, k)
      .select(col("q_id"), col("id"), col("rk").as("rk_b"))
    def term(rk: Column) =
      when(rk.isNotNull, lit(1.0) / (lit(60) + rk)).otherwise(lit(0.0))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("fused").desc, col("id"))
    vleg.join(lleg, Seq("q_id", "id"), "full_outer")
      .join(bleg, Seq("q_id", "id"), "full_outer")
      .select(
        col("q_id"), col("id"),
        coalesce(col("rk_v"), lit(0)).cast(IntegerType).as("rk_v"),
        coalesce(col("rk_l"), lit(0)).cast(IntegerType).as("rk_l"),
        coalesce(col("rk_b"), lit(0)).cast(IntegerType).as("rk_b"),
        (term(col("rk_v")) + term(col("rk_l")) + term(col("rk_b")))
          .as("fused"))
      .withColumn("fused_rk", row_number().over(wf))
      .filter(col("fused_rk") <= k)
      .select(col("q_id"), col("id"), col("rk_v"), col("rk_l"), col("rk_b"),
        col("fused"), col("fused_rk").cast(IntegerType).as("fused_rk"))
  }

  /** BM25 parameters as exact-double literals, public so the oracle SQL
    * interpolates THE SAME parse-exact decimal strings (0.75 and 0.25 are
    * dyadic; 1.2 and 2.2 parse to doubles with 1.2+1.0 == 2.2 exactly, so
    * k1+1 is safe as the literal 2.2 on both engines).
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25-weighted lexical retrieval — [[lexicalTopK]] upgraded from raw
    * distinct-shingle overlap to the ranking function production hybrid
    * stacks actually run (Robertson-Walker BM25 over word-3-gram terms):
    * per query doc (doc_id < 10) the top-10 corpus docs by
    * Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).
    *
    * Oracle discipline (the NdcgDiscounts integer-scaling applied to a
    * data-dependent weight): idf is floor-quantized to 1e-6 units the
    * moment it is computed (`idf_q6`, the mutual_info pmi_q9 pattern —
    * ln() is the single library-rounded step and the q6 floor's
    * disagreement window is ~1e-9 per distinct df), every later step is
    * parse-exact literals and fixed parenthesized IEEE ·,/,+ over
    * exact-integer-valued doubles — bit-identical across engines — and
    * the per-term weight floor-quantizes to BIGINT BEFORE summation, so
    * the document score accumulates as pure integer arithmetic
    * (summation order can never matter) with ONE boundary division to
    * the reported double score. tf·avgdl normalization clears the
    * average's division: dl/avgdl = dl·N/T with dl·N exact BIGINT.
    *
    * Scale: the corpus shingle explosion is map-side semi-joined against
    * the BROADCAST query-gram set BEFORE any aggregation, so the (doc,
    * gram, tf) shuffle carries only query-relevant pairs (never the
    * corpus vocabulary); document frequencies and idf derive from that
    * same restricted frame (a ≤|query grams| aggregate, broadcast back);
    * dl/N/T are one map-side doc-level pass. No all-pairs term anywhere
    * — the lexicalTopK candidate plan with BM25 weights riding it.
    */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (grams, qg, stats) = queryGramFrames(spark, dir)
    bm25Rank(grams, qg, stats, k)
  }

  /** The (doc, distinct-query-gram, tf) frame + doc-level stats shared by
    * [[bm25TopK]] and [[hybridRrf3]]: the corpus word-3-gram explosion is
    * restricted map-side to the BROADCAST query-gram universe before the
    * tf aggregation ever shuffles, and BOTH lexical rankings (boolean
    * distinct-overlap and BM25) derive from the one resulting frame — a
    * fused retriever pays ONE corpus explosion, not one per leg. The
    * gram construction and ≥3-words doc filter are definitionally
    * identical to [[graft.ops.DedupOps.shingled]]'s, so [[overlapRank]]
    * over this frame is row-identical to [[lexicalTopK]]
    * (HybridRrf3Spec replays it; the oracle is unchanged).
    */
  private def queryGramFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    // r18: grams travel as 64-bit HASHES, never strings. The native
    // [[graft.functions.WordWindowHashes]] walk at W = 3 hashes each
    // positional word-3-gram over the original bytes in place — element
    // g IS xxhash64 of the string the old concat_ws transform built
    // (GraftProperties pins the window-hash identity), and
    // `size(hs) >= 1` ⟺ the ≥3-words filter. Every downstream key
    // (restrict join, tf group, df/idf, overlap count) was already
    // equality-only, so counts are unchanged short of an xxhash64
    // collision between two different grams — the same documented
    // contract as contamination_check / minhash_neardup, and none exists
    // at fixture SFs (the oracle, which replays literal strings, stays
    // hash-green). Measured (round-robin min-of-N, interleaved): the string
    // explosion + string-keyed tf shuffle was the retrieval family's
    // largest shared stage; see OPTIMIZATION_r18.md.
    val docs = Tables.balanced(Tables.documents(spark, dir))
      .select(col("doc_id"), expr("word_window_hashes(text, 3)").as("hs"))
      .filter(size(col("hs")) >= 1)
      .withColumn("dl", size(col("hs")).cast(LongType))
    // ckpt: stats is consumed through TWO broadcasts in bm25Rank (idf and
    // the score projection) — uncheckpointed, each broadcast build re-ran
    // the doc scan + agg (r17 profile)
    val stats = Tables.ckpt(docs.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("t_grams")))
    val exploded = docs.select(
      col("doc_id"), col("dl"), explode(col("hs")).as("g"))
    // query-gram universe (distinct grams of the 10 query docs) restricts
    // the corpus explosion map-side before the tf aggregation ever shuffles
    val qset = broadcast(
      exploded.filter(col("doc_id") < 10).select(col("g")).distinct())
    // ckpt: grams feeds up to FOUR consumers in the fused retrievers
    // (overlap leg, BM25 tf leg, BM25 df leg, and the qg broadcast) — each
    // re-ran the whole corpus explosion + restrict + tf agg when lazy: the
    // r17 profile showed the identical 0.7-1.4 s stage three times inside
    // hybrid_rrf3. One materialization, every leg reads the summary
    // (the r14 link_prediction adjb discipline; guide §2.4 "share one
    // exchange" taken to its checkpointed conclusion).
    val grams = Tables.ckpt(exploded.join(qset, "g")
      .groupBy(col("doc_id"), col("dl"), col("g"))
      .agg(count(lit(1)).as("tf")))
    val qg = grams.filter(col("doc_id") < 10)
      .select(col("doc_id").as("q_id"), col("g"))
    (grams, qg, stats)
  }

  /** The boolean distinct-overlap ranking over [[queryGramFrames]]'
    * frame — [[lexicalTopK]]'s exact semantics (each grams row IS one
    * distinct (doc, gram) pair, so the join count is the distinct shared
    * shingle count) without its separate corpus explosion.
    */
  private def overlapRank(grams: DataFrame, qg: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("overlap").desc, col("id"))
    grams.join(broadcast(qg), "g")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("q_id"), col("doc_id").as("id"), col("overlap"))
      .withColumn("rk_l", row_number().over(w))
      .filter(col("rk_l") <= k)
      .select(col("q_id"), col("id"), col("rk_l"))
  }

  private def bm25Rank(grams: DataFrame, qg: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    // corpus-wide document frequency of each query gram, then idf_q6 —
    // the one ln(), floor-quantized immediately (pmi_q9 discipline)
    val idf = grams.groupBy(col("g")).agg(count(lit(1)).as("df_g"))
      .crossJoin(broadcast(stats))
      .select(col("g"),
        floor(log(lit(1.0) +
          (d(col("n_docs")) - d(col("df_g")) + lit(0.5)) /
            (d(col("df_g")) + lit(0.5))) * lit(1e6))
          .cast(LongType).as("idf_q6"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_q6").desc, col("doc_id"))
    grams.join(broadcast(qg), "g")
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(idf), "g")
      .crossJoin(broadcast(stats))
      .withColumn("dln", col("dl") * col("n_docs"))
      .withColumn("tfn",
        (d(col("tf")) * lit(2.2)) /
          (d(col("tf")) + lit(Bm25K1) *
            (lit(0.25) + lit(Bm25B) * (d(col("dln")) / d(col("t_grams"))))))
      .withColumn("w_q6", floor(d(col("idf_q6")) * col("tfn")).cast(LongType))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("w_q6")).as("score_q6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("doc_id").as("id"), col("score_q6"),
        (d(col("score_q6")) / lit(1e6)).as("score"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** Integer-scaled nDCG@10 position discounts: `round(1e9 / log2(i+1))`
    * for ranks i = 1..10, precomputed so NO libm `log` ever executes in
    * hashed output and the DCG sum is pure BIGINT arithmetic — public so
    * the oracle SQL interpolates THESE literals (the MaxBucket
    * discipline).
    */
  val NdcgDiscounts: Seq[Long] = Seq(
    1000000000L, 630929754L, 500000000L, 430676558L, 386852807L,
    356207187L, 333333333L, 315464877L, 301029996L, 289064826L)

  /** The constant ideal DCG under [[NdcgDiscounts]]: every query's
    * relevant set is the exact-cosine top-10 with graded gains 10..1, so
    * the ideal ordering is the same for all queries and
    * IDCG = Σ_{i=1..10} (11−i)·disc_i.
    */
  val NdcgIdealScaled: Long = NdcgDiscounts.zipWithIndex
    .map { case (d, i) => (10L - i) * d }.sum

  /** Ranking-quality evaluation of the lexical retriever against
    * exact-vector relevance — the offline eval loop every retrieval
    * stack runs before shipping an index: relevance for query q is the
    * exact cosine top-10 ([[knnCosine]], itself oracle-pinned) with
    * graded gain 11−rank (10 for the nearest neighbor down to 1), the
    * system under test is [[lexicalTopK]]'s 3-gram ranking, and the
    * metric is nDCG@10 with the integer-scaled literal discount table
    * [[NdcgDiscounts]] — DCG accumulates as exact BIGINT products
    * (gain·disc), so cross-engine float-sum ordering can never diverge,
    * and the single boundary division by [[NdcgIdealScaled]] yields the
    * standard [0,1] score. Per query: hits (lexical∩relevant), the best
    * (smallest) lexical rank that is relevant (0 = none), the scaled
    * DCG, and nDCG. Queries whose lexical leg retrieved nothing still
    * report a zero row (a silent drop would overstate the retriever).
    *
    * Scale: both legs are the established bounded plans (broadcast
    * query side; per-group top-k under a 10-key window); the eval join
    * touches two ≤10·|Q|-row frames, so the whole metric costs two
    * already-proven retrieval passes plus O(|Q|) arithmetic.
    */
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    val vleg = knnCosine(spark, dir)
      .select(col("q_id"), col("vec_id").as("id"),
        (lit(11) - col("rk")).cast(LongType).as("gain"))
    val lleg = lexicalTopK(spark, dir)
    val discAt = element_at(array(NdcgDiscounts.map(lit): _*), col("rk_l"))
    val scored = lleg.join(vleg, Seq("q_id", "id"), "left")
      .select(col("q_id"), col("rk_l"),
        (coalesce(col("gain"), lit(0L)) * discAt).as("dg"),
        when(col("gain").isNotNull, 1L).otherwise(0L).as("hit"),
        when(col("gain").isNotNull, col("rk_l")).as("hit_rk"))
      .groupBy(col("q_id"))
      .agg(sum(col("hit")).as("n_hits"),
        min(col("hit_rk")).as("best_hit"),
        sum(col("dg")).as("dcg_scaled"))
    val qs = Tables.documents(spark, dir)
      .filter(col("doc_id") < 10).select(col("doc_id").as("q_id"))
    qs.join(scored, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("best_hit"), lit(0)).cast(IntegerType)
          .as("best_hit_rank"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        (coalesce(col("dcg_scaled"), lit(0L)).cast(DoubleType)
          / lit(NdcgIdealScaled.toDouble)).as("ndcg"))
  }

  /** RBO weight ladder at p = 1/2 over depths 1..10, cleared to exact
    * BIGINTs: the rank-biased-overlap term (1−p)·p^(d−1)·overlap_d/d =
    * 2^(−d)·overlap_d/d scales by [[RboDenom]] = 2520·2^10 (2520 =
    * lcm(1..10)·… divides every d), giving integer per-depth weights
    * w_d = (2520/d)·2^(10−d). Because each shared id contributes to
    * every depth d ≥ max(rank_a, rank_b), its TOTAL contribution is the
    * suffix sum [[RboTailWeights]](m) = Σ_{d≥m} w_d — a 10-entry literal
    * lookup, public so the oracle SQL interpolates THESE integers.
    */
  val RboWeights: Seq[Long] = (1 to 10).map(d => (2520L / d) << (10 - d))
  val RboTailWeights: Seq[Long] =
    (1 to 10).map(m => RboWeights.drop(m - 1).sum)
  val RboDenom: Long = 2520L * 1024L

  /** Rank-biased overlap (Webber 2010) between the VECTOR and BM25
    * retrievers — the ranking-similarity metric quoted when swapping one
    * retriever for another (ndcg_eval grades a ranking against
    * relevance; RBO compares two rankings to each other): per query,
    * rbo = Σ_d (1−p)·p^(d−1)·|top_a(d) ∩ top_b(d)|/d over depths 1..10
    * at p = 1/2 — TRUNCATED RBO, no extrapolation, so identical top-10
    * lists score 2577960/2580480 ≈ 0.9990 (the 2^(−10) tail past depth
    * 10 is genuinely unobserved; surfaced as exact integers so the
    * ceiling is explicit, the BLEU leave-the-scalar-honest discipline).
    * p = 1/2 is chosen PRECISELY because it makes every weight a dyadic
    * rational: a shared id seen at ranks (r_a, r_b) enters all depths
    * ≥ max(r_a, r_b), so its exact contribution is the literal
    * [[RboTailWeights]] suffix sum and the whole metric accumulates as
    * BIGINT with ONE boundary division — fully oracle-checkable where
    * the textbook p = 0.9 float geometric sum would hash-diverge.
    * Zero-overlap queries still report a row (rbo = 0, the ndcgEval
    * silent-drop discipline).
    *
    * Scale: both legs are the established bounded plans; the RBO itself
    * joins two ≤10·|Q|-row frames and folds a literal lookup — nothing
    * new shuffles, corpus cost is the legs' own.
    */
  def rboEval(spark: SparkSession, dir: String): DataFrame = {
    val a = knnCosine(spark, dir)
      .select(col("q_id"), col("vec_id").as("id"), col("rk").as("rk_v"))
    val b = bm25TopK(spark, dir)
      .select(col("q_id"), col("id"), col("rk").as("rk_b"))
    val tail = array(RboTailWeights.map(lit): _*)
    // both legs are ≤10·|Q| rows, but the rank windows hide size stats
    // from Catalyst — broadcast explicitly so the pair join never SMJs
    val shared = a.join(broadcast(b), Seq("q_id", "id"))
      .select(col("q_id"),
        element_at(tail, greatest(col("rk_v"), col("rk_b"))).as("w"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_shared"), sum(col("w")).as("rbo_scaled"))
    val qs = a.select(col("q_id")).union(b.select(col("q_id"))).distinct()
    qs.join(broadcast(shared), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("rbo_scaled"), lit(0L)).as("rbo_scaled"),
        (coalesce(col("rbo_scaled"), lit(0L)).cast(DoubleType)
          / lit(RboDenom.toDouble)).as("rbo"))
  }

  /** Hard-negative mining for contrastive embedding training (the DPR /
    * sentence-transformers data-prep step): for each anchor (vec_id <
    * 10), the top-5 OTHER-label vectors by cosine — the negatives that
    * sit closest to the anchor and therefore teach the most — plus the
    * anchor's positive ceiling (its best same-label cosine) and the
    * margin `pos_cos − cosine` each negative violates. Per-pair cosines
    * ride the codegen'd dot_product with the established index-order
    * parity; `max` over doubles is order-independent and the margin is
    * one subtraction of two engine-identical doubles, so the op is fully
    * oracle-checkable with no float-sum hazard.
    *
    * Scale: the 10 anchors BROADCAST against one corpus stream (the
    * knnCosine shape) — the stream is consumed twice (negative ranking;
    * positive max), both map-side against the same broadcast, with the
    * only shuffles the 10-key top-k window and a 10-row partial-agg max
    * that broadcasts back onto the ≤50-row negative frame.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.balanced(Tables.embeddings(spark, dir))
    def prep(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(v, a -> a * a), 0D, (acc, x) -> acc + x))"))
    val corpus = prep(base)
    val q = prep(base.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("q_nrm"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr(s"$dotVQ / (nrm * q_nrm)"))
    val pos = scored.filter(col("label") === col("q_label"))
      .groupBy(col("q_id")).agg(max(col("cosine")).as("pos_cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    // LEFT join onto the positive ceiling: an anchor with no same-label
    // peer still mines its 5 negatives, with null pos_cos/margin (the
    // ndcgEval 'a silent drop would overstate' discipline — an inner join
    // here silently lost such anchors; the oracle SQL mirrors the LEFT)
    scored.filter(col("label") =!= col("q_label"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .join(broadcast(pos), Seq("q_id"), "left")
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        col("cosine"), col("rk").cast(IntegerType).as("rk"),
        col("pos_cos"), (col("pos_cos") - col("cosine")).as("margin"))
  }

  /** Embedding-distribution drift monitor — the check an ML platform runs
    * when the encoder version changes or a new ingest source lands: split
    * the corpus into two deterministic cohorts (even/odd vec_id — stand-in
    * for before/after or source A/B), quantize each coordinate to
    * floor(1e3·x) (bounds every downstream product under 2^53, so no
    * inexact integer→double conversion ever happens), and report
    *  - the cosine between the two cohort MEAN vectors computed entirely
    *    from the integer per-dim sums (the 1/n factors cancel, so no
    *    mean is ever materialized as a float),
    *  - how many dims shifted by more than 0.01 in original units via the
    *    cross-multiplied integer test |sa·nb − sb·na| > 10·na·nb (no
    *    division — the decile_drift exact-rank discipline), and
    *  - the argmax-shift dim with a (−shift, dim) tiebreak.
    * Fully oracle-checkable: integer sums all the way, one guarded
    * division chain at the cosine boundary.
    *
    * Scale: one corpus pass exploding to (dim, cohort) partial sums —
    * the shuffle carries 64·2 summary rows; the final census reads a
    * 64-row frame.
    */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.balanced(Tables.embeddings(spark, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        (col("vec_id") % 2 === 0).as("is_a"),
        floor(col("x").cast(DoubleType) * lit(1e3)).as("q"))
    val byDim = e.groupBy(col("dim"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), col("q")).otherwise(0L)).as("sa"),
        sum(when(!col("is_a"), col("q")).otherwise(0L)).as("sb"))
      .withColumn("cross", abs(col("sa") * col("n_b") - col("sb") * col("n_a")))
    byDim.agg(
        min(col("n_a")).as("n_a"),
        min(col("n_b")).as("n_b"),
        sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("naa"),
        sum(col("sb") * col("sb")).as("nbb"),
        sum(when(col("cross") > col("n_a") * col("n_b") * 10L, 1L)
          .otherwise(0L)).as("n_drifted_dims"),
        max(col("cross")).as("max_shift_q"),
        min_by(col("dim"), struct((-col("cross")).as("nc"), col("dim")))
          .cast(IntegerType).as("max_shift_dim"))
      .select(col("n_a"), col("n_b"),
        when(col("naa") =!= 0 && col("nbb") =!= 0,
          col("dot").cast(DoubleType) /
            (sqrt(col("naa").cast(DoubleType)) * sqrt(col("nbb").cast(DoubleType))))
          .as("cos_means"),
        col("n_drifted_dims"), col("max_shift_dim"), col("max_shift_q"))
  }

  /** Hybrid (filtered) vector search: metadata predicate first, exact
    * cosine top-k over the SURVIVORS — the filter-then-rank shape every
    * production vector store exposes (pre-filtering, not post-filtering:
    * a post-filter of an unfiltered top-k under-fills k whenever the
    * predicate is selective). The label predicate pushes into the parquet
    * scan (PushedFilters), so at 100 TB the corpus read itself shrinks by
    * the filter's selectivity before any vector math runs; the query side
    * broadcasts exactly as in [[knnCosine]].
    */
  def filteredKnn(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    def prep(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(v, a -> a * a), 0D, (acc, x) -> acc + x))"))
    val corpus = prep(base.filter(col("label").isin(2, 5, 7)))
    val q = prep(base.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr(s"$dotVQ / (nrm * q_nrm)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), col("label"), col("cosine"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** Multi-table sign-LSH (L tables × k hyperplanes): plane components are
    * derived from xxhash64(plane, dim) — deterministic, no stored model.
    * Each vector lands in ONE bucket per table; a candidate pair meets if
    * it collides in ANY table (OR over tables lifts recall, AND over the k
    * planes inside a bucket keeps buckets selective). Tuning follows the
    * standard collision math: per-plane agreement is 1−θ/π, so recall at
    * similarity θ is 1−(1−(1−θ/π)^k)^L — k tracks corpus cardinality
    * (buckets = 2^k per table), L tracks the recall target. The explode is
    * L rows per vector BEFORE the shuffle; the join stays an equi-join on
    * (table, bucket) with uniform keys.
    */
  private val Tables_L = 8
  private val Planes_K = 4

  /** One (tbl, bucket) row per table per vector, via the native codegen'd
    * [[graft.functions.SignLshBuckets]] projection (bit-identical to the
    * interpreted triple-aggregate SQL form — pinned by spec). `posexplode`
    * position IS the table index, so nothing but the bucket array leaves
    * the expression.
    */
  private def withBuckets(df: DataFrame): DataFrame =
    df.select(col("*"),
      posexplode(expr("signlsh_buckets(v)")).as(Seq("tbl", "bucket")))

  /** ANN via multi-table sign-LSH: top-3 cosine neighbors searched only
    * among candidates that share a bucket with the query in at least one
    * table. The scale path: each query probes ~L/2^k of the corpus instead
    * of all of it, and the search is an equi-join on (table, bucket) +
    * candidate dedup instead of a cross join.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // Candidate generation carries ONLY ids + bucket keys — the dedup
    // shuffle moves 16-byte rows, never vectors. Vectors are re-joined for
    // the exact re-rank afterwards (the verification-join structure every
    // candidate-generation system uses at scale).
    val b = withBuckets(e).select(col("vec_id"), col("tbl"), col("bucket"))
    val qb = withBuckets(e.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("tbl").as("q_tbl"),
        col("bucket").as("q_bucket"))
    val cand = b.join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .dropDuplicates("q_id", "vec_id") // collisions in >1 table
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    exactRerank(cand, e, q)
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: candidate pairs
    * meet only inside a bucket (equi-join, no O(n²)), then exact cosine
    * filters. Threshold 0.35 suits this corpus (random vectors, top cosine
    * ≈ 0.48); a dedup deployment would use ~0.95 on real embeddings.
    */
  /** ANN via IVF (inverted-file index): a KMeans coarse quantizer
    * partitions the corpus into nlist cells; each query probes the nProbe
    * nearest cells and re-ranks exactly. The alternative scale path to
    * sign-LSH: data-adaptive cells give better recall on clustered real
    * embeddings, at the cost of a training pass (deterministic seed).
    * Probing is centroid-distance ranking over a broadcast 16-row centroid
    * table; the candidate search is an equi-join on the cell id — the
    * corpus is hash-partitioned by cell exactly like an IVF index shard.
    */
  private val nList = 16

  /** IVF coarse-quantizer centroids for `dir`, trained once per corpus
    * through [[Tables.memo]] and retrained when `embeddings` is rewritten —
    * the index-build/query-time split every IVF deployment has.
    * Training runs on a bounded sample, not the corpus: an iterative KMeans
    * over the full 100 TB would be a multi-pass ML job in the middle of a
    * query, and centroid quality is insensitive to sampling (IVF practice
    * is ~256 training points per centroid).
    */
  private def ivfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    Tables.memo(spark, "ivf", Tables.path(dir, "embeddings")) { _ =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val train = vecs(spark, dir)
        .select(array_to_vector(col("v")).as("features"))
        .sample(withReplacement = false, 0.1, seed = 42L)
        .limit(nList * 256)
        .cache()
      val model = new KMeans().setK(nList).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("features").fit(train)
      train.unpersist()
      model.clusterCenters.map(_.toArray)
    }

  /** Input + `cell` column: per-row argmin over the centroid literals — a
    * pure map (no shuffle, no MLlib transform in the query path), using
    * ‖v−c‖² = ‖v‖² − 2·dot(v,c) + ‖c‖² with the native dot_product so the
    * ‖v‖² term (constant across c) drops out of the argmin. Shared by
    * [[annIvf]] and [[annIvfPq]].
    */
  private def withCell(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    val cn2Lit = typedLit(cents.map(c => c.map(x => x * x).sum).toSeq)
    e.withColumn("cents", centLit).withColumn("cn2", cn2Lit)
      .withColumn("dists", expr(
        s"transform(sequence(0, ${nList - 1}), j -> cn2[j] - 2D * dot_product(v, cents[j]))"))
      .withColumn("cell", (array_position(col("dists"), array_min(col("dists"))) - 1)
        .cast(IntegerType))
      .drop("cents", "cn2", "dists")
  }

  /** Per-query nProbe nearest cells: q's columns + `c_id`, via a broadcast
    * nList-row centroid table. Shared by [[annIvf]], [[annIvfPq]], and
    * [[annIvfFlat]] (the id-carrying overload) so the probe arithmetic
    * can never drift between the ANN paths.
    */
  private def cellProbes(spark: SparkSession, q: DataFrame,
                         cents: Array[Array[Double]], nProbe: Int): DataFrame =
    cellProbesIds(spark, q,
      cents.zipWithIndex.map { case (c, i) => i -> c.toSeq }.toSeq, nProbe)

  private def cellProbesIds(spark: SparkSession, q: DataFrame,
                            cents: Seq[(Int, Seq[Double])], nProbe: Int): DataFrame = {
    val centroids = spark.createDataFrame(cents).toDF("c_id", "c_vec")
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_dist"), col("c_id"))
    q.crossJoin(broadcast(centroids))
      .withColumn("c_dist", expr(
        "aggregate(zip_with(qv, c_vec, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .drop("c_vec", "c_dist", "pr")
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = 4
    val cents = ivfCentroids(spark, dir)
    val corpus = withCell(vecs(spark, dir), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val q = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    val probes = cellProbes(spark, q, cents, nProbe)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(probes),
        col("cell") === col("c_id") && col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr(s"$dotVQ / (nrm * q_nrm)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("vec_id"), col("cosine"),
        col("rk").cast(IntegerType).as("rk"))
  }

  /** ANN via product quantization (PQ with asymmetric distance + exact
    * re-rank) — the memory-bound scale path: each dim-64 vector is encoded
    * as M=8 4-bit-ish codes (one byte-sized int per 8-dim subspace), so a
    * 100 TB float corpus compresses ~32× and the candidate scan reads
    * CODES, never vectors. Query time: build the query's M×K distance
    * table once (‖q_sub − c‖² per subspace centroid), then every corpus
    * vector's approximate distance is M table lookups + adds — no
    * per-pair vector math. Top-C ADC candidates are re-ranked exactly
    * (the verification-join structure shared with [[annLsh]]).
    *
    * Codebooks are trained per-subspace on a bounded deterministic sample
    * with driver-local Lloyd iterations (an index-BUILD step, built once
    * per corpus through [[Tables.memo]] like [[ivfCentroids]]; ≤ PqK·256 =
    * 8192 vectors × 64 doubles ≈ 4 MB on the driver — the standard PQ
    * training budget of ~256 points per centroid). A deployment would also encode ONCE at ingest and store the codes
    * column; here encoding runs inline so the op stays a pure function of
    * the source table.
    */
  private val PqM = 8       // subspaces
  private val PqSubDim = 8  // dims per subspace (64 / M)
  private val PqK = 32      // centroids per subspace
  private val PqCand = 64   // ADC candidates re-ranked exactly per query
  /** IVFPQ probe width. The IVFPQ recall ceiling here is the IVF probe
    * fraction, not PQ error (full-scan ann_pq measures 0.93): the spec
    * corpus is near-isotropic random vectors, so true neighbors spread
    * almost uniformly across cells and recall ~ tracks nProbe/nList.
    * Measured recall@3 at sf0.001: 4/16 -> 0.77, 6/16 -> 0.80,
    * 8/16 -> 0.87 (spec floor 0.85). At real corpus scale nList grows
    * ~sqrt(N) and clustered embeddings concentrate neighbors, so the
    * probed FRACTION shrinks as N grows — 8/16 is a fixture-scale
    * setting, not a deployment constant. Residual encoding (FAISS's
    * u − centroid form) was MEASURED and rejected (ResidualPqExperiment):
    * recall@3 0.733 vs plain 0.800 at probe 8, 0.833 vs 0.933 at full
    * probe — on near-isotropic fixture vectors the coarse cells explain
    * ~no variance, so a shared residual codebook quantizes strictly worse
    * than plain u; it pays off only on clustered real-world embeddings.
    */
  private val IvfPqProbe = 8

  /** Deterministic Lloyd's k-means (fixed start: the k points at evenly
    * spaced sample indices; fixed iteration count; empty clusters keep
    * their center). Runs on the driver over the bounded training sample —
    * index build, never per-row query work.
    */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    var centers = Array.tabulate(k)(c => points((c.toLong * n / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var j = 0
          val ctr = centers(c)
          while (j < d) { val t = p(j) - ctr(j); s += t * t; j += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centers = Array.tabulate(k)(c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c)))
      it += 1
    }
    centers
  }

  /** PQ codebooks for `dir`: cb(j)(c) is centroid c of subspace j, trained
    * on NORMALIZED vectors (the representation [[annPq]] encodes).
    */
  private def pqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    Tables.memo(spark, "pq", Tables.path(dir, "embeddings")) { _ =>
      val sample = vecs(spark, dir)
        .select(expr("transform(v, x -> x / nrm)").as("u"))
        .sample(withReplacement = false, 0.9, seed = 42L)
        .limit(PqK * 256)
        .collect()
        .map(_.getSeq[Double](0).toArray)
      Array.tabulate(PqM) { j =>
        lloyd(sample.map(_.slice(j * PqSubDim, (j + 1) * PqSubDim)), PqK, iters = 10)
      }
    }

  /** [[vecs]] + `u`, the NORMALIZED vector PQ operates on: for unit
    * vectors ‖a−b‖² = 2−2·cos, so the ADC L2 ranking IS the cosine
    * ranking — without this, L2 quantization error on unnormalized
    * magnitudes scrambles the cosine order (measured recall@3 0.57 → 0.83
    * on the spec corpus).
    */
  private def unitVecs(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).withColumn("u", expr("transform(v, x -> x / nrm)"))

  /** Query rows (q_id, qv, q_nrm, dtab): dtab is the per-query M×K
    * asymmetric-distance table ‖u_sub − c‖² (tiny: queries × M·K doubles).
    * Shared by [[annPq]] and [[annIvfPq]].
    */
  private def pqQueries(e: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    e.filter(col("vec_id") < 10)
      .withColumn("cb", cbLit)
      .select(
        col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"),
        expr(
          s"""transform(sequence(0, ${PqM - 1}), j ->
             |  transform(sequence(0, ${PqK - 1}), c ->
             |    aggregate(zip_with(slice(u, j * $PqSubDim + 1, $PqSubDim), cb[j][c],
             |      (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)))""".stripMargin
        ).as("dtab"))
  }

  /** Top-[[PqCand]] candidates per query by ADC distance over (codes,
    * dtab) rows — the native [[graft.functions.PqAdc]] M-lookup kernel.
    * Shared by [[annPq]] (full scan) and [[annIvfPq]] (cell-pruned scan).
    */
  private def adcTopC(scored: DataFrame): DataFrame = {
    val candW = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    scored
      .withColumn("adc", expr("pq_adc(codes, dtab)"))
      .withColumn("cr", row_number().over(candW))
      .filter(col("cr") <= PqCand)
      .select(col("q_id"), col("vec_id"))
  }

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = unitVecs(spark, dir)
    val cb = pqCodebooks(spark, dir)
    // Encode: per subspace, argmin_c ‖u_sub − c‖², in the native codegen'd
    // [[graft.functions.PqEncode]] kernel (bit-identical to the interpreted
    // struct-argmin HOF form — pinned by PqExpressionsSpec; the HOF twin
    // cost ~8 s of a 9 s ann_pq run at sf0.1).
    val codes = e
      .withColumn("codes", graft.functions.GraftFunctions.pqEncode(col("u"), cb))
      .select(col("vec_id"), col("codes"))
    val q = pqQueries(e, cb)
    // ADC scan: M lookups + adds per (corpus row, query) — codes-only scan
    val cand = adcTopC(
      codes.crossJoin(broadcast(q.select(col("q_id"), col("dtab"))))
        .filter(col("vec_id") =!= col("q_id")))
    exactRerank(cand, e, q)
  }

  /** IVF-PQ composition — the standard large-scale ANN index (coarse
    * quantizer + product codes, FAISS-style): the IVF cell probe bounds
    * WHICH rows are scanned (nProbe/nList of the corpus) and PQ bounds
    * WHAT the scan reads (M byte-codes per row, ADC lookups instead of
    * vector math); the top-C ADC candidates re-rank exactly. Both trained
    * components are reused as-is ([[ivfCentroids]], [[pqCodebooks]] —
    * build-once index builds in [[Tables.memo]]), demonstrating that the engine's
    * index pieces compose. At 100 TB: corpus hash-partitioned by cell,
    * scan touches nProbe cells × 8 bytes/row, shuffle carries ids only.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopK(spark, dir, k = 3)

  /** The ONE IVF-PQ pipeline behind [[annIvfPq]] (k = 3, the lane's
    * published shape) and [[annRecallCurve]]'s depth-10 ann leg — a
    * single definition so the recall curve always measures exactly the
    * index that ships.
    */
  private def ivfPqTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val nProbe = IvfPqProbe
    val e = unitVecs(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val cb = pqCodebooks(spark, dir)
    // corpus index rows: (vec_id, cell, codes) — cell from the RAW-vector
    // coarse quantizer (same argmin as annIvf), codes over the normalized
    // vector (same representation as annPq)
    val corpus = withCell(e, cents)
      .withColumn("codes", graft.functions.GraftFunctions.pqEncode(col("u"), cb))
      .select(col("vec_id"), col("cell"), col("codes"))
    val probes = cellProbes(spark, pqQueries(e, cb), cents, nProbe)
      .select(col("q_id"), col("dtab"), col("c_id"))
    val cand = adcTopC(
      corpus.join(broadcast(probes),
        col("cell") === col("c_id") && col("vec_id") =!= col("q_id")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    exactRerank(cand, e, q, k)
  }

  /** Recall@k depths reported by [[annRecallCurve]], public for the spec. */
  val RecallDepths: Seq[Int] = Seq(1, 3, 5, 10)

  /** The recall curve of the IVF-PQ index against exact search — THE
    * acceptance measurement run before an ANN index ships (FAISS's own
    * eval loop): for k in [[RecallDepths]], recall@k = |ann top-k ∩
    * exact top-k| / (k·|Q|) summed over queries. An (id, rank_ann,
    * rank_exact) pair is a hit at every depth k ≥ max(rank_ann,
    * rank_exact) — the rbo_eval observation — so ONE join of the two
    * ≤10·|Q| leg frames and one conditional aggregate produce the whole
    * curve; hits are exact integers, each recall ONE boundary division.
    * Rows-only (the ANN leg's Lloyd-trained codebooks are
    * data-dependent floats); ApproxOpsSpec replays the curve from the
    * collected legs and pins the known fixture recall band.
    *
    * Scale: the ann leg is [[annIvfPq]]'s candidate pipeline re-ranked
    * to depth 10 (same bounded plan), the exact leg is [[knnCosine]];
    * the curve itself touches only the two leg frames.
    */
  /** [[annIvfPq]]'s pipeline re-ranked to depth 10 — the ann leg of
    * [[annRecallCurve]], package-visible so the spec can replay the
    * curve arithmetic from the leg rows.
    */
  private[graft] def ivfPqTop10(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopK(spark, dir, k = 10)

  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val ann = ivfPqTop10(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rk").as("rk_ann"))
    val exact = knnCosine(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rk").as("rk_ex"))
    val hitAggs = RecallDepths.map(k =>
      sum(when(col("m") <= k, 1L).otherwise(0L)).as(s"h$k"))
    val depths = exact.agg(
      countDistinct(col("q_id")).as("n_queries")).crossJoin(
      ann.join(broadcast(exact), Seq("q_id", "vec_id"))
        .select(greatest(col("rk_ann"), col("rk_ex")).as("m"))
        .agg(hitAggs.head, hitAggs.tail: _*))
    depths
      .select(col("n_queries"), explode(array(RecallDepths.map(k =>
        struct(lit(k).as("k"), coalesce(col(s"h$k"), lit(0L)).as("hits"))): _*))
        .as("x"))
      .select(
        col("x.k").as("k"), col("n_queries"), col("x.hits").as("hits"),
        (col("x.hits").cast(DoubleType)
          / (col("x.k").cast(LongType) * col("n_queries")).cast(DoubleType))
          .as("recall"))
  }

  /** IVF-PQ with the index MATERIALIZED as a cell-partitioned codes table
    * — the deployment shape of [[annIvfPq]], which encodes inline per
    * query. Build once per corpus fingerprint ([[StorageOps.ensure]]):
    * (vec_id, codes) written `partitionBy(cell)`, i.e. one directory per
    * inverted-file cell holding 8 byte-codes per vector, never vectors.
    * Query time: the probe set (queries × nProbe cell ids, ≤ nList values
    * — an index LOOKUP, bounded regardless of corpus size) becomes a
    * literal `cell IN (...)` predicate, so the scan prunes non-probed
    * cell directories at PLANNING time (PlanSpec pins PartitionFilters)
    * — the 100 TB story: an ANN query opens nProbe/nList of the index
    * files and reads codes only, vectors join back just for the top-C
    * exact re-rank. Result is pinned spec-identical to [[annIvfPq]]:
    * storing the index must not change answers.
    */
  def annIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = IvfPqProbe
    val e = unitVecs(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val cb = pqCodebooks(spark, dir)
    val idx = StorageOps.ensure(spark, dir, "embeddings", "graft_ivfpq_idx") { tbl =>
      withCell(e, cents)
        .withColumn("codes", graft.functions.GraftFunctions.pqEncode(col("u"), cb))
        .select(col("vec_id"), col("codes"), col("cell"))
        .write.format("parquet").partitionBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    val probes = cellProbes(spark, pqQueries(e, cb), cents, nProbe)
      .select(col("q_id"), col("dtab"), col("c_id"))
    val probedCells = probes.select(col("c_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val cand = adcTopC(
      spark.table(idx)
        .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
        .join(broadcast(probes),
          col("cell") === col("c_id") && col("vec_id") =!= col("q_id")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    exactRerank(cand, e, q)
  }

  /** Incremental index maintenance — the ingest path of a deployed ANN
    * index: a NEW batch of vectors (the ≥90 hash buckets, the same
    * batch-split discipline as [[graft.ops.DedupOps.incrementalDedup]])
    * arrives AFTER the index was built, is encoded with the FROZEN
    * quantizers (coarse centroids + PQ codebooks trained at build time —
    * retraining per batch would invalidate every stored code), and lands
    * as a DELTA segment beside the immutable base: the exact main+delta
    * shape production vector stores run (FAISS IndexShards / Lucene HNSW
    * segments), compacted offline, never rewritten per batch. Queries
    * read base ∪ delta under the SAME planning-time cell pruning — both
    * segments are cell-partitioned, so the probe set prunes directories
    * in each. ApproxOpsSpec pins the upsert path ROW-IDENTICAL to the
    * inline full-corpus [[annIvfPq]]: since base ∪ delta = corpus and
    * the quantizers are shared, incremental ingest must not change a
    * single answer.
    */
  def annIndexUpsert(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = IvfPqProbe
    val e = unitVecs(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val cb = pqCodebooks(spark, dir)
    def segment(rows: DataFrame): DataFrame =
      withCell(rows, cents)
        .withColumn("codes", graft.functions.GraftFunctions.pqEncode(col("u"), cb))
        .select(col("vec_id"), col("codes"), col("cell"))
    val standing = PipelineOps.hashBucket(col("vec_id")) < 90
    val base = StorageOps.ensure(spark, dir, "embeddings", "graft_ivfpq_base") { tbl =>
      segment(e.filter(standing))
        .write.format("parquet").partitionBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    val delta = StorageOps.ensure(spark, dir, "embeddings", "graft_ivfpq_delta") { tbl =>
      segment(e.filter(!standing))
        .write.format("parquet").partitionBy("cell")
        .mode("overwrite").saveAsTable(tbl)
    }
    val probes = cellProbes(spark, pqQueries(e, cb), cents, nProbe)
      .select(col("q_id"), col("dtab"), col("c_id"))
    val probedCells = probes.select(col("c_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val idx = spark.table(base).unionByName(spark.table(delta))
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
    val cand = adcTopC(
      idx.join(broadcast(probes),
        col("cell") === col("c_id") && col("vec_id") =!= col("q_id")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    exactRerank(cand, e, q)
  }

  /** Per-label centroid of the first 8 embedding dimensions — the
    * class-prototype computation (label → mean vector) behind centroid
    * classifiers and cluster audits. Distributed float summation is
    * order-dependent in the last ulp, so values are first QUANTIZED
    * deterministically (floor(x·10⁶) — float→double promotion is exact
    * and the product/floor round identically on any IEEE engine) and the
    * centroid is an exact BIGINT sum divided once at the boundary. One
    * posexplode + one partial-aggregated groupBy on (label, dim): the
    * shuffle carries 8·|labels| partial rows, not vectors.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .filter(col("dim") < 8)
      .withColumn("xq", floor(col("x") * lit(1000000.0)).cast(LongType))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xq")).as("sum_q"),
        (sum(col("xq")).cast(DoubleType) / count(lit(1)) / 1000000.0)
          .as("centroid"))

  def embedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // id-only candidate generation (see annLsh): the bucket self-join and
    // pair dedup shuffle never carry vectors; exact cosine verification
    // joins the vectors back per side.
    val b = withBuckets(e).select(col("vec_id"), col("tbl"), col("bucket"))
    val x = b.select(col("vec_id").as("id_a"), col("tbl"), col("bucket")).alias("x")
    val y = b.select(col("vec_id").as("id_b"), col("tbl").as("tbl_b"),
      col("bucket").as("bucket_b")).alias("y")
    val cand = x.join(y,
        col("tbl") === col("tbl_b") && col("bucket") === col("bucket_b")
          && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // collisions in >1 table
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v"), col("nrm")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("qv"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cosine", expr(s"$dotVQ / (nrm * nrm_b)"))
      .filter(col("cosine") > 0.35)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cosine threshold for [[semDedup]] group membership: above the ~0.35
    * background cosine of the fixture's near-isotropic vectors while still
    * admitting the corpus's closest pairs (max pairwise cosine ≈ 0.48-0.51
    * at fixture SFs — there are no planted high-cosine twins here, so the
    * fixture exercises the PLUMBING; a production corpus sets τ ≈ 0.9+).
    */
  private val SemDedupTau = 0.45

  /** SemDedup (Abbas et al. 2023): semantic deduplication by clustering —
    * embeddings are k-means-bucketed (the SAME trained coarse quantizer
    * the IVF index uses, fingerprint-memoized), near-duplicate pairs are
    * found ONLY within a cell, and each within-cell duplicate group keeps
    * its min-id representative. This is the dedup that catches what
    * MinHash cannot: paraphrases and re-encodings whose token overlap is
    * low but whose embeddings nearly coincide.
    *
    * Scale shape: the pair search is an equi-join on the cell id — the
    * same ids+cell-only shuffle as [[annIvf]]'s probe — and the per-cell
    * pair fan-out is the SemDedup design point (cells ~ √N keeps cell
    * populations bounded; cross-cell duplicates are out of scope by
    * construction, exactly as in the paper). Grouping is the
    * [[graft.ops.DedupOps.starComponents]] O(log d) labeler over the
    * within-cell pair graph; duplicate groups rarely exceed a handful of
    * members, so the label frame converges in 1-2 rounds. Float cosine ⇒
    * rows-only gate; SemDedupSpec pins the output against brute-force
    * within-cell components from the op's own cell assignment.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = unitVecs(spark, dir)
    val cells = Tables.ckpt(
      withCell(e, ivfCentroids(spark, dir))
        .select(col("vec_id"), col("cell"), col("u")))
    val a = cells.select(col("cell"), col("vec_id").as("doc_a"), col("u").as("ua"))
    val b = cells.select(col("cell").as("cell_b"), col("vec_id").as("doc_b"),
      col("u").as("ub"))
    val pairs = a.join(b,
        col("cell") === col("cell_b") && col("doc_a") < col("doc_b"))
      .withColumn("cosine", expr("dot_product(ua, ub)"))
      .filter(col("cosine") >= SemDedupTau)
      .select(col("doc_a"), col("doc_b"))
    val (labels, _) = DedupOps.starComponents(
      spark, cells.select(col("vec_id").as("doc_id")), pairs)
    val w = Window.partitionBy(col("keep_id"))
    cells.select(col("vec_id").as("doc_id"), col("cell"))
      .join(labels, "doc_id")
      .select(col("doc_id"), col("cell"), col("label").as("keep_id"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_kept", col("doc_id") === col("keep_id"))
  }

  /** Label-noise audit (Cleanlab-style curation): each labeled vector's
    * cosine to its OWN class centroid, bottom-3 per label — the vectors
    * least like their class are the mislabeling/outlier candidates a
    * curation pass reviews before training a classifier on the labels.
    *
    * Centroids follow [[labelCentroids]]' exactness discipline — per-dim
    * `floor(x·10⁶)` integer sums (order-independent) divided once — then
    * assemble into an ordered array (sort by dim inside the row) that
    * BROADCASTS back onto the data: centroids are summary-cardinality
    * (labels × 64 dims), vectors never re-shuffle, and the only exchange
    * is the per-label bottom-k window (WindowGroupLimit prunes it
    * map-side). Cosine runs through the native codegen'd `dot_product`
    * fold, bit-equal to the oracle's list fold (knn_cosine precedent), so
    * the op is fully oracle-checked despite float output.
    */
  def semanticOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(v, a -> a * a), 0D, (acc, x) -> acc + x))"))
    val cent = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xq", floor(col("x") * lit(1000000.0)).cast(LongType))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("xq")).cast(DoubleType) / count(lit(1)) / lit(1000000.0)).as("cd"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, cd))), s -> s.cd)").as("cv"))
      .withColumn("cnrm", expr(
        "sqrt(aggregate(transform(cv, a -> a * a), 0D, (acc, x) -> acc + x))"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cosine"), col("vec_id"))
    e.join(broadcast(cent), Seq("label"))
      .withColumn("cosine", expr("dot_product(v, cv)") / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("label"), col("vec_id"), col("cosine"), col("rk"))
  }

  /** Per-class evaluation of the nearest-centroid classifier — the
    * confusion census run after [[labelCentroids]] builds prototypes and
    * before [[semanticOutliers]] hunts label noise: every vector is
    * assigned argmax-cosine over ALL class centroids (exact
    * floor(x·10⁶)-quantized means, the [[semanticOutliers]] discipline,
    * so the cosine doubles are bit-identical cross-engine), and the op
    * reports per class n_true, n_pred, tp, precision, recall and F1.
    * F1 is computed as 2·tp/(n_true + n_pred) — ALGEBRAICALLY the
    * harmonic mean 2PR/(P+R), but a single correctly-rounded division
    * over exact integers instead of a float chain. Argmax ties break
    * (cosine desc, label asc) via min_by on a (−cosine, label) struct —
    * the oracle's row_number twin orders identically because negation
    * is IEEE-exact.
    *
    * Scale: centroids are an L·d summary BROADCAST onto the corpus; the
    * L-way fan-out carries (vec_id, label, cosine) rows only (vectors
    * never leave their partition), one vec_id-keyed argmax exchange, and
    * the metrics combine three label-cardinality frames. The assignment
    * frame is checkpoint-truncated so the three censuses read it
    * materialized instead of re-running the fan-out (the mutual_info
    * discipline).
    */
  def centroidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(v, a -> a * a), 0D, (acc, x) -> acc + x))"))
    val cent = Tables.embeddings(spark, dir)
      .select(col("label").as("pred"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xq", floor(col("x") * lit(1000000.0)).cast(LongType))
      .groupBy(col("pred"), col("dim"))
      .agg((sum(col("xq")).cast(DoubleType) / count(lit(1)) / lit(1000000.0)).as("cd"))
      .groupBy(col("pred"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, cd))), s -> s.cd)").as("cv"))
      .withColumn("cnrm", expr(
        "sqrt(aggregate(transform(cv, a -> a * a), 0D, (acc, x) -> acc + x))"))
    val assigned = Tables.ckpt(e.crossJoin(broadcast(cent))
      .withColumn("cosine", expr("dot_product(v, cv)") / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("pred"),
        struct((lit(0.0) - col("cosine")).as("nc"), col("pred").as("p"))).as("pred")))
    val nTrue = assigned.groupBy(col("label")).agg(count(lit(1)).as("n_true"))
    val nPred = assigned.groupBy(col("pred").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = assigned.filter(col("label") === col("pred"))
      .groupBy(col("label")).agg(count(lit(1)).as("tp"))
    nTrue
      .join(broadcast(nPred), Seq("label"), "left")
      .join(broadcast(tp), Seq("label"), "left")
      .na.fill(0L, Seq("n_pred", "tp"))
      .select(
        col("label"), col("n_true"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0,
          col("tp").cast(DoubleType) / col("n_pred").cast(DoubleType))
          .as("prec"),
        (col("tp").cast(DoubleType) / col("n_true").cast(DoubleType))
          .as("recall"),
        (lit(2.0) * col("tp").cast(DoubleType)
          / (col("n_true") + col("n_pred")).cast(DoubleType)).as("f1"))
  }

  /** Distributed k-means over the embedding column (Lloyd's algorithm,
    * k = 8, 3 fixed iterations) — the embedding-space clustering primitive
    * a curation pipeline runs before SemDeDup-style within-cluster dedup
    * or topic-balanced sampling. Deterministic BY CONSTRUCTION and fully
    * oracle-checked despite the float math:
    *
    *  - seeds are the k smallest vec_ids' vectors (no RNG);
    *  - assignment is a per-row argmin FOLD over the centroid matrix
    *    traveling as a broadcast LITERAL (the [[ClassifierOps]] weights
    *    discipline: centroids are O(model) = k·d doubles, so the model
    *    moves to the data and assignment is SHUFFLE-FREE — the classic
    *    per-iteration vec_id exchange never happens); squared-L2 folds
    *    run in element order, the same IEEE sequence the oracle's
    *    list_sum∘list_zip computes, so distances are bit-identical and
    *    ties (impossible short of duplicate centroids) break toward the
    *    smaller cid in both engines;
    *  - the centroid update is the [[semanticOutliers]] exactness
    *    discipline: per-(cluster, dim) `floor(x·10⁶)` BIGINT sums —
    *    order-independent — divided once; ONE (cid, dim)-keyed exchange
    *    and one O(k·d)-row collect per iteration;
    *  - a cluster that loses all members drops out (its centroid row
    *    vanishes in both engines alike — documented contract);
    *  - inertia is exact: per-row `floor(d2·10⁶)` quantization before the
    *    integer sum, one division at the boundary.
    *
    * The DuckDB oracle replays seeds + 3 update rounds as chained CTEs
    * (assignment via cross join + row_number) and hash-matches. Output:
    * one row per surviving cluster — members, exact quantized inertia,
    * mean distance.
    */
  /** The converged per-vector assignment frame (vec_id, cid, squared
    * distance) after [[kmeansEmbed]]'s training loop — the frame both the
    * cluster summary and [[clusterBalancedSample]] consume.
    */
  private def kmeansFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.ckpt(Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v")))

  /** Per-row argmin over the literal centroid matrix: the distance
    * vector is computed ONCE (HOFs run interpreted — the k·d fold is
    * the per-row cost, so never evaluate it twice), then a (bd, bi)
    * fold where strict < keeps the earlier (smaller-cid) centroid on a
    * tie.
    */
  private def kmeansBest(df: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val m = cents.length
    df
      .withColumn("cmat", typedLit(cents.map(_._2)))
      .withColumn("cids", typedLit(cents.map(_._1)))
      .withColumn("d2s", expr(
        s"""transform(sequence(0, ${m - 1}), i ->
           |  aggregate(zip_with(v, element_at(cmat, i + 1),
           |    (a, b) -> (a - b) * (a - b)), 0D, (s, x) -> s + x))""".stripMargin))
      .withColumn("best", expr(
        s"""aggregate(sequence(0, ${m - 1}),
           |  named_struct('bd', cast('Infinity' as double), 'bi', -1),
           |  (acc, i) -> if(element_at(d2s, i + 1) < acc.bd,
           |    named_struct('bd', element_at(d2s, i + 1), 'bi', i),
           |    acc))""".stripMargin))
      .withColumn("cid", expr("element_at(cids, best.bi + 1)"))
  }

  /** The deterministic integer-quantized Lloyd loop over a prepared
    * (vec_id, v) frame — seeds are the k smallest vec_ids, means are
    * exact floor(x·1e6) integer sums divided once. Returns the converged
    * (cid, centroid) pairs; shared by [[kmeansAssign]] and
    * [[annIvfFlat]] so the quantizer the IVF search probes is the SAME
    * oracle-replayable one `kmeans_embed` hash-proves.
    */
  private[ops] def kmeansTrainOn(e: DataFrame, k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    // seeds: k smallest vec_ids, cid 0..k-1 in id order — an O(k) collect
    var cents: Seq[(Int, Seq[Double])] = e.orderBy(col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) =>
        i -> r.getAs[scala.collection.Seq[Double]]("v").toSeq
      }.toSeq
    for (_ <- 1 to iters) {
      // ONE job: shuffle-free assignment, explode to (cid, dim, xq),
      // one (cid, dim) exchange with map-side combine, O(k·d) collect
      val rows = kmeansBest(e, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .withColumn("xq", floor(col("x") * lit(1000000.0)).cast(LongType))
        .groupBy(col("cid"), col("dim"))
        .agg((sum(col("xq")).cast(DoubleType) / count(lit(1)) / lit(1000000.0))
          .as("cd"))
        .collect()
      cents = rows.groupBy(_.getAs[Int]("cid")).toSeq
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("cd")).toSeq
        }
        .sortBy(_._1)
    }
    cents
  }

  private[ops] def kmeansAssign(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val e = kmeansFrame(spark, dir)
    // final assignment under the converged centroids
    kmeansBest(e, kmeansTrainOn(e, k, iters))
      .select(col("vec_id"), col("cid"), col("best.bd").as("d2"))
  }

  /** IVF probe width for [[annIvfFlat]] — public: the oracle SQL
    * interpolates it. 2 of 8 cells = the same 25% probe fraction the
    * float-quantizer `ann_ivf` runs (4 of 16).
    */
  val AnnIvfFlatProbe = 2

  /** IVF-Flat ANN over the DETERMINISTIC quantizer — the first
    * fully ORACLE-CHECKED member of the ANN family: where `ann_ivf`'s
    * MLlib-trained float centroids are assignment-order defined (hence
    * rows-only forever), this op probes the integer-quantized Lloyd
    * quantizer that `kmeans_embed` already hash-proves, so the ENTIRE
    * search — training, cell assignment, probe selection, candidate
    * cosines, final ranks — replays in DuckDB as chained CTEs and the
    * driver hash-verifies it end to end. Same search shape as ann_ivf:
    * per-row shuffle-free cell assignment over the centroid literal,
    * nProbe nearest cells per query via a broadcast k-row centroid
    * table, candidates equi-joined on cell (never all pairs), exact
    * cosine re-rank through the codegen'd dot_product. At deployment
    * scale nList grows ~√N and the probed fraction shrinks; the exact
    * cosine tail touches only probed-cell candidates.
    */
  def annIvfFlat(spark: SparkSession, dir: String): DataFrame = {
    val e = kmeansFrame(spark, dir)
    val cents = kmeansTrainOn(e, 8, 3)
    val corpus = kmeansBest(e, cents)
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(v, a -> a * a), 0D, (acc, x) -> acc + x))"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cid").as("cell"))
    val q = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm"))
    val probes = cellProbesIds(spark, q, cents, AnnIvfFlatProbe)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(probes),
        col("cell") === col("c_id") && col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr(s"$dotVQ / (nrm * q_nrm)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("vec_id"), col("cosine"),
        col("rk").cast(IntegerType).as("rk"))
  }

  def kmeansEmbed(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame =
    kmeansAssign(spark, dir, k, iters)
      .withColumn("d2q", floor(col("d2") * lit(1000000.0)).cast(LongType))
      .groupBy(col("cid").as("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(col("d2q")).as("inertia_q6"))
      .select(col("cluster"), col("n_members"), col("inertia_q6"),
        (col("inertia_q6").cast(DoubleType) / col("n_members") / lit(1000000.0))
          .as("mean_d2"))

  /** Topic-balanced sampling over the [[kmeansEmbed]] clusters: an equal
    * quota of vectors per cluster — the curation move that keeps a
    * dominant embedding-space topic from swamping a training mix (the
    * cluster-level complement of [[PipelineOps.mixRebalance]]'s
    * source-level rebalance). Within each cluster, members rank by the
    * deterministic multiplicative-hash permutation of vec_id (no RNG —
    * rerun/partitioning-stable, oracle-replayable) and the first
    * `quota` survive. ONE cid-keyed window after the shuffle-free
    * assignment pass; output carries the in-cluster rank so a consumer
    * can tighten the quota without recomputing.
    */
  def clusterBalancedSample(spark: SparkSession, dir: String,
      quota: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("cid")).orderBy(col("hkey"), col("vec_id"))
    kmeansAssign(spark, dir)
      .withColumn("hkey",
        pmod(pmod(col("vec_id"), lit(1000000007L)) * lit(2654435761L),
          lit(1000000007L)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("vec_id"), col("cid").as("cluster"), col("rk"))
  }

  /** Int8 absmax scalar quantization audit — the compression step an
    * embedding store runs before serving (4× smaller vectors, SIMD int8
    * dot products): per-dimension scale = max |x|, code = round(127·x/mx),
    * reported per dimension as (min/max/Σ of codes, saturation count).
    *
    * Scale shape: codes never materialize as a stored column here — the
    * exploded (vec_id, dim, x) frame reduces `groupBy(dim)` with map-side
    * combine to D=64 scale rows, which then BROADCAST back onto the data
    * (scales are summary-cardinality; the data frame never re-shuffles).
    * The audit row count is D regardless of corpus size.
    *
    * Engine-portable by construction: float→double casts are exact,
    * `127 * x / mx` is two IEEE double ops in the same order on both
    * engines, and round-half-away-from-zero agrees between Spark
    * (BigDecimal HALF_UP on doubles) and DuckDB — so the integer codes,
    * not just their aggregates, are bit-identical and the op is fully
    * oracle-checked. An all-zero dimension would divide by zero, so the
    * scale is NULLed (nullif) identically on both sides.
    */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select((col("pos") + 1).as("dim"), col("xf").cast(DoubleType).as("x"))
    val scales = e.groupBy(col("dim"))
      .agg(nullif(max(abs(col("x"))), lit(0.0)).as("mx"))
    e.join(broadcast(scales), Seq("dim"))
      .withColumn("code", expr("cast(round(127 * x / mx) as bigint)"))
      .groupBy(col("dim"))
      .agg(
        min(col("code")).as("min_code"),
        max(col("code")).as("max_code"),
        sum(col("code")).as("sum_code"),
        count(when(abs(col("code")) === 127, 1)).as("n_sat"))
  }

  /** Matryoshka (MRL) truncation audit — the dimension-reduction twin of
    * [[int8Quantize]]'s precision audit: how well does cosine similarity
    * over only the FIRST k embedding dims track the full-dim cosine, for
    * k ∈ {8, 16, 32, 64}? This is the measurement a pipeline runs before
    * storing truncated vectors (MRL-style embeddings are trained so
    * prefixes remain usable; the audit quantifies whether THESE vectors
    * are).
    *
    * Determinism/parity discipline: the pair set is the deterministic
    * adjacent-id generator (the ngram_jaccard shape). Per-pair cosines
    * are doubles computed with the SAME index-order summation as the
    * oracle ([[knnCosine]]'s established parity), but per-pair errors are
    * QUANTIZED to integer 1e-9 units before any cross-pair aggregation —
    * integer sums are summation-order independent where double sums are
    * not — and the mean/max re-derive from those integers with one
    * mirrored division at the boundary. Sign flips compare exact
    * booleans. Scale shape: pure map over adjacent pairs (one equi-join),
    * ×4 rows per pair for the k explode, one partial-aggregated groupBy
    * on the 4-row k key.
    */
  def mrlTruncate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val a = e.alias("a")
    val b = e.alias("b")
    val pairs = a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.v").as("va"), col("b.v").as("vb"))
      .withColumn("cos_full", expr(
        """dot_product(va, vb) / (sqrt(dot_product(va, va))
          |                       * sqrt(dot_product(vb, vb)))""".stripMargin))
    pairs
      .select(col("va"), col("vb"), col("cos_full"),
        explode(expr("array(8, 16, 32, 64)")).as("k"))
      .withColumn("cos_k", expr(
        """dot_product(slice(va, 1, k), slice(vb, 1, k))
          |  / (sqrt(dot_product(slice(va, 1, k), slice(va, 1, k)))
          |     * sqrt(dot_product(slice(vb, 1, k), slice(vb, 1, k))))""".stripMargin))
      .withColumn("err_q", expr(
        "cast(floor(1e9 * abs(cos_k - cos_full)) as bigint)"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_pairs"),
        (sum(col("err_q")).cast(DoubleType) / lit(1e9) / count(lit(1)))
          .as("mean_abs_err"),
        (max(col("err_q")).cast(DoubleType) / lit(1e9)).as("max_abs_err"),
        count(when((col("cos_k") > 0) =!= (col("cos_full") > 0), 1))
          .as("n_sign_flips"))
  }
}
