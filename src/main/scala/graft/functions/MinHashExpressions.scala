package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native MinHash signature: `minhash_sig(array<long>) -> array<long>`.
  *
  * Semantically identical to the higher-order-function form
  * `transform(sequence(0, N-1), j -> array_min(transform(hh, h -> xxhash64(j, h))))`
  * — bit-for-bit, because the per-(seed, hash) mix is the same composition
  * Spark's `xxhash64(j, h)` evaluates: `XXH64.hashLong(h, XXH64.hashInt(j, 42))`,
  * with the 64 per-seed prefixes precomputed once.
  *
  * Rationale (100 TB posture): the HOF form walks two nested lambda trees and
  * allocates an intermediate N-element array per (document, seed) — measured
  * as the single most expensive expression in the engine (40% of bench
  * total). This expression is one primitive `long` loop in whole-stage
  * codegen with a single output allocation per document: O(shingles × N)
  * fused multiply-rotate hashes and nothing else.
  *
  * PRECONDITION — non-empty input. The bit-for-bit equivalence above holds
  * only for non-empty hash arrays: on `array()` the HOF form yields an
  * array of NULLs (`array_min` of an empty array) while this expression
  * yields N × Long.MaxValue (the fold identity), consistent with the
  * declared `containsNull = false` output type. Every caller in the engine
  * filters `size(shingles) >= 1` upstream ([[graft.ops.DedupOps]] keeps
  * docs with ≥3 tokens); new callers must do the same or must not rely on
  * HOF equivalence for empty inputs.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }

  // seed-j prefix of Spark's xxhash64(j, h): hashInt folds j into seed 42
  // first, then hashLong folds each candidate hash. Computing the prefixes
  // once hoists half the mixing out of the per-shingle loop.
  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(j => XXH64.hashInt(j, 42L))

  override def nullSafeEval(input: Any): Any = {
    val hh = input.asInstanceOf[ArrayData]
    val n = hh.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hh.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = XXH64.hashLong(h, seeds(j))
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, hh => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |int $n = $hh.numElements();
         |long[] $out = new long[${numHashes}];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $hh.getLong($i);
         |  for (int $j = 0; $j < ${numHashes}; $j++) {
         |    long $v = $xxh.hashLong($h, $seedsRef[$j]);
         |    if ($v < $out[$j]) $out[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override def prettyName: String = "minhash_sig"
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Native SimHash: `simhash64(array<long>) -> bigint`.
  *
  * Bit j of the fingerprint is the sign of Σ over token hashes of ±1 by bit
  * j of the hash — bit-identical to the interpreted double-`aggregate` fold
  * in SQL (`acc + if((shiftright(h, j) & 1) = 1, 1, -1)`), pinned by spec.
  * The HOF form walks a 64-step outer fold × full-array inner fold through
  * interpreted lambda trees (O(64·n) tree walks per document); this is two
  * primitive loops with a 64-int tally on the stack.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val hh = input.asInstanceOf[ArrayData]
    val n = hh.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hh.getLong(i)
      var j = 0
      while (j < 64) {
        counts(j) += (((h >>> j) & 1L).toInt << 1) - 1 // +1 if bit set, -1 otherwise
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hh => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val out = ctx.freshName("out")
      s"""
         |int $n = $hh.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $hh.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $counts[$j] += ((int) ((($h >>> $j) & 1L) << 1)) - 1;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $out |= 1L << $j;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Native multi-table sign-LSH bucketing:
  * `signlsh_buckets(array<double>) -> array<int>` of `numTables` bucket ids.
  *
  * Bucket bit p of table t is the sign of ⟨v, plane_{t·K+p}⟩, with plane
  * components derived from `xxhash64(planeIdx, dim) % 1000 / 1000` —
  * bit-identical to the interpreted triple-`aggregate` SQL form it
  * replaces (pinned by spec) for the engine's embedding contract of ≥64
  * non-null dimensions. For SHORTER vectors the two forms diverge by
  * design: the SQL form's `v[j]` is NULL past the end, the NULL collapses
  * the whole fold, and every bucket degenerates to 0 (all short vectors
  * collide everywhere — a candidate-explosion hazard); the native loop
  * projects over the dimensions present, which keeps buckets selective.
  * The L·K×64 plane matrix is precomputed once instead of re-hashed per
  * row, and the projection runs as a primitive double loop in whole-stage
  * codegen: one row's bucketing cost drops from ~2·L·K·64 interpreted
  * lambda steps to L·K fused dot products.
  */
case class SignLshBuckets(child: Expression, numTables: Int, numPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.sql}")
  }

  // planes[t*K + p][j] = (xxhash64(t*K + p, j) % 1000) / 1000.0 — the same
  // composition Spark's xxhash64(int, int) evaluates (both args INT):
  // hashInt(j, hashInt(planeIdx, 42)). Dim capped at 64 like the SQL form.
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(numTables * numPlanes) { pi =>
      val seed = XXH64.hashInt(pi, 42L)
      Array.tabulate(64)(j => (XXH64.hashInt(j, seed) % 1000L).toDouble / 1000.0)
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), 64)
    val out = new Array[Int](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0
      var p = 0
      while (p < numPlanes) {
        val plane = planes(t * numPlanes + p)
        var s = 0.0
        var j = 0
        while (j < n) { s += v.getDouble(j) * plane(j); j += 1 }
        if (s > 0.0) bucket += 1 << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val plane = ctx.freshName("plane")
      val bucket = ctx.freshName("bucket")
      val out = ctx.freshName("out")
      s"""
         |int $n = Math.min($v.numElements(), 64);
         |int[] $out = new int[${numTables}];
         |for (int $t = 0; $t < ${numTables}; $t++) {
         |  int $bucket = 0;
         |  for (int $p = 0; $p < ${numPlanes}; $p++) {
         |    double[] $plane = $planesRef[$t * ${numPlanes} + $p];
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $s += $v.getDouble($j) * $plane[$j];
         |    }
         |    if ($s > 0.0) $bucket += 1 << $p;
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override def prettyName: String = "signlsh_buckets"
  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)
}

/** Native character n-grams: `char_ngrams3(string) -> array<string>` of all
  * code-point trigrams, in document order.
  *
  * Semantically identical to
  * `transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))`
  * (pinned by spec, including multi-byte input) — but ONE pass: the SQL
  * form re-scans the string from the start for every position to find
  * code-point boundaries, O(len²) per document, which at corpus scale makes
  * n-gram extraction the dominant cost. Here boundaries are walked once and
  * each gram is a direct byte-slice.
  */
case class CharNgrams3(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    CharNgrams3.ngrams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharNgrams3.ngrams($s);")

  override def prettyName: String = "char_ngrams3"
  override protected def withNewChildInternal(newChild: Expression): CharNgrams3 =
    copy(child = newChild)
}

object CharNgrams3 {
  private val N = 3

  /** One linear walk: collect code-point start offsets (UTF-8 continuation
    * bytes have the 10xxxxxx prefix), then slice each trigram directly.
    */
  def ngrams(s: org.apache.spark.unsafe.types.UTF8String): GenericArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val bytes = s.getBytes
    val len = bytes.length
    // code-point start offsets, plus the end sentinel
    val starts = new Array[Int](len + 1)
    var nChars = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(nChars) = i; nChars += 1 }
      i += 1
    }
    starts(nChars) = len
    val nGrams = math.max(nChars - N + 1, 0)
    val out = new Array[AnyRef](nGrams)
    var g = 0
    while (g < nGrams) {
      out(g) = UTF8String.fromBytes(bytes, starts(g), starts(g + N) - starts(g))
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Native hashed word-3-gram shingles:
  * `word3gram_hashes(string) -> array<bigint>`.
  *
  * Semantically identical (pinned by Word3GramHashesSpec) to the engine's
  * interpreted shingle pipeline
  * {{{
  *   w = split(trim(text), " ")
  *   transform(array_distinct(transform(sequence(0, size(w)-3),
  *     i -> concat_ws(' ', w[i], w[i+1], w[i+2]))), s -> xxhash64(s))
  * }}}
  * with two deliberate boundary differences: (a) inputs with fewer than 3
  * words yield an EMPTY array instead of relying on an upstream
  * `size(w) >= 3` filter (sequence(0, -1/-2) would throw in the HOF form);
  * (b) distinctness is by 64-bit hash, not by string — two DIFFERENT
  * shingles colliding on xxhash64 within one document would emit one
  * element instead of two duplicates of the same value (probability
  * ~shingles²/2⁶⁵ per document; the downstream set-semantics consumers
  * can't observe the difference short of such a collision).
  *
  * Rationale (100 TB posture): the HOF form materializes a per-document
  * array of shingle STRINGS through three interpreted lambda trees and a
  * string-equality array_distinct — measured ~3.6 s of a 4.4 s
  * contamination run at sf0.1, the engine's single most expensive
  * remaining expression. This is [[WordWindowHashes]]' linear byte walk at
  * width 3 followed by an in-order dedup: because `split` keeps empty
  * tokens and `concat_ws(' ', …)` re-joins with the same single-space
  * separators the splitter consumed, shingle i's text is EXACTLY the
  * trimmed input's bytes from the start of word i to the end of word i+2
  * — so each hash reads the original byte range in place and no shingle
  * string is ever allocated.
  */
case class Word3GramHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Word3GramHashes.hashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Word3GramHashes.hashes($s);")

  override def prettyName: String = "word3gram_hashes"
  override protected def withNewChildInternal(newChild: Expression): Word3GramHashes =
    copy(child = newChild)
}

object Word3GramHashes {
  /** [[WordWindowHashes.hashes]] at width 3, keeping each hash's first
    * occurrence in order.
    */
  def hashes(s: org.apache.spark.unsafe.types.UTF8String): GenericArrayData = {
    val all = WordWindowHashes.hashes(s, 3)
    val distinct = all.array.distinct
    if (distinct.length == all.array.length) all else new GenericArrayData(distinct)
  }
}

/** ALL stride-1 word-window hashes with positions preserved —
  * `word_window_hashes(string, W) -> array<bigint>` where element g
  * (0-based) is the hash of the W-token window starting at token g+1.
  *
  * Semantically identical (pinned by GraftProperties) to the HOF form
  * {{{
  *   w = split(trim(text), " ")
  *   transform(sequence(1, size(w) - W + 1),
  *     i -> xxhash64(array_join(slice(w, i, W), ' ')))
  * }}}
  * for inputs with at least W words, and EMPTY for shorter inputs (the
  * HOF sequence would reverse through offset 0 and abort). There is NO
  * distinct ([[Word3GramHashes]] adds it) — [[graft.ops.DedupOps
  * .exactSubstrSpans]] needs every offset, in order.
  *
  * Same 100 TB rationale as the 3-gram walk: `split` keeps empty tokens
  * and `array_join(…, ' ')` re-joins with the separators the splitter
  * consumed, so window g's text is EXACTLY the trimmed input's bytes
  * from the start of word g to the end of word g+W−1 — each xxhash64
  * (seed 42, the SQL function's) reads the original bytes in place; the
  * O(n·W) per-document string materialization of the HOF form (the
  * whole cost of the first exact_substr_spans cut) becomes one O(n)
  * byte walk.
  */
case class WordWindowHashes(child: Expression, width: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType if width >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a positive window width, got $width")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    WordWindowHashes.hashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], width)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.WordWindowHashes.hashes($s, $width);")

  override def prettyName: String = "word_window_hashes"
  override protected def withNewChildInternal(newChild: Expression): WordWindowHashes =
    copy(child = newChild)
}

object WordWindowHashes {
  private val Empty = new GenericArrayData(new Array[Long](0))

  def hashes(s: org.apache.spark.unsafe.types.UTF8String, width: Int): GenericArrayData = {
    val bytes = s.trim().getBytes
    val len = bytes.length
    var nWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    if (len == 0 || nWords < width) return Empty
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var w = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = len
    val nWin = nWords - width + 1
    val out = new Array[Long](nWin)
    var g = 0
    while (g < nWin) {
      val off = starts(g)
      out(g) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off,
        ends(g + width - 1) - off, 42L)
      g += 1
    }
    new GenericArrayData(out)
  }
}
