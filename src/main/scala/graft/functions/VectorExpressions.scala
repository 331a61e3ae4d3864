package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector math in the similarity ops.
  *
  * Rationale (100 TB posture): higher-order array functions
  * (`zip_with`+`aggregate`) evaluate interpreted — per element they walk a
  * lambda expression tree and allocate intermediate arrays. These
  * expressions instead generate a tight primitive `double` loop via
  * `doGenCode`, participating in whole-stage codegen with zero per-pair
  * allocation — the preference order the engine follows everywhere:
  * built-in function > native codegen Expression > Scala UDF.
  *
  * Summation is index-order (identical to the left-to-right fold of the
  * higher-order-function form and of the DuckDB oracle), so swapping the
  * implementation changes no result bits.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<double> arguments, got " +
            s"${left.dataType.sql} and ${right.dataType.sql}")
    }
}

/** dot(x, y) = Σ x_i·y_i over the common prefix of the two arrays. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override def prettyName: String = "dot_product"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** cos(x, y) = dot(x,y) / (‖x‖·‖y‖), one fused loop. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $x.getDouble($i);
         |  double $yi = $y.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })

  override def prettyName: String = "cosine_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Registration: either per-session ([[GraftFunctions.register]]) or via
  * `spark.sql.extensions=graft.functions.GraftExtensions` at session build.
  * After registration the functions resolve in SQL and `expr(...)`.
  */
object GraftFunctions {
  /** Fixed-arity builder guard: a wrong-arity SQL call fails analysis with
    * the standard WRONG_NUM_ARGS error naming the function, instead of an
    * IndexOutOfBoundsException from `children(i)` inside the builder.
    */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): FunctionBuilder =
    (children: Seq[Expression]) => {
      if (children.length != n) {
        throw org.apache.spark.sql.GraftBridge.wrongNumArgs(name, n, children.length)
      }
      build(children)
    }

  private[graft] def fns: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      arity("dot_product", 2)(c => DotProduct(c(0), c(1)))),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      arity("cosine_sim", 2)(c => CosineSimilarity(c(0), c(1)))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      arity("minhash_sig", 1)(c => MinHashSignature(c(0), 64))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      arity("simhash64", 1)(c => SimHash64(c(0)))),
    (FunctionIdentifier("signlsh_buckets"),
      new ExpressionInfo(classOf[SignLshBuckets].getName, "signlsh_buckets"),
      arity("signlsh_buckets", 1)(c => SignLshBuckets(c(0), 8, 4))),
    (FunctionIdentifier("char_ngrams3"),
      new ExpressionInfo(classOf[CharNgrams3].getName, "char_ngrams3"),
      arity("char_ngrams3", 1)(c => CharNgrams3(c(0)))),
    (FunctionIdentifier("word3gram_hashes"),
      new ExpressionInfo(classOf[Word3GramHashes].getName, "word3gram_hashes"),
      arity("word3gram_hashes", 1)(c => Word3GramHashes(c(0)))),
    (FunctionIdentifier("word_window_hashes"),
      new ExpressionInfo(classOf[WordWindowHashes].getName, "word_window_hashes"),
      arity("word_window_hashes", 2)(c => WordWindowHashes(c(0),
        // width must be a literal: it is baked into codegen
        c(1).eval(null) match {
          case i: Int => i
          case other => throw new IllegalArgumentException(
            s"word_window_hashes width must be an integer literal, got $other")
        }))),
    (FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      arity("pq_adc", 2)(c => PqAdc(c(0), c(1)))),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      arity("sorted_intersect_count", 2)(c => SortedIntersectCount(c(0), c(1)))),
    (FunctionIdentifier("delta_varint_encode"),
      new ExpressionInfo(classOf[DeltaVarintEncode].getName, "delta_varint_encode"),
      arity("delta_varint_encode", 1)(c => DeltaVarintEncode(c(0)))),
    (FunctionIdentifier("varint_sorted_intersect_count"),
      new ExpressionInfo(classOf[VarintSortedIntersectCount].getName,
        "varint_sorted_intersect_count"),
      arity("varint_sorted_intersect_count", 2)(
        c => VarintSortedIntersectCount(c(0), c(1)))),
    (FunctionIdentifier("clipped_ngram_overlaps"),
      new ExpressionInfo(classOf[ClippedNgramOverlaps].getName, "clipped_ngram_overlaps"),
      arity("clipped_ngram_overlaps", 3)(c => ClippedNgramOverlaps(c(0), c(1),
        // maxOrder must be a literal: it is baked into codegen
        c(2).eval(null) match {
          case i: Int => i
          case other => throw new IllegalArgumentException(
            s"clipped_ngram_overlaps maxOrder must be an integer literal, got $other")
        }))),
    (FunctionIdentifier("lcs_length"),
      new ExpressionInfo(classOf[LcsLength].getName, "lcs_length"),
      arity("lcs_length", 2)(c => LcsLength(c(0), c(1)))),
    (FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      arity("hilbert_index", 2)(c => HilbertIndex(c(0), c(1)))),
    (FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      arity("md5_prefix60", 1)(c => Md5Prefix60(c(0)))))

  /** Per-corpus `pq_encode` column, the codebook captured in the
    * expression — the codebook is DATA (trained per corpus), so unlike the
    * stateless functions above it cannot be a fixed global registration.
    * Built DIRECTLY as an expression (not bound in the session function
    * registry): a latest-wins named `pq_encode` binding could resolve a
    * query against the WRONG corpus's codebook when two corpora interleave
    * on one session between registration and analysis.
    */
  def pqEncode(child: org.apache.spark.sql.Column,
               codebooks: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(
      PqEncode(org.apache.spark.sql.GraftBridge.expression(child), codebooks))

  /** Idempotent per-session registration, for a session built without
    * [[GraftExtensions]]: names the registry already has are left alone.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

/** `spark.sql.extensions` entry point: native functions + the as-of join
  * operator (strategy + its pushdown rule).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
    ext.injectOptimizerRule(_ => graft.plans.PruneColumnsThroughAsofJoin)
  }
}
