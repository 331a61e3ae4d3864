package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Bit-parity specs for the native PQ kernels against the interpreted
  * higher-order-function forms they replaced (the HOF forms live on here
  * as the reference implementation).
  */
class PqExpressionsSpec extends SparkSuite {

  private val M = 4
  private val K = 8
  private val SubDim = 4

  private def codebooks(seed: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(M, K, SubDim)(rnd.nextDouble() * 2 - 1)
  }

  test("pq_encode is bit-identical to the struct-argmin HOF form") {
    import spark.implicits._
    val cb = codebooks(29)
    val rnd = new scala.util.Random(31)
    val rows = (1 to 300).map(_ => Tuple1(Array.fill(M * SubDim)(rnd.nextDouble() * 2 - 1)))
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val cn2Lit = typedLit(cb.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    val diff = rows.toDF("u")
      .withColumn("cb", cbLit).withColumn("cn2", cn2Lit)
      .select(
        GraftFunctions.pqEncode(col("u"), cb).as("native"),
        expr(
          s"""transform(sequence(0, ${M - 1}), j ->
             |  array_min(transform(sequence(0, ${K - 1}), c -> named_struct(
             |    'd', cn2[j][c] - 2D * dot_product(slice(u, j * $SubDim + 1, $SubDim), cb[j][c]),
             |    'c', c))).c)""".stripMargin).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("pq_adc is bit-identical to the aggregate fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val rows = (1 to 300).map { _ =>
      (Array.fill(M)(rnd.nextInt(K)),
        Array.fill(M, K)(rnd.nextDouble() * 10))
    }
    val diff = rows.toDF("codes", "dtab")
      .select(
        expr("pq_adc(codes, dtab)").as("native"),
        expr(s"aggregate(sequence(0, ${M - 1}), 0D, (acc, j) -> acc + dtab[j][codes[j]])")
          .as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("short vectors and bad codes yield null, matching the HOF forms") {
    import spark.implicits._
    // a vector shorter than M*SubDim must NOT be encoded from garbage reads
    val short = Seq(Tuple1(Array(1.0, 2.0))).toDF("u")
      .select(GraftFunctions.pqEncode(col("u"), codebooks(43)).as("c")).collect()(0)
    assert(short.isNullAt(0))
    // null / out-of-range code elements poison the sum to null — matching
    // the TOLERANT indexing form `get()` (Spark 4's strict `[]` would
    // throw mid-query on a corrupt code, which an ADC scan must not)
    val rows = Seq(
      (Array[Integer](0, null, 1, 0), Array.fill(M, K)(1.0)),
      (Array[Integer](0, 99, 1, 0), Array.fill(M, K)(1.0))
    ).toDF("codes", "dtab")
      .select(
        expr("pq_adc(codes, dtab)").as("native"),
        expr(s"aggregate(sequence(0, ${M - 1}), 0D, (acc, j) -> acc + get(dtab[j], codes[j]))")
          .as("hof")).collect()
    rows.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1), r) }
  }

  test("null inputs propagate to null") {
    import spark.implicits._
    val r = Seq(Tuple1(Option.empty[Array[Double]])).toDF("u")
      .select(GraftFunctions.pqEncode(col("u"), codebooks(41)).as("c")).collect()(0)
    assert(r.isNullAt(0))
    val r2 = Seq((Option.empty[Array[Int]], Option(Array(Array(1.0)))))
      .toDF("codes", "dtab")
      .select(expr("pq_adc(codes, dtab)").as("a")).collect()(0)
    assert(r2.isNullAt(0))
  }
}
