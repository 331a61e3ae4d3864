package graft

import org.apache.spark.sql.functions._

/** Specs for the native codegen vector expressions: correctness against
  * hand-computed values, agreement with the higher-order-function form
  * (bit-exact), null propagation, and SQL registration.
  */
class VectorExpressionsSpec extends SparkSuite {

  test("dot_product and cosine_sim match hand-computed values") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, -5.0, 6.0)))
      .toDF("x", "y")
      .select(
        expr("dot_product(x, y)").as("dot"),
        expr("cosine_sim(x, y)").as("cos"))
    val r = df.collect()(0)
    assert(r.getDouble(0) == 1.0 * 4 - 2 * 5 + 3 * 6) // 12
    val expected = 12.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(r.getDouble(1) == expected)
  }

  test("dot_product is bit-identical to the zip_with/aggregate fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      (Array.fill(64)(rnd.nextDouble()), Array.fill(64)(rnd.nextDouble()))
    }
    val diff = rows.toDF("x", "y")
      .select(
        expr("dot_product(x, y)").as("native"),
        expr("aggregate(zip_with(x, y, (a, b) -> a * b), 0D, (acc, v) -> acc + v)")
          .as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { _ =>
      def set() = Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong)
        .distinct.sorted
      (set(), set())
    } :+ ((Array.empty[Long], Array(1L, 2L)))
    val diff = rows.toDF("x", "y")
      .select(
        expr("sorted_intersect_count(x, y)").as("native"),
        size(array_intersect(col("x"), col("y"))).cast("long").as("builtin"))
      .filter(col("native") =!= col("builtin"))
    assert(diff.count() == 0)
  }

  test("null inputs propagate to null") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("x", "y")
      .select(expr("dot_product(x, y)").as("dot"))
    assert(df.collect()(0).isNullAt(0))
  }

  test("minhash_sig is bit-identical to the interpreted transform/array_min form") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 100).map(_ => Tuple1(Array.fill(1 + rnd.nextInt(40))(rnd.nextLong())))
    val diff = rows.toDF("hh")
      .select(
        expr("minhash_sig(hh)").as("native"),
        expr("transform(sequence(0, 63), j -> array_min(transform(hh, h -> xxhash64(j, h))))")
          .as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
    // empty input: no shingle hashes -> all-MaxValue signature, never null
    val empty = Seq(Tuple1(Array.empty[Long])).toDF("hh")
      .select(expr("minhash_sig(hh)").as("s")).collect()(0)
    assert(empty.getSeq[Long](0).forall(_ == Long.MaxValue))
  }

  test("simhash64 is bit-identical to the interpreted double-aggregate fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 100).map(_ => Tuple1(Array.fill(1 + rnd.nextInt(60))(rnd.nextLong())))
    val diff = rows.toDF("hashes")
      .select(
        expr("simhash64(hashes)").as("native"),
        expr(
          """aggregate(sequence(0, 63), 0L, (acc, j) ->
            |  acc + if(aggregate(hashes, 0L, (a, h) -> a + if((shiftright(h, j) & 1) = 1, 1L, -1L)) > 0,
            |           shiftleft(1L, j), 0L))""".stripMargin).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("signlsh_buckets is bit-identical to the interpreted triple-aggregate form") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 100).map(_ => Tuple1(Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val diff = rows.toDF("v")
      .select(
        expr("signlsh_buckets(v)").as("native"),
        expr(
          """transform(sequence(0, 7), t ->
            |  aggregate(sequence(0, 3), 0, (acc, p) ->
            |    acc + if(aggregate(sequence(0, 63),
            |               0D, (s, j) -> s + v[j] *
            |                 (cast(xxhash64(t * 4 + p, j) % 1000 as double) / 1000.0)) > 0D,
            |             cast(shiftleft(1, p) as int), 0)))""".stripMargin).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("char_ngrams3 is identical to the substring-per-position form, incl. multi-byte") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val alphabet = "abc déß€?! é世界"
    val rows = (1 to 200).map { _ =>
      Tuple1((0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val diff = rows.toDF("text")
      .filter(length(col("text")) >= 3)
      .select(
        expr("char_ngrams3(text)").as("native"),
        expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
          .as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
    // short inputs yield an empty array, not null
    val empty = Seq(Tuple1("ab")).toDF("text")
      .select(expr("char_ngrams3(text)").as("g")).collect()(0)
    assert(empty.getSeq[String](0).isEmpty)
  }

  test("word3gram_hashes is identical to the split/shingle/xxhash64 pipeline") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val words = Vector("the", "cat", "sat", "on", "", "mat", "déjà", "世界", "x")
    val synthetic = (1 to 300).map { _ =>
      val n = rnd.nextInt(12)
      val sep = if (rnd.nextBoolean()) " " else "  " // double spaces → empty tokens
      val pad = if (rnd.nextBoolean()) "  " else ""
      Tuple1(pad + (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(sep) + pad)
    }
    // real corpus rows exercise realistic lengths/content
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(200).collect().map(r => Tuple1(r.getString(0))).toSeq
    val diff = (synthetic ++ corpus).toDF("text")
      .withColumn("w", split(trim(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(
        expr("word3gram_hashes(text)").as("native"),
        expr(
          """transform(array_distinct(transform(sequence(0, size(w)-3),
            |  i -> concat_ws(' ', w[i], w[i+1], w[i+2]))), s -> xxhash64(s))""".stripMargin)
          .as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
    // <3 words or empty input → empty array (where the HOF form would need
    // an upstream guard), never null
    val shorts = Seq(Tuple1(""), Tuple1("   "), Tuple1("one"), Tuple1("one two"))
      .toDF("text").select(expr("word3gram_hashes(text)").as("h")).collect()
    assert(shorts.forall(r => !r.isNullAt(0) && r.getSeq[Long](0).isEmpty))
  }

  test("expressions run inside whole-stage codegen") {
    val df = spark.range(100)
      .selectExpr(
        "transform(sequence(0, 7), i -> cast(id + i as double)) AS x",
        "transform(sequence(0, 7), i -> cast(id * i as double)) AS y")
      .selectExpr("cosine_sim(x, y) AS c", "dot_product(x, y) AS d")
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[cosine_sim.*"), plan)
    assert(df.count() == 100)
  }

  test("mrl_truncate matches a driver-side replay; error shrinks as k grows") {
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double], k: Int): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < k) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    val pairs = vecs.collect {
      case (id, va) if byId.contains(id + 1) => (va, byId(id + 1))
    }
    val expected = Seq(8, 16, 32, 64).map { k =>
      val errs = pairs.map { case (va, vb) =>
        math.floor(1e9 * math.abs(cos(va, vb, k) - cos(va, vb, 64))).toLong
      }
      val flips = pairs.count { case (va, vb) =>
        (cos(va, vb, k) > 0) != (cos(va, vb, 64) > 0)
      }
      k -> (pairs.length.toLong, errs.sum.toDouble / 1e9 / pairs.length,
        errs.max.toDouble / 1e9, flips.toLong)
    }.toMap
    val got = SparkEntry.queries("mrl_truncate")(spark, sf).collect()
      .map(r => r.getAs[Int]("k") -> (
        r.getAs[Long]("n_pairs"), r.getAs[Double]("mean_abs_err"),
        r.getAs[Double]("max_abs_err"), r.getAs[Long]("n_sign_flips"))).toMap
    assert(got.keySet == expected.keySet)
    for ((k, e) <- expected) assert(got(k) == e, s"k=$k")
    // the audit is only meaningful if truncation error actually decreases
    // in k and vanishes at the full dimension
    assert(got(64)._2 == 0.0 && got(64)._3 == 0.0 && got(64)._4 == 0L)
    assert(got(8)._2 > got(16)._2 && got(16)._2 > got(32)._2)
    assert(got(8)._2 > 0.0, "zero truncation error at k=8 — vacuous fixture")
  }

  test("embed_drift matches a driver-side integer replay at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$sf/embeddings.parquet").collect().map { r =>
      (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    }
    val dims = rows.head._2.length
    val (as, bs) = rows.partition(_._1 % 2 == 0)
    def sums(cohort: Array[(Long, Array[Float])]): Array[Long] =
      (0 until dims).map { d =>
        cohort.map(v => math.floor(v._2(d).toDouble * 1e3).toLong).sum
      }.toArray
    val sa = sums(as); val sb = sums(bs)
    val na = as.length.toLong; val nb = bs.length.toLong
    val cross = (0 until dims).map(d => math.abs(sa(d) * nb - sb(d) * na))
    val dot = (0 until dims).map(d => sa(d) * sb(d)).sum
    val naa = sa.map(s => s * s).sum; val nbb = sb.map(s => s * s).sum
    val expCos = dot.toDouble / (math.sqrt(naa.toDouble) * math.sqrt(nbb.toDouble))
    val expDrifted = cross.count(_ > na * nb * 10L).toLong
    val expMaxDim = cross.indices.minBy(d => (-cross(d), d))
    val r = SparkEntry.queries("embed_drift")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
    assert(r.getAs[Double]("cos_means") == expCos)
    assert(r.getAs[Long]("n_drifted_dims") == expDrifted)
    assert(r.getAs[Int]("max_shift_dim") == expMaxDim)
    assert(r.getAs[Long]("max_shift_q") == cross.max)
    // both census branches must fire on the fixture
    assert(expDrifted > 0 && expDrifted < dims,
      s"drift census one-sided: $expDrifted of $dims")
  }
}
