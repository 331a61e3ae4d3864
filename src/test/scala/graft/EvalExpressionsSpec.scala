package graft

import org.apache.spark.sql.functions._

/** Ground-truth specs for the pair-local generation-eval kernels
  * (clipped_ngram_overlaps, lcs_length) against brute-force Scala
  * reimplementations, plus codegen/eval parity via the SQL registration
  * path (whole-stage codegen) on randomized token arrays, and a
  * fallback-off run proving the generated code compiles.
  */
class EvalExpressionsSpec extends SparkSuite {

  private def bruteClipped(r: Seq[String], c: Seq[String],
                           maxOrder: Int): Seq[Long] =
    (1 to maxOrder).map { n =>
      val rg = r.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      val cg = c.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      val rh = rg.groupBy(identity).map { case (k, v) => k -> v.length }
      cg.groupBy(identity).map { case (k, v) =>
        math.min(v.length, rh.getOrElse(k, 0))
      }.sum.toLong
    }

  private def bruteLcs(a: Seq[String], b: Seq[String]): Long = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.length)(b.length).toLong
  }

  private def randomDocs(seed: Int, n: Int): Seq[(Seq[String], Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    // small vocab forces repeated grams (the clipping-sensitive case)
    val vocab = Vector("a", "b", "c", "dog", "cat", "the", "x")
    (1 to n).map { _ =>
      def doc() = Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length)))
      (doc(), doc())
    }
  }

  test("clipped_ngram_overlaps matches brute-force multiset-min, codegen path") {
    import spark.implicits._
    val docs = randomDocs(41, 200)
    val out = docs.toDF("r", "c")
      .select(col("r"), col("c"),
        expr("clipped_ngram_overlaps(r, c, 4)").as("m"))
      .collect()
    out.foreach { row =>
      val r = row.getAs[scala.collection.Seq[String]]("r").toSeq
      val c = row.getAs[scala.collection.Seq[String]]("c").toSeq
      val m = row.getAs[scala.collection.Seq[Long]]("m").toSeq
      assert(m == bruteClipped(r, c, 4), s"r=$r c=$c")
    }
  }

  test("clipping is real: repeated candidate tokens can't inflate the match") {
    import spark.implicits._
    val out = Seq((Seq("a", "b"), Seq("a", "a", "a", "b")))
      .toDF("r", "c")
      .select(expr("clipped_ngram_overlaps(r, c, 2)").as("m"))
      .head().getAs[scala.collection.Seq[Long]]("m")
    // unigram: min(tf) -> a:1, b:1 = 2 (not 4); bigram: only "a b" matches
    assert(out == Seq(2L, 1L))
  }

  test("lcs_length matches brute-force DP, codegen path") {
    import spark.implicits._
    val docs = randomDocs(43, 200)
    val out = docs.toDF("r", "c")
      .select(col("r"), col("c"), expr("lcs_length(r, c)").as("lcs"))
      .collect()
    out.foreach { row =>
      val r = row.getAs[scala.collection.Seq[String]]("r").toSeq
      val c = row.getAs[scala.collection.Seq[String]]("c").toSeq
      assert(row.getAs[Long]("lcs") == bruteLcs(r, c), s"r=$r c=$c")
    }
  }

  test("lcs_length is subsequence (non-contiguous), order-sensitive, bounded") {
    import spark.implicits._
    val cases = Seq(
      (Seq("a", "x", "b", "y", "c"), Seq("a", "b", "c"), 3L), // gaps ok
      (Seq("a", "b", "c"), Seq("c", "b", "a"), 1L),           // order matters
      (Seq("a"), Seq("b"), 0L),
      (Seq("a", "a", "a"), Seq("a", "a"), 2L))                // multiset-aware
    cases.foreach { case (r, c, want) =>
      val got = Seq((r, c)).toDF("r", "c")
        .select(expr("lcs_length(r, c)")).head().getLong(0)
      assert(got == want, s"r=$r c=$c")
    }
  }

  test("kernels compile under whole-stage codegen with fallback off, brute-force equal") {
    // spark.sql.codegen.fallback=false makes a doGenCode that fails to
    // compile ABORT instead of silently degrading to the interpreted path
    // (the default fallback hides a broken codegen from every other test).
    // A parquet scan, not a local Seq: the optimizer folds projections
    // over local data on the driver, so no generated code would run.
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
        .selectExpr("split(trim(text), ' ') AS w")
        .selectExpr("w", "clipped_ngram_overlaps(w, slice(w, 2, 50), 4) AS m",
          "lcs_length(w, slice(w, 2, 50)) AS l")
      val rows = df.collect()
      assert(rows.nonEmpty)
      val kernelLine = df.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("lcs_length")).getOrElse("")
      assert(kernelLine.matches("""\s*(\+- )?\*\(\d+\) Project .*"""),
        df.queryExecution.executedPlan.toString)
      rows.foreach { row =>
        val w = row.getAs[scala.collection.Seq[String]]("w").toSeq
        val c = w.slice(1, 51) // SQL slice(w, 2, 50): 1-based start, length
        assert(row.getAs[scala.collection.Seq[Long]]("m").toSeq == bruteClipped(w, c, 4))
        assert(row.getAs[Long]("l") == bruteLcs(w, c))
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("interpreted eval agrees with the codegen path") {
    // exercise nullSafeEval directly (the codegen tests above run the
    // whole-stage path; both delegate to one kernel, pinned here anyway)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(s: String*) =
      new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])
    val m = graft.functions.EvalExprOps
      .clippedOverlaps(arr("a", "b", "a"), arr("a", "a", "b"), 2)
    assert((0 until 2).map(m.getLong) == Seq(3L, 1L))
    assert(graft.functions.EvalExprOps.lcsLength(
      arr("a", "b", "a"), arr("a", "a", "b")) == 2L)
  }
}
