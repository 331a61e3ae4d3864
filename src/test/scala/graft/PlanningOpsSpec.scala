package graft

import graft.model.Tables
import graft.ops.{PipelineOps, QualityOps, StorageOps}

/** Ground truth for the r15 PLANNING ops — salt_plan, compaction_plan,
  * curriculum_plan: each recomputed single-threaded from the raw fixture
  * (straight-line Scala, no shared expressions), plus the invariant each
  * plan exists to guarantee (post-salt task bound, streaming-pack bin
  * bound, equal-population curriculum bands with monotone length
  * boundaries) and non-vacuity guards so no branch is dead on the
  * fixture.
  */
class PlanningOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("salt_plan: ceil-division fan-outs match a replay; the post-salt bound holds") {
    val counts = Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = QualityOps.SaltTargetRows
    val got = SparkEntry.queries("salt_plan")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("cnt"),
        r.getAs[Long]("n_salts"), r.getAs[Long]("post_rows_max")))).toMap
    assert(got.keySet == counts.keySet)
    for ((k, c) <- counts) {
      val s = (c + t - 1) / t
      assert(got(k) == ((c, s, (c + s - 1) / s)), k)
      // the bound the plan promises: no post-salt task above target
      assert(got(k)._3 <= t, s"post-salt max exceeds target for $k")
    }
    // branch coverage spans fixtures: sf0.001's ~200-row keys plan the
    // no-op salt, sf0.01's ~2000-row keys genuinely fan out
    assert(got.values.forall(_._2 == 1L), "sf0.001 keys should be cold")
    val hot = SparkEntry.queries("salt_plan")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(hot.nonEmpty && hot.forall(_.getAs[Long]("n_salts") > 1L),
      "sf0.01 keys should all fan out")
  }

  test("compaction_plan: streaming first-fit bins match a replay; bins stay target-bounded") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val t = StorageOps.CompactTargetBytes
    val exp = docs.groupBy(_._1).toSeq.flatMap { case (src, fs) =>
      var cum = 0L
      fs.sortBy(_._2).map { case (_, id, b) =>
        val bin = cum / t
        cum += b
        ((src, bin), (id, b))
      }
    }.groupBy(_._1).map { case (k, g) =>
      k -> ((g.size.toLong, g.map(_._2._2).sum,
        g.map(_._2._1).min, g.map(_._2._1).max))
    }
    val got = SparkEntry.queries("compaction_plan")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("bin_id")) ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("bytes"),
          r.getAs[Long]("min_doc_id"), r.getAs[Long]("max_doc_id")))).toMap
    assert(got == exp)
    // the streaming-pack guarantee: a bin exceeds target by less than
    // one file (the file that crossed the boundary)
    val maxFile = docs.map(_._3).max
    for ((k, (_, bytes, _, _)) <- got)
      assert(bytes < t + maxFile, s"bin $k overpacked: $bytes")
    // non-vacuity: the fixture spans multiple bins per source (a
    // single-bin corpus would never exercise the boundary)
    assert(got.keys.groupBy(_._1).values.exists(_.size > 1),
      "fixture too small to cross a bin boundary")
  }

  test("join_size_estimate: key-cluster HT estimator matches a replay and calibrates") {
    val p = 1000000007L
    def hit(k: Long) =
      Math.floorMod(Math.floorMod(k, p) * 2654435761L, p) % 100 <
        graft.ops.RelationalOps.JoinSamplePct
    val oKeys = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey").collect().map(_.getLong(0))
    val lKeys = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey").collect().map(_.getLong(0))
    val oCnt = oKeys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val lCnt = lKeys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val actual = oCnt.map { case (k, c) => c * lCnt.getOrElse(k, 0L) }.sum
    val sample = oCnt.collect {
      case (k, c) if hit(k) => c * lCnt.getOrElse(k, 0L)
    }.sum
    val scale = 100L / graft.ops.RelationalOps.JoinSamplePct
    val r = SparkEntry.queries("join_size_estimate")(spark, sf).collect()(0)
    assert(r.getAs[Long]("actual_rows") == actual)
    assert(r.getAs[Long]("sample_rows") == sample)
    assert(r.getAs[Long]("est_rows") == sample * scale)
    assert(r.getAs[Double]("est_over_actual") ==
      (sample * scale).toDouble / actual.toDouble)
    // non-vacuity + the estimator's reason to exist: the sample is a
    // strict subset (not empty, not everything) and the key-cluster
    // scale-up lands near truth on the fixture (±30%; sf0.1 measured
    // within 0.2%)
    assert(sample > 0 && sample < actual)
    val ratio = (sample * scale).toDouble / actual.toDouble
    assert(ratio > 0.7 && ratio < 1.3, s"estimator badly calibrated: $ratio")
  }

  test("hilbert_index resolves as a SQL function through GraftExtensions' registry list") {
    // the fused kernel is registered alongside dot_product/minhash_sig
    // etc. — a SQL user gets the layout key without the Scala API
    val rows = spark.sql(
      "SELECT hilbert_index(CAST(3 AS BIGINT), CAST(4 AS BIGINT)) AS h," +
        " hilbert_index(CAST(65536 AS BIGINT), CAST(0 AS BIGINT)) AS hm")
      .collect()(0)
    assert(rows.getAs[Long]("h") ==
      graft.functions.HilbertIndex.compute(3L, 4L))
    // the mask contract holds through the SQL path too
    assert(rows.getAs[Long]("hm") ==
      graft.functions.HilbertIndex.compute(0L, 0L))
  }

  test("curriculum_plan: per-source equal-population length bands match a replay") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).trim.split(" ").length.toLong))
    val p = PipelineOps.CurriculumPhases
    val exp = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val ordered = ds.sortBy(d => (d._3, d._2))
      val n = ordered.length.toLong
      ordered.zipWithIndex.map { case ((_, _, toks), i) =>
        ((src, i.toLong * p / n), toks)
      }
    }.groupBy(_._1).map { case (k, g) =>
      k -> ((g.size.toLong, g.map(_._2).sum, g.map(_._2).min, g.map(_._2).max))
    }
    val got = SparkEntry.queries("curriculum_plan")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("phase")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_toks"),
          r.getAs[Long]("tok_min"), r.getAs[Long]("tok_max")))).toMap
    assert(got == exp)
    val bySource = got.keys.groupBy(_._1)
    for ((src, keys) <- bySource) {
      // every phase populated, near-equal population (the exact-rank
      // band arithmetic guarantees a <=1 spread)
      assert(keys.size == p, s"$src: ${keys.size} of $p phases populated")
      val sizes = keys.toSeq.map(got(_)._1)
      assert(sizes.max - sizes.min <= 1, s"$src phases unbalanced: $sizes")
      // the curriculum property: phase length bands are monotone —
      // phase k's longest doc never exceeds phase k+1's shortest
      // (ties at the boundary are legal: rank, not value, splits them)
      val ordered = keys.toSeq.sortBy(_._2).map(got(_))
      for (Seq(a, b) <- ordered.sliding(2))
        assert(a._4 <= b._3, s"$src bands not monotone: ${a._4} > ${b._3}")
    }
    // non-vacuity: length bands genuinely differ somewhere (a constant-
    // length corpus would make the curriculum trivially flat)
    assert(got.values.exists(v => v._3 != v._4),
      "every band is a single length — fixture degenerate")
  }
}
