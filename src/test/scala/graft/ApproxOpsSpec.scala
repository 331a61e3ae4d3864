package graft

/** Ground-truth specs for the operators whose semantics DuckDB cannot
  * oracle-check (probabilistic sketches and LSH candidate generation).
  * Each is pinned against an exact brute-force computation at sf0.001 —
  * the strongest correctness signal these ops can have.
  */
class ApproxOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Straight-line twin of [[graft.functions.Md5Prefix60]]: top 60 bits
    * of md5 — the ONE replay definition every KMV ground-truth test uses.
    */
  private def md5h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Straight-line KMV estimate over rendered values (nulls skipped):
    * exact below k distinct hashes, (k−1)·2^60/h_(k) at k.
    */
  private def kmvReplay(rendered: Seq[String], k: Int): Double = {
    val hs = rendered.filter(_ != null).map(md5h60).distinct.sorted
    if (hs.length < k) hs.length.toDouble
    else graft.functions.KmvSketch.EstNumerator * (k - 1).toDouble /
      hs(k - 1).toDouble
  }

  /** Word-3-gram shingle sets per document, computed independently of the
    * engine (plain Scala over collected rows) so the engine's own shingling
    * is part of what's being verified.
    */
  private lazy val shingleSets: Map[Long, Set[String]] =
    graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val w = r.getAs[String]("text").trim.split(" ")
        val sh =
          if (w.length < 3) Set.empty[String]
          else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
        r.getAs[Long]("doc_id") -> sh
      }.toMap

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  test("minhash_neardup finds every true pair with Jaccard >= 0.7 (recall)") {
    val reported = SparkEntry.queries("minhash_neardup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val ids = shingleSets.keys.toSeq.sorted
    val truth = for {
      i <- ids; j <- ids if i < j
      if shingleSets(i).nonEmpty && jaccard(shingleSets(i), shingleSets(j)) >= 0.7
    } yield (i, j)
    assert(truth.nonEmpty, "corpus has no planted near-dups at sf0.001 — spec vacuous")
    val missed = truth.filterNot(reported)
    assert(missed.isEmpty,
      s"minhash_neardup missed ${missed.size}/${truth.size} true pairs: ${missed.take(5)}")
    info(s"recall: ${truth.size}/${truth.size} true J>=0.7 pairs found, " +
      s"${reported.size} pairs reported")
  }

  test("minhash_neardup reports no pair below true Jaccard 0.3 (precision)") {
    val rows = SparkEntry.queries("minhash_neardup")(spark, sf).collect()
    // est_jaccard >= 0.5 over 64 hashes has sigma ~= 0.0625; a true Jaccard
    // below 0.3 passing the 0.5 estimator cut is a >3-sigma event.
    val bad = rows.filter { r =>
      jaccard(shingleSets(r.getAs[Long]("doc_a")),
        shingleSets(r.getAs[Long]("doc_b"))) < 0.3
    }
    assert(bad.isEmpty, s"false positives: ${bad.take(5).mkString(", ")}")
  }

  test("containment_lsh: exact scores per emitted pair + planted near-dup recall") {
    val rows = SparkEntry.queries("containment_lsh")(spark, sf).collect()
    assert(rows.nonEmpty, "no LSH candidates at sf0.001 — spec vacuous")
    // every emitted score is the exact set computation (same int->double
    // cast, one IEEE division — bit-identical to the brute replay)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val i = sa.intersect(sb).size.toDouble
      val (ca, cb) = (i / sa.size, i / sb.size)
      val j = i / sa.union(sb).size
      assert(r.getAs[Double]("cont_a") == ca && r.getAs[Double]("cont_b") == cb,
        s"($a,$b): scores diverge from exact sets")
      val rel = if (j >= 0.5) "near_dup"
                else if (ca >= 0.8) "a_in_b"
                else if (cb >= 0.8) "b_in_a" else "distinct"
      assert(r.getAs[String]("relation") == rel, s"($a,$b): relation mismatch")
    }
    // recall 1.0 on planted near-dups: every true-Jaccard >= 0.7 pair is
    // in the LSH candidate stream and classified near_dup
    val byPair = rows.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[String]("relation")).toMap
    val ids = shingleSets.keys.toSeq.sorted
    val truth = for {
      i <- ids; j <- ids if i < j
      if shingleSets(i).nonEmpty && jaccard(shingleSets(i), shingleSets(j)) >= 0.7
    } yield (i, j)
    assert(truth.nonEmpty, "no planted near-dups — spec vacuous")
    truth.foreach { p =>
      assert(byPair.get(p).contains("near_dup"), s"planted pair $p missed or misclassified")
    }
    info(s"${rows.length} candidate pairs scored; ${truth.size} planted pairs all near_dup")
  }

  test("ngram_containment caps same-anchor groups at MaxBucket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_anchor_cap").toString
    // 100+ char shared prefix => one md5(substr(text,1,100)) anchor group
    val prefixA = (1 to 20).map(i => f"alpha$i%02d").mkString(" ") // 20*8-1 = 159 chars
    val prefixB = (1 to 20).map(i => f"bravo$i%02d").mkString(" ")
    val big = (0 until 70).map(i => (1000L + i, s"$prefixA tail$i end$i extra$i"))
    val ctl = Seq((2000L, s"$prefixB tailx endx"), (2005L, s"$prefixB taily endy"))
    (big ++ ctl).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.DedupOps.ngramContainment(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the 70-doc anchor group is OVER the cap: only its adjacent-id pairs
    // survive (69 of them); the 2-doc group is under the cap and its
    // non-adjacent same-anchor pair is emitted
    assert(got.contains((2000L, 2005L)), "under-cap anchor pair missing")
    assert(!got.contains((1000L, 1050L)), "over-cap anchor pair leaked")
    assert(got.size == 69 + 1, s"expected 70 pairs, got ${got.size}")
  }

  test("simhash_neardup pair set equals brute-force Hamming <= 3 (pigeonhole-exact)") {
    val fps = SparkEntry.queries("simhash")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val truth = (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = SparkEntry.queries("simhash_neardup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == truth,
      s"missing: ${(truth -- got).take(5)}; spurious: ${(got -- truth).take(5)}")
    info(s"${truth.size} Hamming<=3 pairs, banded search exact")
  }

  test("ann_ivf recall@3 vs exact kNN ground truth >= 0.7") {
    val knn = SparkEntry.queries("knn_cosine")(spark, sf).collect()
    val ann = SparkEntry.queries("ann_ivf")(spark, sf).collect()
    val truth = knn.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rk")).take(3).map(_.getAs[Long]("vec_id")).toSet
    }
    val got = ann.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val recall = truth.map { case (q, t) =>
      t.intersect(got.getOrElse(q, Set.empty)).size.toDouble / t.size
    }.sum / truth.size
    info(f"ann_ivf recall@3 = $recall%.2f (nProbe=4 of nList=16 cells)")
    assert(recall >= 0.7, f"recall@3 $recall%.2f below floor")
  }

  test("lsh_tuning_curve: nested bands make candidates monotone; shipped config agrees") {
    import graft.ops.DedupOps
    val rows = SparkEntry.queries("lsh_tuning_curve")(spark, sf).collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")) ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_est_dup"),
          r.getAs[Double]("scurve_recall_tau"), r.getAs[Long]("n_capped_buckets"))).toMap
    assert(rows.keySet == DedupOps.TuningConfigs.toSet)
    // no bucket crosses the cap on this fixture — the precondition under
    // which the nesting guarantee below is exact (the op surfaces the
    // same fact as a column, so degraded rows are never silent)
    for ((cfg, (_, _, _, capped)) <- rows)
      assert(capped == 0L, s"fixture bucket crossed MaxBucket at $cfg")
    // band boundaries nest (b·r = 64): agreeing on a coarse band implies
    // agreeing on each of its sub-bands — assert the actual candidate
    // SETS are nested, not just their counts (a slice-offset bug could
    // fake count monotonicity with disjoint pair sets)
    val pairSets = DedupOps.TuningConfigs.map { case (b, r) =>
      DedupOps.tuningPairs(spark, sf, b, r).collect()
        .map(p => (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))).toSet
    }
    for (i <- 0 until pairSets.size - 1)
      assert(pairSets(i).subsetOf(pairSets(i + 1)),
        s"candidate sets not nested between configs $i and ${i + 1}: " +
          s"${(pairSets(i) -- pairSets(i + 1)).take(3)}")
    // and the op's aggregate counts are exactly those sets' sizes
    for (((cfg, (c, _, _, _)), s) <- rows.toSeq.sortBy(x =>
        DedupOps.TuningConfigs.indexOf(x._1)).zip(pairSets))
      assert(c == s.size.toLong, s"count/set mismatch at $cfg")
    val ordered = DedupOps.TuningConfigs.map(rows(_))
    val cands = ordered.map(_._1)
    assert(cands == cands.sorted,
      s"candidate counts not monotone across nested configs: $cands")
    // the S-curve recall is monotone in bands at fixed b·r, and extreme
    // at the ends: 4 bands of 16 rows is conservative, 32 of 2 permissive
    val sc = ordered.map(_._3)
    assert(sc == sc.sorted && sc.head < 0.1 && sc.last > 0.99,
      s"S-curve column shape wrong: $sc")
    // the shipped config's verified-duplicate count equals the shipped op
    val shipped = SparkEntry.queries("minhash_neardup")(spark, sf).count()
    assert(rows((16, 4))._2 == shipped,
      s"tuning row for the shipped (16,4) disagrees with minhash_neardup")
    // verified pairs can never exceed candidates
    for ((cfg, (c, v, _, _)) <- rows) assert(v <= c, s"$cfg")
    // the sweep is informative: the permissive end generates strictly
    // more candidates than the conservative end on this corpus
    assert(cands.last > cands.head, "no spread across configs — sweep vacuous")
  }

  test("ann_recall_curve matches a replay from the collected legs; band sane") {
    import graft.ops.SimilarityOps
    val knn = SparkEntry.queries("knn_cosine")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk")))
    // replay the curve BY DEFINITION from the two collected legs (the
    // legs themselves carry their own recall/parity specs)
    val annLeg = SimilarityOps.ivfPqTop10(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk")))
    def hitsAt(k: Int): Long = knn.count { case (q, id, rkEx) =>
      rkEx <= k && annLeg.exists(a => a._1 == q && a._2 == id && a._3 <= k)
    }.toLong
    val got = SparkEntry.queries("ann_recall_curve")(spark, sf).collect()
      .map(r => r.getAs[Int]("k") ->
        (r.getAs[Long]("n_queries"), r.getAs[Long]("hits"),
          r.getAs[Double]("recall"))).toMap
    assert(got.keySet == SimilarityOps.RecallDepths.toSet)
    val nQ = knn.map(_._1).distinct.length.toLong
    for ((k, (n, hits, recall)) <- got) {
      assert(n == nQ, s"n_queries at k=$k")
      assert(hits == hitsAt(k), s"hits replay at k=$k")
      assert(recall == hits.toDouble / (k.toLong * nQ), s"division at k=$k")
    }
    // the index genuinely finds things but is not exact search:
    // the known fixture band (SURVEY: ivfpq recall@3 ~0.77-0.87)
    assert(got(3)._3 >= 0.5, f"recall@3 ${got(3)._3}%.2f below sanity floor")
    assert(got(10)._3 > 0.0 && got(1)._3 <= 1.0)
    // hits@k is monotone non-decreasing in k (supersets of depths)
    val hs = SimilarityOps.RecallDepths.map(k => got(k)._2)
    assert(hs == hs.sorted, s"hits not monotone: $hs")
  }

  test("ann_pq recall@3 vs exact kNN ground truth >= 0.7") {
    val knn = SparkEntry.queries("knn_cosine")(spark, sf).collect()
    val ann = SparkEntry.queries("ann_pq")(spark, sf).collect()
    val truth = knn.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rk")).take(3).map(_.getAs[Long]("vec_id")).toSet
    }
    val got = ann.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val recall = truth.map { case (q, t) =>
      t.intersect(got.getOrElse(q, Set.empty)).size.toDouble / t.size
    }.sum / truth.size
    info(f"ann_pq recall@3 = $recall%.2f (M=8 subspaces, K=32 codes, C=64 re-ranked)")
    assert(recall >= 0.7, f"recall@3 $recall%.2f below floor")
  }

  test("ann_ivfpq recall@3 vs exact kNN ground truth >= 0.85") {
    val knn = SparkEntry.queries("knn_cosine")(spark, sf).collect()
    val ann = SparkEntry.queries("ann_ivfpq")(spark, sf).collect()
    val truth = knn.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rk")).take(3).map(_.getAs[Long]("vec_id")).toSet
    }
    val got = ann.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val recall = truth.map { case (q, t) =>
      t.intersect(got.getOrElse(q, Set.empty)).size.toDouble / t.size
    }.sum / truth.size
    info(f"ann_ivfpq recall@3 = $recall%.2f (probe 8/16 cells, ADC over M=8 K=32 codes)")
    assert(recall >= 0.85, f"recall@3 $recall%.2f below floor")
  }

  test("hll_partial_union weekly estimates within 5% of exact weekly distincts") {
    import org.apache.spark.sql.functions._
    val exact = graft.model.Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("week", date_trunc("DAY", col("ts"))), "yyyy-MM-dd")
        .as("week"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getAs[String]("week") -> r.getAs[Long]("n")).toMap
    val est = SparkEntry.queries("hll_partial_union")(spark, sf).collect()
      .map(r => r.getAs[String]("week") -> r.getAs[Long]("est_users")).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (w, e) =>
      val t = exact(w).toDouble
      assert(math.abs(e - t) / t <= 0.05, s"week $w: est $e vs exact $t")
    }
  }

  test("kll_partial_union weekly quantiles fall inside the exact rank neighborhood") {
    import org.apache.spark.sql.functions._
    // KLL(200) guarantees ±1.65% rank error (3-sigma); test at ±4% rank
    val sorted = graft.model.Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .groupBy(date_format(date_trunc("week", to_timestamp(col("day"))), "yyyy-MM-dd")
        .as("week"))
      .agg(collect_list(col("value")).as("vs"))
      .collect()
      .map(r => r.getAs[String]("week") ->
        r.getAs[scala.collection.Seq[Double]]("vs").toArray.sorted)
      .toMap
    def valueAt(vs: Array[Double], rank: Double): Double =
      vs(math.min(vs.length - 1, math.max(0, (rank * vs.length).toInt)))
    val est = SparkEntry.queries("kll_partial_union")(spark, sf).collect()
      .map(r => r.getAs[String]("week") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("p50_est"), r.getAs[Double]("p95_est")))
      .toMap
    assert(est.keySet == sorted.keySet)
    est.foreach { case (w, (nDays, p50, p95)) =>
      assert(nDays >= 1L)
      val vs = sorted(w)
      assert(p50 >= valueAt(vs, 0.46) && p50 <= valueAt(vs, 0.54),
        s"week $w p50 $p50 outside [${valueAt(vs, 0.46)}, ${valueAt(vs, 0.54)}]")
      assert(p95 >= valueAt(vs, 0.91) && p95 <= valueAt(vs, 0.99),
        s"week $w p95 $p95 outside [${valueAt(vs, 0.91)}, ${valueAt(vs, 0.99)}]")
    }
  }

  test("kmv_rank_union equals a straight-line DIRECT-sketch replay (merge==recompute)") {
    import org.apache.spark.sql.functions._
    val k = graft.ops.StatsOps.KmvRankK
    // raw (week, day, cent) through the SAME Spark derivations the op uses
    val rows = graft.model.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        floor(col("value") * lit(100)).cast("long").as("cent"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // straight-line SINGLE-LEVEL sketch: per week, k smallest distinct
    // cent-hashes; quantiles by exact integer rank over the sample values.
    // The op runs the two-level day→week rollup, so exact equality here
    // is the merge==recompute identity checked end-to-end.
    val expected = rows.groupBy(_._1).map { case (w, rs) =>
      val sample = rs.map(_._3).distinct
        .map(c => (md5h60(c.toString), c)).sorted.take(k).map(_._2)
      val c = sample.length
      val byVal = sample.sorted
      def pick(p: Int): Long = byVal(((c - 1) * p / 100).toInt)
      (w, (rs.map(_._2).distinct.length.toLong, c.toLong, pick(50), pick(95)))
    }
    val got = SparkEntry.queries("kmv_rank_union")(spark, sf).collect()
      .map(r => r.getAs[String]("week") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("c_sample"),
          r.getAs[Long]("p50_cent"), r.getAs[Long]("p95_cent")))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (w, e) => assert(got(w) == e, s"week $w") }
    // non-vacuity: sf0.001 keeps EVERY week below k — the exact regime
    // (sample == the full distinct-value set) is what this test pins
    assert(got.values.forall(_._2 < k), "exact-regime fixture drifted")
  }

  test("kmv_rank_union estimator regime: sample-full weeks track exact quantiles") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01" // every full week > k distinct cents
    val k = graft.ops.StatsOps.KmvRankK
    val exact = graft.model.Tables.events(spark, sf01)
      .filter(col("value").isNotNull)
      .select(
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
        floor(col("value") * lit(100)).cast("long").as("cent"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (w, rs) => w -> rs.map(_._2).sorted }
    def rankOf(vs: Array[Long], v: Long): Double =
      vs.count(_ <= v).toDouble / vs.length
    val got = SparkEntry.queries("kmv_rank_union")(spark, sf01).collect()
      .map(r => (r.getAs[String]("week"), r.getAs[Long]("c_sample"),
        r.getAs[Long]("p50_cent"), r.getAs[Long]("p95_cent")))
    // non-vacuity: the sample-full (c_sample == k) branch must fire
    assert(got.count(_._2 == k) >= 4, s"estimator regime vacuous: $got")
    got.filter(_._2 == k).foreach { case (w, _, p50, p95) =>
      // k=256 ⇒ rank sigma ≈ √(0.25/256) ≈ 3.1%; ±10% ≈ 3σ
      val vs = exact(w).toArray
      assert(math.abs(rankOf(vs, p50) - 0.50) <= 0.10,
        s"week $w p50 rank ${rankOf(vs, p50)}")
      assert(math.abs(rankOf(vs, p95) - 0.95) <= 0.10,
        s"week $w p95 rank ${rankOf(vs, p95)}")
    }
  }

  test("theta_overlap intersects signup∩purchase within 5% of exact") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, sf)
    def users(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    val su = users("signup"); val pu = users("purchase")
    val row = SparkEntry.queries("theta_overlap")(spark, sf).collect().head
    // below k=4096 distinct ids the Theta sketch is exact — the set sizes
    // at sf0.001 are, so these should land on the nose; bound at 5% anyway
    assert(math.abs(row.getAs[Double]("est_signup") - su.size) / su.size <= 0.05)
    assert(math.abs(row.getAs[Double]("est_purchase") - pu.size) / pu.size <= 0.05)
    val exact = su.intersect(pu).size.toDouble
    val est = row.getAs[Double]("est_overlap")
    info(f"theta_overlap: est $est%.1f vs exact $exact%.0f")
    assert(math.abs(est - exact) / exact <= 0.05, s"est $est vs exact $exact")
  }

  test("hll_overlap estimates signup∩purchase within 10% of exact") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, sf)
    def users(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    val exact = users("signup").intersect(users("purchase")).size.toDouble
    val row = SparkEntry.queries("hll_overlap")(spark, sf).collect().head
    val est = row.getAs[Double]("est_overlap")
    info(f"hll_overlap: est $est%.1f vs exact $exact%.0f")
    assert(math.abs(est - exact) / exact <= 0.10, s"est $est vs exact $exact")
  }

  test("ann_ivfpq_indexed returns exactly the inline ann_ivfpq result") {
    // same quantizer, codebooks and probe set — storing the index as a
    // cell-partitioned codes table must not change a single row
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Int]("rk"))
    val inline = SparkEntry.queries("ann_ivfpq")(spark, sf).collect().map(key).toSet
    val stored = SparkEntry.queries("ann_ivfpq_indexed")(spark, sf).collect().map(key).toSet
    assert(stored == inline,
      s"only-inline=${inline -- stored} only-stored=${stored -- inline}")
  }

  test("ann_index_upsert (base ∪ delta segments) answers exactly like the full rebuild") {
    // base ∪ delta = corpus and the quantizers are frozen/shared, so
    // incremental ingest must not change a single row vs inline ann_ivfpq
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Int]("rk"))
    val inline = SparkEntry.queries("ann_ivfpq")(spark, sf).collect().map(key).toSet
    val upsert = SparkEntry.queries("ann_index_upsert")(spark, sf).collect().map(key).toSet
    assert(upsert == inline,
      s"only-inline=${inline -- upsert} only-upsert=${upsert -- inline}")
  }

  test("embed_neardup pairs are exactly cosine > 0.35 among LSH candidates, with bounded misses") {
    val vecs = graft.model.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map { r =>
        r.getAs[Long]("vec_id") ->
          r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      }
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val byId = vecs.toMap
    val got = SparkEntry.queries("embed_neardup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // precision is exact by construction (candidates are re-verified with
    // exact cosine); assert it anyway to pin the verification join
    got.foreach { case (a, b) =>
      assert(cos(byId(a), byId(b)) > 0.35, s"pair ($a,$b) below threshold")
    }
    val truth = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      if cos(va, vb) > 0.35
    } yield (a, b)).toSet
    val recall =
      if (truth.isEmpty) 1.0
      else truth.intersect(got).size.toDouble / truth.size
    info(f"embed_neardup recall = $recall%.2f over ${truth.size} true pairs")
    assert(recall >= 0.5, f"recall $recall%.2f below floor (8-table sign-LSH)")
  }

  test("approx_percentile within rank-error tolerance of exact percentiles per group") {
    def byFlag(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        Seq("p50", "p90", "p99").map(c => r.getAs[Number](c).doubleValue())).toMap
    val exact = byFlag("percentiles")
    val approx = byFlag("approx_percentiles")
    assert(approx.keySet == exact.keySet)
    // GK sketch with accuracy=1000 bounds rank error at n/1000; on
    // 1..50-quantity data that is well under 2 quantity units
    exact.foreach { case (flag, e) =>
      e.zip(approx(flag)).zipWithIndex.foreach { case ((ev, av), i) =>
        assert(math.abs(ev - av) <= 2.0, s"$flag p${Seq(50, 90, 99)(i)}: exact $ev approx $av")
      }
    }
  }

  test("freq_tokens equals the exact above-support set (sketch prunes, exact pass decides)") {
    val docs = graft.model.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach(_.trim.split(" ").filter(_.nonEmpty).foreach(t => counts(t) += 1))
    val total = counts.values.sum
    val exact = counts.collect { case (t, c) if c > total * 0.01 => t -> c }.toMap
    val got = SparkEntry.queries("freq_tokens")(spark, sf).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("cnt")).toMap
    assert(got == exact,
      s"missing: ${(exact.keySet -- got.keySet).take(5)}; spurious: ${(got.keySet -- exact.keySet).take(5)}")
    info(s"${exact.size} heavy hitters, exact counts match")
  }

  test("dedup_clusters_lsh: LSH candidates + CC labeler reproduce the planted clusters") {
    // The end-to-end production pipeline (minhash_neardup -> connected
    // components) must agree with ground truth computed from EXACT Jaccard
    // over all pairs: brute-force the J >= 0.7 planted-near-dup graph,
    // take its connected components, and demand dedup_clusters_lsh
    // recovers exactly those components (LSH recall on planted pairs is
    // 1.0 by construction — ~0.9 true Jaccard vs a 0.5 banding threshold).
    // Docs the LSH layer cannot see (< 3 words => no shingles) are
    // exempt: they are singletons in both worlds.
    val ids = shingleSets.keys.toSeq.sorted
    val truePairs = for {
      i <- ids; j <- ids if i < j
      if shingleSets(i).nonEmpty && jaccard(shingleSets(i), shingleSets(j)) >= 0.7
    } yield (i, j)
    assert(truePairs.nonEmpty, "no planted near-dups at sf0.001 — spec vacuous")
    // union-find over the exact pair graph
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    truePairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val truthClusters = ids.groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet
    val got = SparkEntry.queries("dedup_clusters_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val gotClusters = got.groupBy(_._2).values.map(_.map(_._1).toSet)
      .filter(_.size > 1).toSet
    // every planted component must be recovered exactly; spurious merges
    // (background pairs passing the estimator cut) would surface as extra
    // or enlarged clusters
    assert(gotClusters == truthClusters,
      s"missing: ${(truthClusters -- gotClusters).take(3)}; " +
        s"spurious: ${(gotClusters -- truthClusters).take(3)}")
    // canonical survivor: each cluster is labeled by its min doc_id
    got.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.map(_._1).min, s"cluster $label not min-labeled")
    }
    info(s"${truthClusters.size} planted clusters recovered exactly via LSH")
  }

  test("approx_distinct within 5% of exact count_distinct per group") {
    val exact = SparkEntry.queries("count_distinct")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users")).toMap
    val approx = SparkEntry.queries("approx_distinct")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users")).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n) <= math.max(1L, (0.05 * n).toLong),
        s"$k: approx $a vs exact $n (>5%)")
    }
  }

  test("profile_columns_approx: KMV estimates equal a straight-line replay; both regimes fire") {
    // sf0.01 deliberately: event_id/ts/user_id exceed k=1024 distinct (the
    // ESTIMATOR branch), event_type has 5 (the EXACT-regime branch) — both
    // sides of the finish() gate are non-vacuous here.
    val sf01 = "/root/testdata/sf0.01"
    val K = graft.ops.QualityOps.ProfileKmvK
    def key(r: org.apache.spark.sql.Row) = r.getAs[String]("col_name")
    val exact = SparkEntry.queries("profile_columns")(spark, sf01).collect()
      .map(r => key(r) -> r).toMap
    val approx = SparkEntry.queries("profile_columns_approx")(spark, sf01).collect()
      .map(r => key(r) -> r).toMap
    assert(approx.keySet == exact.keySet)

    // straight-line KMV replay: md5 via MessageDigest over the SAME
    // renderings, k smallest distinct 60-bit prefixes, same closed form
    val rows = graft.model.Tables.events(spark, sf01)
      .selectExpr("event_id", "unix_micros(ts) AS ts_us", "user_id",
        "event_type", "CAST(CAST(value AS DECIMAL(18,2)) AS STRING) AS value_s",
        "props")
      .collect()
    val rendered: Map[String, Seq[String]] = Map(
      "event_id" -> rows.map(r => Option(r.get(0)).map(_.toString).orNull),
      "ts" -> rows.map(r => Option(r.get(1)).map(_.toString).orNull),
      "user_id" -> rows.map(r => Option(r.get(2)).map(_.toString).orNull),
      "event_type" -> rows.map(_.getAs[String]("event_type")),
      "value" -> rows.map(_.getAs[String]("value_s")),
      "props" -> rows.map(_.getAs[String]("props"))).view.mapValues(_.toSeq).toMap

    var exactRegime = 0; var estRegime = 0
    exact.foreach { case (k, e) =>
      val a = approx(k)
      // non-sketch columns are bit-identical to the exact profiler
      assert(a.getAs[Long]("n_rows") == e.getAs[Long]("n_rows"), k)
      assert(a.getAs[Long]("n_nulls") == e.getAs[Long]("n_nulls"), k)
      assert(a.getAs[String]("min_value") == e.getAs[String]("min_value"), k)
      assert(a.getAs[String]("max_value") == e.getAs[String]("max_value"), k)
      val n = e.getAs[Long]("n_distinct")
      val est = a.getAs[Double]("n_distinct_est")
      // DETERMINISTIC ground truth: bit-identical to the replay
      assert(est == kmvReplay(rendered(k), K), s"$k: engine $est != replay")
      if (n < K) {
        exactRegime += 1
        assert(est == n.toDouble, s"$k: exact regime must report $n, got $est")
      } else {
        estRegime += 1
        assert(math.abs(est - n) <= math.max(1.0, 0.10 * n),
          s"$k: estimate $est vs exact $n (>10%)")
      }
    }
    assert(exactRegime > 0 && estRegime > 0,
      s"both regimes must fire (exact=$exactRegime est=$estRegime)")
  }

  test("kmv_distinct: engine equals straight-line replay; estimator and exact regimes both fire") {
    val sf01 = "/root/testdata/sf0.01"
    val K = graft.ops.StatsOps.KmvDistinctK
    val base = graft.model.Tables.events(spark, sf01)
      .selectExpr("event_type", "CAST(user_id AS STRING) AS u",
        "date_format(ts, 'yyyy-MM-dd') AS d")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val rows = SparkEntry.queries("kmv_distinct")(spark, sf01).collect()
    assert(rows.nonEmpty)
    var estRegime = 0; var exactRegime = 0
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val grp = base.filter(_._1 == et)
      assert(r.getAs[Long]("n_events") == grp.length.toLong, et)
      val uest = r.getAs[Double]("n_users_est")
      val dest = r.getAs[Double]("n_days_est")
      assert(uest == kmvReplay(grp.map(_._2).toSeq, K), s"$et users")
      assert(dest == kmvReplay(grp.map(_._3).toSeq, K), s"$et days")
      val trueUsers = grp.map(_._2).distinct.length
      val trueDays = grp.map(_._3).distinct.length
      if (trueUsers >= K) { // estimator regime: sanity envelope only
        estRegime += 1
        assert(math.abs(uest - trueUsers) <= math.max(2.0, 0.5 * trueUsers),
          s"$et: $uest vs $trueUsers")
      }
      if (trueDays < K) { // exact regime: must equal the true count
        exactRegime += 1
        assert(dest == trueDays.toDouble, s"$et: days $dest != $trueDays")
      }
    }
    assert(estRegime > 0 && exactRegime > 0,
      s"both regimes must fire (est=$estRegime exact=$exactRegime)")
  }

  test("md5_prefix60 kernel == conv(substr(md5)) composed form, on real fixture strings") {
    // every props/event_type string at sf0.001, plus edge literals, through
    // BOTH derivations in one plan — any divergence fails the equality
    val bad = graft.model.Tables.events(spark, sf)
      .selectExpr("props AS s")
      .union(spark.sql("SELECT '' AS s UNION ALL SELECT ' ' UNION ALL " +
        "SELECT 'héllo→🚀' UNION ALL SELECT repeat('x', 10000)"))
      .filter("s IS NOT NULL")
      .selectExpr("s", "md5_prefix60(s) AS fast",
        "CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) AS composed")
      .filter("fast != composed OR fast IS NULL OR fast < 0")
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString(", "))
  }

  test("kmv_partial_union: day-merged sketches equal the raw weekly replay at both SFs") {
    val K = graft.ops.StatsOps.KmvDistinctK
    var estRegime = 0; var exactRegime = 0
    for (fix <- Seq(sf, "/root/testdata/sf0.01")) {
      val base = graft.model.Tables.events(spark, fix)
        .selectExpr("date_format(date_trunc('week', ts), 'yyyy-MM-dd') AS w",
          "CAST(user_id AS STRING) AS u", "date_trunc('DAY', ts) AS d")
        .collect().map(r => (r.getString(0), r.getString(1), r.get(2).toString))
      val rows = SparkEntry.queries("kmv_partial_union")(spark, fix).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val w = r.getAs[String]("week")
        val grp = base.filter(_._1 == w)
        assert(r.getAs[Long]("n_days") == grp.map(_._3).distinct.length.toLong, w)
        // the engine went DAY partials -> weekly merge; the replay goes
        // straight from raw weekly users — equality IS merge==recompute
        val est = r.getAs[Double]("est_users")
        assert(est == kmvReplay(grp.map(_._2).toSeq, K), s"$fix $w")
        val nd = grp.map(_._2).distinct.length
        if (nd < K) { exactRegime += 1; assert(est == nd.toDouble, w) }
        else estRegime += 1
      }
    }
    assert(estRegime > 0 && exactRegime > 0,
      s"both regimes must fire across fixtures (est=$estRegime exact=$exactRegime)")
  }

  test("kmv_overlap: engine equals the straight-line overlap; partial overlap non-vacuous") {
    import graft.ops.StatsOps
    val K = StatsOps.KmvDistinctK
    def kminState(users: Seq[String]): Array[Long] = {
      val hs = users.map(md5h60).distinct.sorted.take(K)
      val b = new Array[Long](hs.length + 1)
      b(0) = hs.length
      hs.zipWithIndex.foreach { case (h, i) => b(i + 1) = h }
      b
    }
    var estRegime = 0; var exactRegime = 0; var partial = 0
    for (fix <- Seq(sf, "/root/testdata/sf0.01")) {
      val p = graft.model.Tables.events(spark, fix)
        .filter(s"event_type = 'purchase'")
        .selectExpr("CAST(user_id AS STRING) AS u", "ts").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)))
      val earlyEnd = java.sql.Timestamp.valueOf(StatsOps.KmvOverlapEarlyEnd)
      val lateStart = java.sql.Timestamp.valueOf(StatsOps.KmvOverlapLateStart)
      val ea = p.filter(_._2.before(earlyEnd)).map(_._1).toSeq
      val la = p.filter(x => !x._2.before(lateStart)).map(_._1).toSeq
      val (na, nb, nu, sh, j, inter) =
        graft.functions.KmvSketch.overlap(kminState(ea), kminState(la), K)
      val r = SparkEntry.queries("kmv_overlap")(spark, fix).collect()(0)
      assert(r.getAs[Double]("est_early") == na, fix)
      assert(r.getAs[Double]("est_late") == nb, fix)
      assert(r.getAs[Double]("est_union") == nu, fix)
      assert(r.getAs[Long]("shared_k") == sh, fix)
      assert(r.getAs[Double]("jaccard_est") == j, fix)
      assert(r.getAs[Double]("est_overlap") == inter, fix)
      // ground truth sanity: estimate within 25% of the true intersection
      val trueInter = (ea.toSet intersect la.toSet).size
      assert(math.abs(inter - trueInter) <= math.max(2.0, 0.25 * trueInter),
        s"$fix: $inter vs true $trueInter")
      val unionTrue = (ea.toSet union la.toSet).size
      if (unionTrue < K) { exactRegime += 1; assert(inter == trueInter.toDouble, fix) }
      else estRegime += 1
      if (j < 1.0 && sh > 0) partial += 1
    }
    assert(estRegime > 0 && exactRegime > 0 && partial > 0,
      s"regimes est=$estRegime exact=$exactRegime partial=$partial — spec vacuous")
  }

  test("KmvSketch state is merge-order and partitioning independent") {
    val agg = new graft.functions.KmvSketch(16)
    val rnd = new scala.util.Random(42)
    // 200 values with duplicates, > k distinct
    val vals = Array.fill(200)(java.lang.Long.valueOf(rnd.nextLong(50) * 7919L))
    def run(groups: Seq[Seq[java.lang.Long]], mergeOrder: Seq[Int]): Double = {
      val partials = groups.map(g => g.foldLeft(agg.zero)(agg.reduce))
      val merged = mergeOrder.map(partials).reduce(agg.merge)
      agg.finish(merged)
    }
    val single = run(Seq(vals.toSeq), Seq(0))
    // different partitionings and merge orders all agree
    for (nParts <- Seq(2, 3, 7); seed <- Seq(1, 9)) {
      val shuffled = new scala.util.Random(seed).shuffle(vals.toSeq)
      val groups = shuffled.grouped((vals.length + nParts - 1) / nParts).toSeq
      val fwd = run(groups, groups.indices)
      val rev = run(groups, groups.indices.reverse)
      assert(fwd == single && rev == single,
        s"nParts=$nParts seed=$seed: $fwd / $rev != $single")
    }
    // exact regime boundary: k-1 distinct values report exactly k-1
    val few = (1L to 15L).map(java.lang.Long.valueOf)
    assert(agg.finish(few.foldLeft(agg.zero)(agg.reduce)) == 15.0)
    // nulls are skipped, matching COUNT(DISTINCT)
    val withNull = agg.reduce(few.foldLeft(agg.zero)(agg.reduce), null)
    assert(agg.finish(withNull) == 15.0)
  }

  test("freq_topk_sketch bounds contain exact counts; top exact tokens all reported") {
    val exact: Map[String, Long] = graft.model.Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getAs[String]("text").trim.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val rows = SparkEntry.queries("freq_topk_sketch")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, est, lb, ub) = (r.getAs[String]("term"), r.getAs[Long]("est"),
        r.getAs[Long]("lb"), r.getAs[Long]("ub"))
      val n = exact.getOrElse(t, 0L)
      assert(lb <= n && n <= ub, s"$t: exact $n outside [$lb, $ub]")
      // 8192-slot map never purges at sf0.001 — estimates are exact here
      assert(est == n, s"$t: est $est != exact $n (unexpected purge)")
    }
    val reported = rows.map(_.getAs[String]("term")).toSet
    val top5 = exact.toSeq.sortBy { case (t, n) => (-n, t) }.take(5).map(_._1)
    top5.foreach(t => assert(reported(t), s"true heavy hitter '$t' missing"))
  }

  test("kcore_nodes exactly equals straight-line Scala peeling (set and degrees)") {
    val li = graft.model.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val k = 65
    var live = edges.flatMap(e => Seq(e._1, e._2))
    var done = false
    while (!done) {
      val sub = edges.filter(e => live(e._1) && live(e._2))
      val deg = sub.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, a) => v -> a.size }
      val next = deg.filter(_._2 >= k).keySet
      done = next == live
      live = next
    }
    val finalDeg = edges.filter(e => live(e._1) && live(e._2)).toSeq
      .flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (v, a) => v -> a.size.toLong }
    assert(finalDeg.nonEmpty, "65-core empty at sf0.001 — spec vacuous")
    assert(finalDeg.size < edges.flatMap(e => Seq(e._1, e._2)).size,
      "no node peeled — k outside the degree distribution, spec vacuous")
    val got = SparkEntry.queries("kcore_nodes")(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    assert(got == finalDeg,
      s"engine ${got.size} nodes vs truth ${finalDeg.size}")
  }

  test("pagerank: exact fixed-point replay, and 1e-9 of the float power iteration") {
    val li = graft.model.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (s"p${r.getAs[Long]("l_partkey")}", s"s${r.getAs[Long]("l_suppkey")}"))
    val edges = (li ++ li.map(_.swap)).distinct
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val nodes = out.keys.toSeq.sorted
    val n = nodes.size

    // (a) exact ground truth: the identical fixed-point algorithm
    // (1e-17-unit BIGINT ranks, integer divisions) straight-line in Scala
    val Scale = 100000000000000000L
    val tele = (3L * Scale / 20L) / n
    var fp = nodes.map(_ -> Scale / n).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      out.foreach { case (s, dsts) =>
        val c = fp(s) / dsts.size
        dsts.foreach(dst => contrib(dst) += c)
      }
      fp = nodes.map(v => v -> (tele + 17L * contrib(v) / 20L)).toMap
    }

    // (b) float power iteration — the fixed-point truncation (< indeg
    // units of 1e-17 per node per round) must stay within 1e-9 relative
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
      out.foreach { case (s, dsts) =>
        val c = rank(s) / dsts.size
        dsts.foreach(dst => contrib(dst) += c)
      }
      rank = nodes.map(v => v -> (0.15 / n + 0.85 * contrib(v))).toMap
    }

    val got = SparkEntry.queries("pagerank")(spark, sf).collect()
      .map(r => (r.getAs[String]("node"), r.getAs[Long]("rank_fp"),
        r.getAs[Double]("rank")))
    assert(got.length == 30)
    got.foreach { case (v, rfp, r) =>
      assert(rfp == fp(v), s"$v: engine fp $rfp vs truth ${fp(v)}")
      assert(r == rfp.toDouble / 1e17, s"$v: double readout not fp/1e17")
      val e = rank(v)
      assert(math.abs(r - e) <= 1e-9 * math.max(e, 1e-300), s"$v: engine $r vs float truth $e")
    }
    // the reported 30 are the true top-30 under (rank_fp desc, node asc) —
    // fixed-point plateaus tie EXACTLY, so the boundary set is
    // deterministic without any quantization step
    val trueTop = fp.toSeq.sortBy { case (v, r) => (-r, v) }.take(30).map(_._1)
    assert(got.map(_._1).toSeq == trueTop, "top-30 set/order mismatch")
  }
}
