package graft

import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

import graft.streaming.OhlcvStream

/** Batch operator specs: every registered query executes at sf0.001, core
  * queries return rows, and the OHLCV aggregation satisfies its algebraic
  * invariants on randomized inputs (SURVEY.md §5 test strategy).
  */
class BatchOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Queries whose optimized plan holds a window with no PARTITION BY:
    * every row of such a window runs through one task. The walk sees the
    * plan each build returns, not windows inside sub-frames that
    * `Tables.ckpt` checkpointed eagerly while the frame was built.
    */
  private val UnpartitionedWindows = Set("cv_folds", "decile_drift",
    "dp_topk", "ks_test", "link_prediction", "mannwhitney_u", "pareto_front",
    "pr_curve", "revenue_concentration", "roc_auc", "source_mix",
    "survival_curve", "t_closeness", "top_paths", "wow_growth")

  test("every registered query executes at sf0.001") {
    // noop write, not count(): count() prunes every column it does not
    // need, so a throwing projection would go unevaluated
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val viewsBefore = tempViews()
    val unpartitioned = Set.newBuilder[String]
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        df.write.mode("overwrite").format("noop").save()
        if (df.queryExecution.optimizedPlan.collectWithSubqueries {
              case w: Window if w.partitionSpec.isEmpty => w
            }.nonEmpty) unpartitioned += name
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(unpartitioned.result() == UnpartitionedWindows)
    // a build binds its temp views only while its SQL is analyzed
    val leaked = tempViews() -- viewsBefore
    assert(leaked.isEmpty, leaked.toSeq.sorted.mkString(", "))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("core queries are non-empty at sf0.001") {
    val core = Seq("ohlcv_1min", "agg_groupby", "join_inner", "topk_rank",
      "text_stats", "token_count", "knn_cosine", "dedup_exact")
    core.foreach { name =>
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, s"$name empty")
    }
  }

  test("registry names are unique and exactly the pinned queries are rows-only") {
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
    val rowsOnly = SparkEntry.registry.collect {
      case SparkEntry.QuerySpec(name, _, _: SparkEntry.RowsOnly) => name
    }.toSet
    assert(rowsOnly == Set("ann_index_upsert", "ann_ivf", "ann_ivfpq",
      "ann_ivfpq_indexed", "ann_lsh", "ann_pq", "ann_recall_curve",
      "approx_distinct", "approx_percentiles", "audio_fingerprint",
      "compression_ratio", "containment_lsh", "dedup_clusters_lsh",
      "embed_neardup", "hll_overlap", "hll_partial_union", "kll_partial_union",
      "lsh_tuning_curve", "media_phash_dedup", "minhash_neardup",
      "quality_classifier", "semdedup", "simhash", "simhash_neardup",
      "unigram_train"))
  }

  test("OHLCV invariants hold on randomized trades") {
    import spark.implicits._
    val T0 = 1705276800000L
    for (seed <- Seq(1, 42, 2024)) {
      val rnd = new Random(seed)
      val syms = Array("AAA", "BBB", "CCC")
      val trades = (1 to 2000).map { i =>
        (i.toLong, syms(rnd.nextInt(3)),
          (50 + rnd.nextInt(10000) / 100.0).toString,
          (1 + rnd.nextInt(500) / 100.0).toString,
          T0 + rnd.nextInt(600000).toLong, rnd.nextBoolean())
      }
      val df = trades.toDF("trade_id", "symbol", "price", "quantity",
        "trade_time", "is_buyer_maker")
        .withColumn("price", col("price").cast("decimal(20,8)"))
        .withColumn("quantity", col("quantity").cast("decimal(20,8)"))
        .withColumn("trade_time", timestamp_millis(col("trade_time")))
        .withColumn("trade_value", col("price") * col("quantity"))
      val agg = OhlcvStream.ohlcv(df).collect()
      assert(agg.nonEmpty)
      agg.foreach { r =>
        def d(c: String) = r.getAs[java.math.BigDecimal](c).doubleValue()
        assert(d("low_price") <= d("open_price") && d("open_price") <= d("high_price"), r.toString)
        assert(d("low_price") <= d("close_price") && d("close_price") <= d("high_price"), r.toString)
        assert(d("low_price") - 1e-9 <= d("vwap") && d("vwap") <= d("high_price") + 1e-9, r.toString)
        assert(d("total_volume") > 0)
        // tumbling windows: start is minute-aligned, end = start + 1 min
        val ws = r.getAs[Timestamp]("window_start").getTime
        val we = r.getAs[Timestamp]("window_end").getTime
        assert(ws % 60000 == 0 && we - ws == 60000)
      }
      // volume conservation: sum over windows = sum over input
      val aggVol = agg.map(_.getAs[java.math.BigDecimal]("total_volume").doubleValue()).sum
      val inVol = df.agg(sum("quantity")).collect()(0).getDecimal(0).doubleValue()
      assert(math.abs(aggVol - inVol) < 1e-6)
    }
  }

  test("dedup_exact keeps exactly one row per (user_id, event_type)") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf)
    assert(out.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("topk_rank emits at most 3 rows per customer, rank-ordered by price") {
    val out = SparkEntry.queries("topk_rank")(spark, sf).collect()
    val byCust = out.groupBy(_.getAs[Long]("o_custkey"))
    byCust.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      val prices = sorted.map(_.getAs[Number]("o_totalprice").doubleValue())
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("minhash est_jaccard is within [0,1] and pairs are ordered") {
    val rows = SparkEntry.queries("minhash_neardup")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("est_jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("ann_lsh recall@3 vs exact kNN ground truth") {
    val knn = SparkEntry.queries("knn_cosine")(spark, sf).collect()
    val ann = SparkEntry.queries("ann_lsh")(spark, sf).collect()
    val truth = knn.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rk")).take(3).map(_.getAs[Long]("vec_id")).toSet
    }
    val got = ann.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val recall = truth.map { case (q, t) =>
      t.intersect(got.getOrElse(q, Set.empty)).size.toDouble / t.size
    }.sum / truth.size
    info(f"ann_lsh recall@3 = $recall%.2f (deterministic: hash-based LSH)")
    assert(recall >= 0.5, f"recall@3 $recall%.2f below floor")
  }

  test("knn_cosine returns exactly 10 ranked neighbors per query vector") {
    val rows = SparkEntry.queries("knn_cosine")(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.length == 10)
      val cos = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("scd2_history partitions the event stream exactly") {
    val rows = SparkEntry.queries("scd2_history")(spark, sf).collect()
    // intervals cover every event exactly once
    val totalEvents = graft.model.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == totalEvents)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      // exactly one open (current) interval per user
      assert(rs.count(_.getAs[Boolean]("is_current")) == 1, s"user $u")
      // run ids are contiguous from 1 and adjacent intervals chain
      val sorted = rs.sortBy(_.getAs[Long]("run_id"))
      assert(sorted.map(_.getAs[Long]("run_id")).toSeq == (1L to rs.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("valid_to") == b.getAs[String]("valid_from"))
          // consecutive runs hold different states by construction
          assert(a.getAs[String]("state") != b.getAs[String]("state"))
        case _ => ()
      }
    }
  }

  test("length_band_filter keeps exactly the middle 90% of each stratum") {
    val expected = graft.model.Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getAs[String]("lang") ->
        (95 * r.getAs[Long]("count") / 100 - 5 * r.getAs[Long]("count") / 100))
      .toMap
    val got = SparkEntry.queries("length_band_filter")(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_kept")).toMap
    assert(got == expected)
  }

  test("mix_rebalance keeps under-share sources whole and only shrinks over-share ones") {
    val rows = SparkEntry.queries("mix_rebalance")(spark, sf).collect()
    val k = rows.length
    val total = rows.map(_.getAs[Long]("n_orig")).sum
    rows.foreach { r =>
      val (orig, kept) = (r.getAs[Long]("n_orig"), r.getAs[Long]("n_kept"))
      assert(kept <= orig)
      // rate 1 exactly when even the last bucket (99) passes the cross-multiply
      if (99L * k * orig < 100L * total) assert(kept == orig, r.toString)
    }
  }

  test("merge_full_triad exercises update, insert, keep and delete fates") {
    val base = graft.model.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 10 < 8)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sourceKeys = graft.model.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 10 >= 5)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val out = SparkEntry.queries("merge_full_triad")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // WHEN MATCHED / NOT MATCHED: every source key survives, marked UPDATED
    sourceKeys.foreach(k => assert(out(k) == "UPDATED", s"source key $k"))
    // NOT MATCHED BY SOURCE + cond: urgent base-only rows are deleted,
    // every other base-only row is kept verbatim
    val baseOnly = base.view.filterKeys(k => !sourceKeys.contains(k))
    val deleted = baseOnly.filter(_._2 == "1-URGENT").keys
    val kept = baseOnly.filter(_._2 != "1-URGENT")
    assert(deleted.nonEmpty, "fixture must contain urgent base-only rows")
    deleted.foreach(k => assert(!out.contains(k), s"key $k not deleted"))
    kept.foreach { case (k, pri) => assert(out(k) == pri, s"key $k changed") }
    assert(out.size == sourceKeys.size + kept.size)
  }

  test("incremental_agg_merge equals a direct full aggregation") {
    val merged = SparkEntry.queries("incremental_agg_merge")(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    val full = graft.model.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("s"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("s"))).toMap
    assert(merged == full)
  }

  test("label_centroids covers every (label, dim<8) cell with exact quantized means") {
    val rows = SparkEntry.queries("label_centroids")(spark, sf).collect()
    val perLabel = graft.model.Tables.embeddings(spark, sf)
      .groupBy(col("label")).count().collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("count")).toMap
    assert(rows.length == perLabel.size * 8)
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == perLabel(r.getAs[Int]("label")))
      val c = r.getAs[Double]("centroid")
      assert(c == r.getAs[Long]("sum_q").toDouble / r.getAs[Long]("n") / 1000000.0)
      assert(math.abs(c) <= 1.0)
    }
  }

  test("passage_dedup equals a driver-side exact recompute of repeated windows") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val windows = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        r.getAs[String]("text").trim.split(" ")
          .grouped(20).filter(_.length == 20)
          .map(w => (r.getAs[Long]("doc_id"), md5hex(w.mkString(" "))))
      }
    val expected = windows.groupBy(_._2)
      .collect { case (h, occ) if occ.length >= 2 =>
        h -> (occ.length.toLong, occ.map(_._1).distinct.length.toLong) }
    val got = SparkEntry.queries("passage_dedup")(spark, sf).collect()
      .map(r => r.getAs[String]("h") ->
        (r.getAs[Long]("n_occ"), r.getAs[Long]("n_docs"))).toMap
    assert(got == expected.toMap)
  }

  test("zvalue interleave round-trips: odd bits decode to x, even bits to y") {
    import spark.implicits._
    val rnd = new Random(7)
    val pairs = Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val rows = pairs.toDF("x", "y")
      .withColumn("z", expr(graft.ops.StorageOps.zvalueSql("x", "y")))
      .collect()
    rows.foreach { r =>
      val (x, y, z) = (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Long]("z"))
      val xBack = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      val yBack = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
      assert(xBack == x && yBack == y, s"($x,$y) -> $z -> ($xBack,$yBack)")
    }
  }

  test("autocorr_lag1 is a valid correlation and matches a driver-side recompute") {
    val rows = SparkEntry.queries("autocorr_lag1")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Double]("autocorr")
      assert(a >= -1.0 && a <= 1.0, r.toString)
    }
    // recompute one symbol from the candle frame directly
    val sym = rows.head.getAs[String]("symbol")
    val closes = graft.ops.AggOps.ohlcv1min(spark, sf)
      .filter(col("symbol") === sym).orderBy(col("window_start"))
      .collect().map(r => math.round(r.getAs[Double]("close_price") * 100))
    val (xs, ys) = (closes.drop(1), closes.dropRight(1))
    val n = xs.length.toDouble
    def s(v: Array[Long]) = v.sum.toDouble
    val r0 = (n * xs.zip(ys).map { case (a, b) => a * b }.sum - s(xs) * s(ys)) /
      (math.sqrt(n * xs.map(v => v * v).sum - s(xs) * s(xs)) *
       math.sqrt(n * ys.map(v => v * v).sum - s(ys) * s(ys)))
    val got = rows.find(_.getAs[String]("symbol") == sym).get.getAs[Double]("autocorr")
    assert(math.abs(got - r0) < 1e-9, s"$sym: $got vs $r0")
  }

  test("sql_q18 returns only above-threshold orders, price-descending, at most 20") {
    val rows = SparkEntry.queries("sql_q18")(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("total_qty") > 250.0))
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("rolling_active_users dominates the daily count and is capped by the week's union") {
    val daily = graft.model.Tables.events(spark, sf)
      .select(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("d"),
        col("user_id"))
      .distinct().collect()
      .groupBy(_.getAs[Int]("d"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("user_id")).toSet }
    val rolling = SparkEntry.queries("rolling_active_users")(spark, sf).collect()
      .map(r => r.getAs[Int]("day") -> r.getAs[Long]("active_7d")).toMap
    assert(rolling.keySet == daily.keySet)
    rolling.foreach { case (day, a7) =>
      val weekUnion = (day - 6 to day).flatMap(d => daily.getOrElse(d, Set.empty)).toSet
      assert(a7 == weekUnion.size, s"day $day")
    }
  }

  test("oov_rate is a valid fraction and zero when the vocabulary covers the test split") {
    val rows = SparkEntry.queries("oov_rate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, oov) = (r.getAs[Long]("n_test_tokens"), r.getAs[Long]("n_oov"))
      assert(oov >= 0 && oov <= n)
      assert(r.getAs[Double]("oov_rate") == oov.toDouble / n)
    }
  }

  test("lateral_topn yields each customer's top-2 orders") {
    val rows = SparkEntry.queries("lateral_topn")(spark, sf).collect()
    val byCust = rows.groupBy(_.getAs[Long]("c_custkey"))
    byCust.foreach { case (_, rs) => assert(rs.length <= 2) }
    // spot-check against a direct max per customer
    val maxes = graft.model.Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(max(col("o_totalprice")).as("mx"))
      .collect().map(r => r.getAs[Long]("o_custkey") -> r.getAs[Double]("mx")).toMap
    maxes.foreach { case (c, mx) =>
      val top = byCust(c).map(_.getAs[Double]("o_totalprice")).max
      assert(top == mx, s"cust $c top $top != $mx")
    }
  }

  private def eventStream(): Map[Long, Array[(Long, Long, String)]] =
    graft.model.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp]("ts")
        val us = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
        (r.getAs[Long]("user_id"), us, r.getAs[Long]("event_id"),
          r.getAs[String]("event_type"))
      }
      .groupBy(_._1)
      .map { case (u, rows) =>
        u -> rows.map(x => (x._2, x._3, x._4)).sortBy(x => (x._1, x._2))
      }

  test("event_transitions matches a driver-side replay of each user's stream") {
    val bigrams = eventStream().values.flatMap { s =>
      s.map(_._3).sliding(2).collect { case Array(a, b) => (a, b) }
    }.toSeq
    val counts = bigrams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val fromTotals = bigrams.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expected = counts.map { case ((f, t), n) =>
      (f, t) -> (n, n.toDouble / fromTotals(f).toDouble)
    }
    val got = SparkEntry.queries("event_transitions")(spark, sf).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        (r.getAs[Long]("n_trans"), r.getAs[Double]("p_trans"))).toMap
    assert(got == expected)
  }

  test("attribution_last_touch credits only strictly-preceding clicks, exactly") {
    val utc = java.time.ZoneOffset.UTC
    val perPurchase = eventStream().values.flatMap { s =>
      var lastClick = Option.empty[Long]
      s.flatMap { case (us, _, typ) =>
        // evaluate the credit BEFORE this row joins the lookback frame
        val credit = if (typ == "purchase") {
          val day = java.time.Instant.ofEpochSecond(us / 1000000L)
            .atZone(utc).toLocalDate.toString
          Some((day, lastClick.map(us - _)))
        } else None
        if (typ == "click") lastClick = Some(us)
        credit
      }
    }.toSeq
    val expected = perPurchase.groupBy(_._1).map { case (day, ps) =>
      val gaps = ps.flatMap(_._2)
      val avg = if (gaps.isEmpty) None
                else Some(gaps.sum.toDouble / gaps.size.toDouble)
      day -> (ps.size.toLong, gaps.size.toLong, avg)
    }
    val got = SparkEntry.queries("attribution_last_touch")(spark, sf).collect()
      .map { r =>
        val avg = if (r.isNullAt(r.fieldIndex("avg_gap_us"))) None
                  else Some(r.getAs[Double]("avg_gap_us"))
        r.getAs[String]("day") ->
          (r.getAs[Long]("n_purchases"), r.getAs[Long]("n_attributed"), avg)
      }.toMap
    assert(got == expected)
  }

  test("span_corruption matches a driver-side mask + island-merge replay") {
    // the deterministic mask rule and islands merge, replayed in plain Scala
    def bucket(docId: Long, pos: Long): Long =
      ((docId % 1000000007L) * 1000003L + pos) % 1000000007L * 2654435761L %
        1000000007L % 100L
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        val n = SparkSuite.sqlTrim(r.getString(1)).split(" ", -1).length.toLong
        val masked = (1L to n).filter(p => bucket(id, p) < 15)
        val spans = masked.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: tail, p) if p == e + 1 => (s, p) :: tail
          case (acc, p) => (p, p) :: acc
        }
        id -> (n, masked.size.toLong, spans.size.toLong,
          n - masked.size + spans.size)
      }.toMap
    val got = SparkEntry.queries("span_corruption")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(5)))).toMap
    assert(got == expected)
    // corpus-wide mask rate hovers at the 15% target
    val (m, t) = expected.values.foldLeft((0L, 0L)) {
      case ((am, at), (n, nm, _, _)) => (am + nm, at + n)
    }
    val rate = m.toDouble / t
    assert(rate > 0.12 && rate < 0.18, s"corpus mask rate $rate far from 0.15")
  }
}
