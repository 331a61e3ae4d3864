package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{IndicatorOps, QualityOps, StatsOps}

/** Ground-truth and degenerate-input coverage for the round-7 additions:
  * the MACD/channel/volatility/beta indicator family, the Benford/Gini/FK
  * data-quality audits, and the deterministic robust-center aggregate.
  * Brute-force recomputations run driver-side over collected rows — an
  * independent code path from the window/aggregate plans under test.
  */
class RobustOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private val T0 = 1705276800000L // 2024-01-15 00:00:00 UTC

  /** Same corpus shape as IndicatorEdgeSpec: FLAT (constant price), ONE
    * (single candle), MIX (deterministic walk). No `purchase` symbol —
    * benchmark-relative ops must degrade to empty output, not abort.
    */
  private lazy val edgeDir: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("robust_edge").toString
    def ev(id: Long, sym: String, minute: Int, price: Double) =
      (id, new Timestamp(T0 + minute * 60000L), id % 7, sym, price, """{"k": 5}""")
    val flat = (0 until 45).map(m => ev(1000L + m, "FLAT", m, 100.00))
    val one = Seq(ev(2000L, "ONE", 0, 50.00))
    val mix = (0 until 45).map(m =>
      ev(3000L + m, "MIX", m, 100.00 + (m % 7) - 3 + 0.25 * (m % 4)))
    (flat ++ one ++ mix)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("macd: flat series is identically zero on all three outputs") {
    val rows = IndicatorOps.macd(spark, edgeDir)
      .filter(col("symbol") === "FLAT").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) === 0.0 && r.getDouble(3) === 0.0 &&
        r.getDouble(4) === 0.0, r)
    }
  }

  test("macd on the real fixture matches a driver-side sliding-window recompute") {
    val bysym = IndicatorOps.macd(spark, sf).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), (r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // recompute from the same candle definition: 1-min arg_max-close cents
    val c = graft.ops.AggOps.ohlcv1min(spark, sf)
      .select(col("symbol"), col("window_start"),
        round(col("close_price") * 100).cast("long").as("x"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.sortBy(_._2.getTime) }
    var checked = 0
    c.foreach { case (sym, rows) =>
      val xs = rows.map(_._3)
      for (i <- rows.indices) {
        if (i >= 33) { // 26-window full from i>=25; signal needs 8 more
          val macdNum = (j: Int) =>
            26L * xs.slice(j - 11, j + 1).sum - 12L * xs.slice(j - 25, j + 1).sum
          val m = macdNum(i)
          val sig = (i - 8 to i).map(macdNum).sum
          val exp = (m.toDouble / 312.0 / 100.0,
            sig.toDouble / 2808.0 / 100.0,
            (9L * m - sig).toDouble / 2808.0 / 100.0)
          val got = bysym((sym, rows(i)._2))
          assert(got == exp, s"$sym ${rows(i)._2}: $got vs $exp")
          checked += 1
        }
      }
    }
    assert(checked > 50, s"only $checked rows checked — fixture too sparse?")
  }

  test("donchian and keltner collapse to the flat price on a constant series") {
    val d = IndicatorOps.donchianChannels(spark, edgeDir)
      .filter(col("symbol") === "FLAT").collect()
    assert(d.nonEmpty)
    d.foreach(r => assert(r.getDouble(2) === 100.0 && r.getDouble(3) === 100.0 &&
      r.getDouble(4) === 100.0, r))
    val k = IndicatorOps.keltnerChannels(spark, edgeDir)
      .filter(col("symbol") === "FLAT").collect()
    assert(k.nonEmpty)
    k.foreach(r => assert(r.getDouble(2) === 100.0 && r.getDouble(3) === 100.0 &&
      r.getDouble(4) === 100.0, r))
  }

  test("realized_vol: zero on a flat series; positive somewhere on the walk") {
    val rows = IndicatorOps.realizedVol(spark, edgeDir).collect()
    val flat = rows.filter(_.getString(0) == "FLAT")
    assert(flat.nonEmpty)
    flat.foreach(r => assert(r.getDouble(2) === 0.0, r))
    assert(rows.filter(_.getString(0) == "MIX").exists(_.getDouble(2) > 0.0))
  }

  test("rolling_beta and lead_lag_corr degrade to empty when the benchmark symbol is absent") {
    assert(IndicatorOps.rollingBeta(spark, edgeDir).count() === 0)
    assert(IndicatorOps.leadLagCorr(spark, edgeDir).count() === 0)
  }

  test("lead_lag_corr: the benchmark against itself at lag 0 is 1 within ulp noise") {
    val self = IndicatorOps.leadLagCorr(spark, sf)
      .filter(col("symbol") === "purchase" && col("lag_min") === 0L)
      .collect()
    assert(self.length === 1)
    assert(math.abs(self.head.getDouble(3) - 1.0) < 1e-12, self.head)
  }

  test("drawdown_duration: flat series has zero drawdowns; MIX matches a replay") {
    val out = IndicatorOps.drawdownDuration(spark, edgeDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("FLAT") === ((0L, 0L, 0L)))
    assert(out("ONE") === ((0L, 0L, 0L)))
    // driver-side replay on the MIX candle closes
    val xs = graft.ops.AggOps.ohlcv1min(spark, edgeDir)
      .filter(col("symbol") === "MIX")
      .select(col("window_start"), round(col("close_price") * 100).cast("long"))
      .collect().sortBy(_.getTimestamp(0).getTime).map(_.getLong(1))
    var runmax = Long.MinValue; var cur = 0L
    var mx = 0L; var tot = 0L; var runs = 0L
    xs.foreach { x =>
      runmax = math.max(runmax, x)
      if (x < runmax) { cur += 1; tot += 1; if (cur == 1) runs += 1; mx = math.max(mx, cur) }
      else cur = 0
    }
    assert(out("MIX") === ((mx, tot, runs)), s"got ${out("MIX")} want ($mx,$tot,$runs)")
  }

  test("cci_20 and williams_r are NULL on a flat series; price_roc is zero") {
    val cci = IndicatorOps.cci20(spark, edgeDir)
      .filter(col("symbol") === "FLAT").collect()
    assert(cci.nonEmpty); cci.foreach(r => assert(r.isNullAt(2), r))
    val wr = IndicatorOps.williamsR(spark, edgeDir)
      .filter(col("symbol") === "FLAT").collect()
    assert(wr.nonEmpty); wr.foreach(r => assert(r.isNullAt(2), r))
    val roc = IndicatorOps.priceRoc(spark, edgeDir)
      .filter(col("symbol") === "FLAT").collect()
    assert(roc.nonEmpty); roc.foreach(r => assert(r.getDouble(2) === 0.0, r))
  }

  test("ship_sla p90 is the exact ceil-rank order statistic per priority") {
    val out = StatsOps.shipSla(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val lags = graft.model.Tables.lineitem(spark, sf)
      .join(graft.model.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    lags.groupBy(_._1).foreach { case (prio, rows) =>
      val sorted = rows.map(_._2).sorted
      val n = sorted.length
      val k = (9 * n + 9) / 10 // ceil(0.9n) in pure ints
      val p90 = sorted(k - 1)
      val r = out(prio)
      assert(r.getLong(1) === n.toLong)
      assert(r.getInt(4) === p90, s"$prio p90 ${r.getInt(4)} vs $p90")
      assert(r.getDouble(2) === sorted.map(_.toLong).sum.toDouble / n)
    }
  }

  test("benford_check: digits partition the order count and chi terms match a replay") {
    val rows = QualityOps.benfordCheck(spark, sf).collect()
    val total = graft.model.Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === total)
    assert(rows.forall(r => r.getInt(0) >= 1 && r.getInt(0) <= 9))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    val shares = QualityOps.BenfordShares.toMap
    rows.foreach { r =>
      val e = shares(r.getInt(0)); val n = total.toDouble; val o = r.getLong(1).toDouble
      val chi = (o - n * e) * (o - n * e) / (n * e)
      assert(r.getDouble(4) === chi, r)
    }
  }

  test("gini_profile matches a driver-side recompute over collected documents") {
    val out = QualityOps.giniProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("lang"), col("source")).collect()
    Seq("lang" -> docs.map(_.getString(0)), "source" -> docs.map(_.getString(1)))
      .foreach { case (name, vs) =>
        val counts = vs.groupBy(identity).map(_._2.length.toLong)
        val n = counts.sum.toDouble
        val gini = 1.0 - counts.map(c => c.toDouble * c.toDouble).sum / (n * n)
        val r = out(name)
        assert(r.getLong(1) === counts.size.toLong)
        assert(math.abs(r.getDouble(3) - gini) < 1e-12, s"$name: $r vs $gini")
        assert(r.getDouble(4) === counts.max / n)
      }
  }

  test("orphan_fk_check: clean fixture reports zero orphans; a planted orphan is counted") {
    val clean = QualityOps.orphanFkCheck(spark, sf).collect()
    assert(clean.length === 4)
    clean.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) === 0L && r.getDouble(3) === 0.0, r)
    }
    // plant one orphan lineitem (l_orderkey absent from orders)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("orphan_fk").toString
    Seq((10L, 100L, 100L), (10L, 100L, 100L), (99L, 100L, 100L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$tmp/lineitem.parquet")
    Seq((10L, 7L)).toDF("o_orderkey", "o_custkey").write.parquet(s"$tmp/orders.parquet")
    Seq(Tuple1(100L)).toDF("p_partkey").write.parquet(s"$tmp/part.parquet")
    Seq(Tuple1(100L)).toDF("s_suppkey").write.parquet(s"$tmp/supplier.parquet")
    Seq(Tuple1(7L)).toDF("c_custkey").write.parquet(s"$tmp/customer.parquet")
    val planted = QualityOps.orphanFkCheck(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(planted("lineitem.l_orderkey->orders") === 1L)
    assert(planted("lineitem.l_partkey->part") === 0L)
    assert(planted("orders.o_custkey->customer") === 0L)
  }

  test("mode_median matches a driver-side recompute on lineitem") {
    val out = StatsOps.modeMedian(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val li = graft.model.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    li.groupBy(_._1).foreach { case (flag, rows) =>
      val qs = rows.map(_._2).sorted
      val freq = qs.groupBy(identity).map { case (v, g) => (v, g.length) }
      val maxC = freq.values.max
      val mode = freq.filter(_._2 == maxC).keys.min
      val median =
        if (qs.length % 2 == 1) qs(qs.length / 2)
        else (qs(qs.length / 2 - 1) + qs(qs.length / 2)) / 2.0
      val r = out(flag)
      assert(r.getLong(3) === qs.length.toLong)
      assert(r.getDouble(4) === mode, s"$flag mode")
      assert(math.abs(r.getDouble(1) - median) < 1e-9, s"$flag median ${r.getDouble(1)} vs $median")
    }
  }

  test("xpath family agrees with schema'd from_xml on the same fragments") {
    // xpath_* builds a DOM per evaluation (~45 µs/row measured at sf0.1 —
    // 5× StAX from_xml), so the xml_funcs hot path excludes it by design
    // (ParseOps.xmlFuncs doc); the ESCAPE-HATCH contract is pinned here:
    // string/long/double extraction and a no-match path returning ''/NULL.
    val out = graft.model.Tables.events(spark, sf).limit(200)
      .select(
        col("event_id"), col("event_type"), col("value"),
        to_xml(struct(col("event_id"), col("event_type"), col("value")))
          .as("frag"))
      .select(
        col("event_id"), col("event_type"), col("value"),
        expr("xpath_string(frag, '/ROW/event_type')").as("xp_s"),
        expr("xpath_long(frag, '/ROW/event_id')").as("xp_l"),
        expr("xpath_double(frag, '/ROW/value')").as("xp_d"),
        expr("xpath_string(frag, '/ROW/no_such_field')").as("xp_miss"),
        expr("xpath_number(frag, '/ROW/event_type')").as("xp_nan"))
      .collect()
    assert(out.length === 200)
    out.foreach { r =>
      assert(r.getAs[String]("xp_s") === r.getAs[String]("event_type"))
      assert(r.getAs[Long]("xp_l") === r.getAs[Long]("event_id"))
      assert(r.getAs[Double]("xp_d") === r.getAs[Double]("value"))
      assert(r.getAs[String]("xp_miss") === "", "no-match xpath_string is ''")
      assert(r.getAs[Double]("xp_nan").isNaN, "non-numeric xpath_number is NaN")
    }
  }

  test("exact_substr_spans matches a brute-force window-count + interval-merge replay") {
    val W = 20
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      // SPACE-only strip = SQL trim semantics (Java String.trim also
      // eats \n/\t and would diverge on non-space edge whitespace)
      .map(r => (r.getLong(0), SparkSuite.sqlTrim(r.getString(1)).split(" ", -1)))
    // corpus-wide window counts on the literal strings (the op hashes;
    // 64-bit collisions are out of scope, same contract as the oracle)
    val wins = docs.flatMap { case (id, w) =>
      if (w.length < W) Array.empty[(Long, Int, String)]
      else (0 to w.length - W).map(i => (id, i + 1, w.slice(i, i + W).mkString(" "))).toArray
    }
    val counts = wins.groupBy(_._3).map { case (k, v) => k -> v.length }
    val expected = wins.filter(t => counts(t._3) > 1)
      .groupBy(_._1).map { case (id, hs) =>
        val pos = hs.map(_._2).sorted
        // merge overlapping [p, p+W-1] ranges
        // join iff the window overlaps the open span (pos <= span end) —
        // exactly the op's `pos > prevmax(e)` new-span test, adjacency
        // (pos == end + 1) starts a NEW span on both sides
        val spans = pos.foldLeft(List.empty[(Int, Int)]) {
          case (acc, p) if acc.nonEmpty && p <= acc.head._2 =>
            (acc.head._1, math.max(acc.head._2, p + W - 1)) :: acc.tail
          case (acc, p) => (p, p + W - 1) :: acc
        }
        val n = docs.find(_._1 == id).get._2.length
        (id, (n.toLong, pos.length.toLong, spans.length.toLong,
          spans.map(s => s._2 - s._1 + 1).sum.toLong))
      }
    val got = SparkEntry.queries("exact_substr_spans")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == expected.keySet, s"doc sets differ: ${got.keySet} vs ${expected.keySet}")
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id: ${got(id)} vs $e") }
  }

  test("exact_substr_spans merges staggered duplicated runs into one maximal span") {
    // synthetic: two docs share a 25-token run => stride-1 windows at 6
    // offsets, all overlapping => ONE span of 25 tokens; plus unique tails
    import spark.implicits._
    val run = (1 to 25).map(i => s"dup$i").mkString(" ")
    val a = s"$run ${(1 to 10).map(i => s"ua$i").mkString(" ")}"
    val b = s"${(1 to 10).map(i => s"ub$i").mkString(" ")} $run"
    val tmp = java.nio.file.Files.createTempDirectory("substr").toString
    Seq((1L, a, "en", "src1", a.length.toLong), (2L, b, "en", "src1", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.ops.DedupOps.exactSubstrSpans(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 25-token run => 6 duplicated windows per doc, merged into 1 span of 25
    assert(rows(1L) == ((6L, 1L, 25L)), rows.toString)
    assert(rows(2L) == ((6L, 1L, 25L)), rows.toString)
  }

  test("interval_overlap_join equals brute quadratic overlap at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    // driver-side replay: merge per-user 5-min event intervals, then the
    // quadratic strict-overlap scan the grid join must reproduce exactly
    val ev = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val intervals = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for ((_, _, s) <- sorted) {
        val e = s + 300000000L
        out.lastOption match {
          case Some((uu, is, ie)) if ie >= s => out(out.length - 1) = (uu, is, math.max(ie, e))
          case _ => out += ((u, s, e))
        }
      }
      out
    }
    val expected = (for {
      (ua, sa, ea) <- intervals
      (ub, sb, eb) <- intervals
      if ua < ub && sa < eb && sb < ea
    } yield ((ua, ub), (math.min(ea, eb) - math.max(sa, sb)) / 1000000L))
      .groupBy(_._1)
      .map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }
    val got = SparkEntry.queries("interval_overlap_join")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")) ->
        (r.getAs[Long]("n_overlaps"), r.getAs[Long]("overlap_sec"))).toMap
    assert(got == expected)
    assert(got.nonEmpty, "no overlapping user sessions — vacuous fixture")
  }

  test("sql_recursive_closure drops its temp views and matches a walk replay") {
    import spark.implicits._
    // sf0.001 has no adjacent near-duplicates; the planted corpus chains
    // 1-2-3 and 6-7, with a too-short and a null text beside them
    val planted = java.nio.file.Files.createTempDirectory("rcte").toString
    Seq[(Long, String)]((1L, "a b c d e"), (2L, "a b c d e f"), (3L, "a b c d e f"),
      (4L, "x y z w"), (5L, "short"), (6L, "p q r s"), (7L, "p q r s"), (8L, null))
      .toDF("doc_id", "text").write.parquet(s"$planted/documents.parquet")
    Seq(sf, planted).foreach { dir =>
      val df = SparkEntry.queries("sql_recursive_closure")(spark, dir)
      val leaked = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_docs_rcte"))
      assert(leaked.isEmpty, leaked.mkString(", "))
      // replay: adjacent docs link when their distinct word-3-gram sets
      // have Jaccard >= 0.5; a doc's cluster is the lowest id its chain
      // reaches
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      val shingles = docs.collect { case (id, Some(t)) =>
        val w = SparkSuite.sqlTrim(t).split(" ", -1)
        id -> (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
      }.filter(_._2.nonEmpty)
      val linked = shingles.collect { case (b, sb) if shingles.contains(b - 1) =>
        val sa = shingles(b - 1)
        b -> ((sa & sb).size.toDouble / (sa | sb).size >= 0.5)
      }.filter(_._2).keySet
      def root(id: Long): Long = if (linked(id)) root(id - 1) else id
      val cluster = docs.keys.map(id => id -> root(id)).toMap
      val size = cluster.values.groupBy(identity).map { case (c, ids) => c -> ids.size.toLong }
      val expected = cluster.toSeq.map { case (id, c) => (id, c, size(c)) }.sorted
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == expected, dir)
    }
    val plantedRows = SparkEntry.queries("sql_recursive_closure")(spark, planted)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plantedRows == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 8L))
  }

  test("sql_recursive_closure materializes its recursion with distinct column names") {
    // Spark warns from LogicalRDD when it cannot match a materialized
    // recursion step's output columns by name between the step's logical
    // and optimized plans, which an anchor selecting `doc_id` twice causes
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    import spark.implicits._
    spark.sparkContext // started first: starting a session reconfigures logging
    val name = "org.apache.spark.sql.execution.LogicalRDD"
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("rcte-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val capture = new LoggerConfig(name, Level.WARN, true)
    capture.addAppender(appender, null, null)
    ctx.getConfiguration.addLogger(name, capture)
    ctx.updateLoggers()
    try {
      ctx.getLogger(name).warn("capture check")
      assert(warned.contains("capture check"), warned)
      warned.clear()
      val planted = java.nio.file.Files.createTempDirectory("rcte_warn").toString
      Seq[(Long, String)]((1L, "a b c d e"), (2L, "a b c d e f"), (3L, "x y z w"))
        .toDF("doc_id", "text").write.parquet(s"$planted/documents.parquet")
      Seq(sf, planted).foreach(graft.tools.Probe.pass(spark, _, "sql_recursive_closure"))
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(warned.isEmpty, warned)
  }
}
