package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.tools.Probe

/** Each `Probe` mode runs end to end on one registered query, on the
  * shared suite session, and reports what its usage promises.
  */
class ProbeSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  private val q = "ohlcv_1min"

  private def probe(args: String*): Seq[String] = {
    val lines = mutable.ArrayBuffer[String]()
    Probe.run(spark, args, lines += _)
    lines.toSeq
  }

  test("time: a cold pass, then round-robin samples with min and median") {
    val out = probe("time", sf, "2", q, "count_rows")
    assert(out.size == 2, out)
    out.zip(Seq(q, "count_rows")).foreach { case (line, name) =>
      val Re = (s"""\\[time\\] $name\\s+cold\\s+(\\S+)\\s+min\\s+(\\S+)\\s+""" +
        """median\s+(\S+)\s+compiles (\d+)\s+samples (\S+) (\S+)""").r
      line match {
        case Re(cold, min, median, compiles, a, b) =>
          Seq(cold, min, median, a, b).foreach(x => assert(x.toDouble >= 0, line))
          assert(min.toDouble == math.min(a.toDouble, b.toDouble), line)
          // the cold pass compiled every class the rounds need
          assert(compiles == "0", line)
        case _ => fail(line)
      }
    }
  }

  test("profile: construction vs action split plus the per-job stage table") {
    val out = probe("profile", sf, q)
    assert(out.head.matches(
      s"""\\[prof\\] $q: construction \\d+ ms \\(\\d+ jobs\\), action \\d+ ms \\(\\d+ jobs\\)"""),
      out)
    val jobs = out.filter(_.startsWith("[prof]   job"))
    assert(jobs.nonEmpty, out)
    assert(jobs.exists(_.contains(" action ")), out)
    assert(jobs.forall(_.contains("stage")), out)
    assert(out.last.startsWith("[prof] jobs total"), out)
  }

  test("plan: the executed post-AQE plan, or explain(formatted) files") {
    val printed = probe("plan", sf, q)
    assert(printed.head == s"=== $q ===")
    assert(printed(1).contains("AdaptiveSparkPlan isFinalPlan=true"), printed)
    val dir = Files.createTempDirectory("probe_plan")
    val wrote = probe("plan", sf, "--out", dir.toString, "--suffix", "before", q)
    val file = Paths.get(dir.toString, s"${q}_before.txt")
    assert(wrote == Seq(s"[plan] wrote $file (${Files.readString(file).length} chars)"))
    assert(Files.readString(file).contains("== Physical Plan =="))
  }

  test("a malformed command or an unknown query is rejected") {
    Seq(Seq("time", sf, "0", q), Seq("plan", sf, "--out", "x", q), Seq("nope", sf, q))
      .foreach(a => assertThrows[IllegalArgumentException](probe(a: _*)))
    assertThrows[IllegalArgumentException](probe("plan", sf, "no_such_query"))
  }
}
