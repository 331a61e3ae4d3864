package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.BenchLogic.Compiles

/** Builder-side probe over registered queries, on the session Bench and
  * Verify use (`GraftSession.local`, cores from `$SPARK_GRAFT_CPUS`). One
  * main, three modes:
  *
  *  - `time <sfDir> <rounds> <query...>`: one cold pass per query (the
  *    first execution in the JVM, which pays codegen, JIT and memoized
  *    index builds), then `rounds` ROUND-ROBIN passes — q1..qn, q1..qn, …
  *    — so each query's samples spread across the host's load cycle and
  *    the MIN approximates the quiet-window cost. Prints cold, min, median,
  *    the generated-code compiles of the round-robin passes (0 when they
  *    all hit the codegen cache) and every sample.
  *  - `profile <sfDir> <query...>`: after a warm pass, splits one pass into
  *    construction (the op's Scala code, including its eager `Tables.ckpt`
  *    jobs) and the action, and prints where the wall-clock went per job
  *    and stage (duration, tasks, shuffle read/write and input MB) from a
  *    SparkListener — the UI's Stages tab, printed. Generated classes no
  *    longer carry the codegen stage id in their names (every one is
  *    `GeneratedIterator`, see `GraftSession.defaults`), so stack traces
  *    and profiler frames do not name the stage; the plan's `*(n)`
  *    markers still do.
  *  - `plan <sfDir> [--out dir --suffix s] <query...>`: prints the EXECUTED
  *    (post-AQE) plan of each query; with `--out`, writes the
  *    pre-execution `explain("formatted")` text to `<dir>/<query>_<s>.txt`
  *    instead (the before/after evidence format of `plans/`).
  *
  * Every pass is [[pass]], the one Bench and ScaleProbe time too: a NOOP
  * WRITE, because `count()` prunes every projection it doesn't need and
  * would time map-only ops as bare scans.
  *
  * Usage: runMain graft.tools.Probe <mode> <sfDir> ...
  */
object Probe {
  private val Usage = "Probe time <sfDir> <rounds> <query...> | " +
    "profile <sfDir> <query...> | plan <sfDir> [--out dir --suffix s] <query...>"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCores, "probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq, println) finally spark.stop()
  }

  /** Runs one mode on `spark`, reporting each result line through `out`. */
  def run(spark: SparkSession, args: Seq[String], out: String => Unit): Unit =
    args match {
      case Seq("time", dir, rounds, qs @ _*) if qs.nonEmpty && rounds.toInt > 0 =>
        time(spark, dir, rounds.toInt, qs.distinct, out)
      case Seq("profile", dir, qs @ _*) if qs.nonEmpty =>
        qs.foreach(profile(spark, dir, _, out))
      case Seq("plan", dir, "--out", outDir, "--suffix", suffix, qs @ _*) if qs.nonEmpty =>
        Files.createDirectories(Paths.get(outDir))
        qs.foreach { q =>
          val txt = query(spark, dir, q).queryExecution.explainString(FormattedMode)
          val path = Paths.get(outDir, s"${q}_$suffix.txt")
          Files.writeString(path, txt)
          out(s"[plan] wrote $path (${txt.length} chars)")
        }
      case Seq("plan", dir, qs @ _*) if qs.nonEmpty && !qs.head.startsWith("--") =>
        qs.foreach { q =>
          val df = query(spark, dir, q)
          // execute THIS DataFrame: AQE finalizes the plan of the query it
          // ran, and count() or a write would run a different one
          df.collect()
          out(s"=== $q ===")
          out(df.queryExecution.executedPlan.toString)
        }
      case _ => throw new IllegalArgumentException(s"usage: $Usage")
    }

  private def query(spark: SparkSession, dir: String, q: String): DataFrame =
    SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q"))(spark, dir)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One build-and-noop-write pass of registered query `q`: its seconds
    * and the generated-code compiles made while it ran. Every measurement
    * tool times its passes through here. Throws on failure, an unknown
    * query included.
    */
  def pass(spark: SparkSession, dir: String, q: String): (Double, Compiles) = {
    val t0 = System.nanoTime
    val (_, c) = Compiles.during(noop(query(spark, dir, q)))
    ((System.nanoTime - t0) / 1e9, c)
  }

  private def time(spark: SparkSession, dir: String, rounds: Int,
                   qs: Seq[String], out: String => Unit): Unit = {
    val cold = qs.map(q => q -> pass(spark, dir, q)._1).toMap
    val samples = qs.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val compiles = mutable.Map[String, Long]().withDefaultValue(0L)
    for (_ <- 1 to rounds; q <- qs) {
      val (secs, c) = pass(spark, dir, q)
      samples(q) += secs
      compiles(q) += c.count
    }
    qs.foreach { q =>
      val s = samples(q)
      val sorted = s.sorted
      out(f"[time] $q%-24s cold ${cold(q)}%6.2f  min ${sorted.head}%6.2f  " +
        f"median ${sorted(sorted.length / 2)}%6.2f  compiles ${compiles(q)}%d  samples " +
        s.map(x => f"$x%.2f").mkString(" "))
    }
  }

  private final case class Stage(id: Int, ms: Long, tasks: Int, shufReadMB: Double,
                                 shufWriteMB: Double, inputMB: Double)

  /** Jobs and stages of one job group, as the listener bus delivers them. */
  private final class GroupListener(group: String) extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, (Long, Seq[Int])]()
    val jobEnd = mutable.Map[Int, Long]()
    val stages = mutable.Map[Int, Stage]()
    @volatile private var lastEventNs = System.nanoTime

    private def seen(): Unit = lastEventNs = System.nanoTime

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        jobs(e.jobId) = (e.time, e.stageIds)
      seen()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnd(e.jobId) = e.time
      seen()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val ms = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
        .getOrElse(-1L)
      stages(si.stageId) = Stage(si.stageId, ms, si.numTasks,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.bytesRead / 1e6)
      seen()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = seen()

    /** Waits until every job seen has ended and the bus has been quiet for
      * 250 ms (events arrive asynchronously), at most 10 s.
      */
    def settle(): Unit = {
      val deadline = System.nanoTime + 10000000000L
      def done = synchronized(jobs.nonEmpty && jobs.keys.forall(jobEnd.contains)) &&
        System.nanoTime - lastEventNs > 250000000L
      while (!done && System.nanoTime < deadline) Thread.sleep(50)
    }
  }

  private def profile(spark: SparkSession, dir: String, q: String,
                      out: String => Unit): Unit = {
    val sc = spark.sparkContext
    pass(spark, dir, q) // warm: codegen + JIT
    val group = s"graft-probe-$q-${System.nanoTime}"
    val listener = new GroupListener(group)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, q)
    val (t0, t1, t2, builtAt) = try {
      val t0 = System.nanoTime
      val df = query(spark, dir, q)
      val t1 = System.nanoTime
      val builtAt = System.currentTimeMillis
      noop(df)
      (t0, t1, System.nanoTime, builtAt)
    } finally sc.clearJobGroup()
    listener.settle()
    sc.removeSparkListener(listener)

    val (buildJobs, actionJobs) = listener.jobs.partition(_._2._1 < builtAt)
    out(f"[prof] $q: construction ${(t1 - t0) / 1e6}%.0f ms (${buildJobs.size} jobs), " +
      f"action ${(t2 - t1) / 1e6}%.0f ms (${actionJobs.size} jobs)")
    var jobSum = 0L
    listener.jobs.foreach { case (jid, (start, stageIds)) =>
      val dur = listener.jobEnd.get(jid).map(_ - start).getOrElse(-1L)
      jobSum += math.max(dur, 0L)
      val top = stageIds.flatMap(listener.stages.get).sortBy(-_.ms).take(4).map { s =>
        f"stage${s.id}:${s.ms}ms/${s.tasks}t" +
          (if (s.shufReadMB > 0.05) f"/sr${s.shufReadMB}%.1fM" else "") +
          (if (s.shufWriteMB > 0.05) f"/sw${s.shufWriteMB}%.1fM" else "") +
          (if (s.inputMB > 0.05) f"/in${s.inputMB}%.1fM" else "")
      }.mkString(" ")
      val phase = if (start < builtAt) "construction" else "action"
      out(f"[prof]   job $jid%4d $phase%-12s $dur%6d ms  [$top]")
    }
    out(f"[prof] jobs total $jobSum ms of ${(t2 - t0) / 1e6}%.0f ms wall " +
      "(gap = driver-side construction, planning, job launch)")
  }
}
