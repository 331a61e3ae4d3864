package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import Harness.{Clock, Rec}

/** Traced runs only: collects Spark's own events through the public
  * listener hooks. Jobs carry the harness span that started them (a local
  * property set on the calling thread), so every job, its tasks and its
  * query execution can be charged to a pass, an operation and a layer.
  * Everything stays in memory until [[dump]].
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val plans = mutable.ArrayBuffer[Rec]()
  private val streamProgress = mutable.ArrayBuffer[StreamingQueryProgress]()
  @volatile private var lastEvent = Clock.ms()

  private def touch[T](body: => T): T = lock.synchronized {
    lastEvent = Clock.ms()
    body
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = touch {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, prop(SpanKey), e.time.toDouble)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = touch {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = touch {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.busyMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = touch {
      // placed on the timeline by the phases' own start times: the
      // callback arrives later, on the listener thread
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty) plans += Map("start" -> phases.map(_.startTimeMs).min.toDouble,
        "plan_ms" -> phases.map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      touch { streamProgress += e.progress }
  }

  /** Progress events the listener received for one streaming query. */
  def progressOf(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    lock.synchronized(streamProgress.filter(_.id == queryId).toSeq)

  /** Listener delivery is asynchronous: wait until no event has arrived
    * for half a second (at most ten seconds). */
  def settle(): Unit = {
    val deadline = Clock.ms() + 10000
    while (Clock.ms() - lastEvent < 500 && Clock.ms() < deadline) Thread.sleep(50)
  }

  def dump(): Rec = lock.synchronized {
    Map("jobs" -> jobs.values.map(_.rec).toSeq, "plans" -> plans.toSeq)
  }
}

object Tracer {
  /** Local property naming the harness span a Spark job belongs to. */
  val SpanKey = "perfbench.span"

  final class Job(val id: Int, val span: String, val start: Double) {
    var end: Double = -1
    var tasks = 0L
    var busyMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def rec: Rec = Map("id" -> id, "span" -> span, "start" -> start, "end" -> end,
      "tasks" -> tasks, "busy_ms" -> busyMs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes)
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.planListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
