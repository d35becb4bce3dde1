package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One time base for benchmark spans and Spark listener events: epoch
  * milliseconds (Spark stamps jobs and planning phases that way) with
  * nanosecond resolution from the monotonic clock. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A timed region around one public call, recorded from outside the engine. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startMs: Double, endMs: Double) {
  def json(run: String): String = Json.obj("kind" -> "span", "run" -> run, "id" -> id,
    "parent" -> parent, "name" -> name, "op" -> op,
    "start_ms" -> startMs, "end_ms" -> endMs)
}

/** In-memory span recorder for the single benchmark client thread. Spans
  * are kept only in a traced run; the run writes them out when it ends. */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var parent = -1

  def span[T](name: String, op: String)(f: => T): T = {
    if (!enabled) return f
    val id = spans.size
    spans += null // reserve the id; filled in when the span closes
    val saved = parent
    parent = id
    val start = Clock.nowMs
    try f
    finally {
      parent = saved
      spans(id) = Span(id, saved, name, op, start, Clock.nowMs)
    }
  }

  def all: Seq[Span] = spans.toSeq
}

/** Per-job scheduler and executor counters, collected by a listener the
  * benchmark registers itself. Tasks are folded into their job through the
  * stage → job map, so each job carries its own task totals. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs = -1L
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var input = 0L
    var output = 0L
    def json(run: String): String = Json.obj("kind" -> "job", "run" -> run, "job" -> id,
      "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
      "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "input_bytes" -> input,
      "output_bytes" -> output)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    val job = new Job(e.jobId, group, e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      job.tasks += 1
      job.taskMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.gcMs += m.jvmGCTime
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      job.input += m.inputMetrics.bytesRead
      job.output += m.outputMetrics.bytesWritten
    }
  }

  def all: Seq[Job] = synchronized(jobs.values.toList)
}

/** Catalyst planning time per action: the `QueryExecution.tracker` phases
  * (parsing, analysis, optimization, planning) of every query execution
  * that reports back to the session's listener manager. */
final class PlanLog(run: String) extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[String]
  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) synchronized {
      rows += Json.obj("kind" -> "plan", "run" -> run, "func" -> funcName,
        "start_ms" -> phases.values.map(_.startTimeMs).min,
        "plan_ms" -> phases.values.map(_.durationMs).sum)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
  def all: Seq[String] = synchronized(rows.toList)
}

/** The traced run's listeners and spans. */
final class Tracing(spark: SparkSession, val run: String) {
  val tracer = new Tracer
  val jobs = new JobLog
  val plans = new PlanLog(run)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    tracer.enabled = true
  }

  /** JSON lines: spans, then jobs, then planning records. */
  def lines: Seq[String] = {
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000L)
    tracer.all.map(_.json(run)) ++ jobs.all.map(_.json(run)) ++ plans.all
  }
}
