package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds with sub-ms digits. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, var end: Double, attrs: Map[String, Any])

/** In-memory span store; written out once the run ends.
  *
  * Harness spans use the monotonic clock anchored to the wall clock at
  * construction, so short spans keep their sub-ms precision; Spark events
  * arrive with wall-clock milliseconds. */
final class Recorder {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def open(kind: String, name: String, parent: Long,
      attrs: Map[String, Any] = Map.empty): Span = {
    val s = Span(ids.incrementAndGet(), parent, kind, name, now(), Double.NaN, attrs)
    spans.add(s)
    s
  }

  def close(s: Span): Double = { s.end = now(); s.end - s.start }

  def toSeq: Seq[Map[String, Any]] = spans.asScala.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)
  }
}

final case class Job(id: Int, group: String, start: Long, var end: Long,
    stageIds: Seq[Int], var ok: Boolean)
final case class Stage(id: Int, attempt: Int, name: String, var submitted: Long,
    var completed: Long, var numTasks: Int, agg: StageAgg)
/** `planned` is when the execution's last planning phase ended, inside the
  * span of the query that ran it. */
final case class PlanExec(funcName: String, planned: Double, durationMs: Double,
    phasesMs: Map[String, Double], stagedWrite: Boolean, ok: Boolean)

/** Task metrics summed over one stage attempt. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]

  def toMap: Map[String, Any] = {
    val d = durations.sorted
    Map("tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "sched_delay_ms" -> schedDelayMs, "input_bytes" -> inputBytes,
      "input_rows" -> inputRows, "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
      "spill_bytes" -> spillBytes,
      "task_ms_max" -> (if (d.isEmpty) 0L else d.last),
      "task_ms_median" -> (if (d.isEmpty) 0L else d(d.size / 2)))
  }
}

/** Jobs, stages and task metrics from Spark's public listener API. Jobs are
  * tied to the harness span that caused them through the job group the
  * harness sets before each build and execution. */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  @volatile var fenceSeen = false

  private def stage(id: Int, attempt: Int, name: String): Stage =
    stages.getOrElseUpdate((id, attempt), Stage(id, attempt, name, 0L, 0L, 0, new StageAgg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time, 0L, e.stageIds, ok = false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
      if (j.group == Fence.Group) fenceSeen = true
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber(), i.name)
    s.submitted = i.submissionTime.getOrElse(0L)
    s.numTasks = i.numTasks
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber(), i.name)
    s.submitted = i.submissionTime.getOrElse(s.submitted)
    s.completed = i.completionTime.getOrElse(0L)
    s.numTasks = i.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stage(e.stageId, e.stageAttemptId, "").agg
      val info = e.taskInfo
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.durations += info.duration
    }
  }
}

/** Planning phases and staged-table activity from `QueryExecutionListener`. */
final class PlanListener extends QueryExecutionListener {
  val execs = new ConcurrentLinkedQueue[PlanExec]()
  @volatile var fenceSeen = false

  private def record(funcName: String, qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
    if (qe.analyzed.output.exists(_.name == Fence.Column)) { fenceSeen = true; return }
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }
    val planned = qe.tracker.phases.values.map(_.endTimeMs.toDouble).maxOption
      .getOrElse(System.currentTimeMillis().toDouble)
    // StagedTable names its warehouse tables graft_*; writing one is a
    // stage build
    val write = qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
          if c.table.identifier.table.startsWith(Fence.StagedPrefix) => true
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
          if c.catalogTable.exists(_.identifier.table.startsWith(Fence.StagedPrefix)) => true
    }.isDefined
    execs.add(PlanExec(funcName, planned, ns / 1e6, phases, write, ok))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)
}

/** Streaming progress, one JSON document per micro-batch. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress.json)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** A last tiny job whose events, once seen, prove that every earlier event
  * of the same listener bus has been delivered. */
object Fence {
  val Group = "perfbench-fence"
  val Column = "perfbench_fence"
  val StagedPrefix = "graft_"

  def await(spark: org.apache.spark.sql.SparkSession, exec: ExecListener,
      plan: PlanListener): Unit = {
    spark.sparkContext.setJobGroup(Group, Group)
    spark.range(1).toDF(Column).collect()
    spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while ((!exec.fenceSeen || !plan.fenceSeen) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }
}
