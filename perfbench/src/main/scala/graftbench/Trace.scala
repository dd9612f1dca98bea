package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One engine event, stamped with the epoch-millisecond time at which it
  * happened (not when a listener saw it). Operations run one at a time, so
  * an event belongs to the operation whose window holds its time. */
sealed trait Rec { def t: Long }
final case class JobRec(t: Long, end: Long) extends Rec
final case class StageRec(t: Long) extends Rec
final case class TaskRec(t: Long, runS: Double, cpuS: Double, shuffleWrite: Long,
    shuffleRead: Long, spill: Long) extends Rec
final case class SqlExecRec(t: Long) extends Rec
final case class PhaseRec(t: Long, analysisS: Double, optimizationS: Double,
    planningS: Double) extends Rec
final case class BatchRec(t: Long, triggerS: Double, addBatchS: Double,
    planningS: Double, walCommitS: Double, stateRows: Long) extends Rec
final case class StorageRec(t: Long, usedBytes: Long) extends Rec

/** Shared sink of the three listeners. Listeners stay registered for the
  * whole traced run and record only while `on` is set, i.e. during traced
  * passes. */
object Recorder {
  @volatile var on = false
  private val recs = new ConcurrentLinkedQueue[Rec]()
  // job start times wait here for the matching end event
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  def add(r: Rec): Unit = if (on) recs.add(r)
  def jobStart(id: Int, t: Long): Unit = if (on) jobStarts.put(id, t)
  def jobEnd(id: Int, t: Long): Unit = {
    val s = jobStarts.remove(id)
    if (on && s != 0L) recs.add(JobRec(s, t))
  }

  /** Every record so far; the queue is emptied. */
  def take(): Seq[Rec] = {
    val out = ArrayBuffer.empty[Rec]
    var r = recs.poll()
    while (r != null) { out += r; r = recs.poll() }
    out.toSeq
  }
}

/** Jobs, stages, tasks and SQL executions from the shared listener bus. */
final class EngineListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Recorder.jobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Recorder.jobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => Recorder.add(StageRec(t)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Recorder.add(TaskRec(e.taskInfo.launchTime,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // nested executions (a command's inner query) are part of their root
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      Recorder.add(SqlExecRec(s.time))
    case _ =>
  }
}

/** Catalyst phase times of every query that ran an action. Registered by
  * class name through `spark.sql.queryExecutionListeners`, so every session,
  * including the library's child sessions, gets one. */
final class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def s(name: String): Double = ph.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    val t = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    Recorder.add(PhaseRec(t, s("analysis"), s("optimization"), s("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Micro-batch phases of every streaming query, registered by class name
  * through `spark.sql.streaming.streamingQueryListeners`. */
final class BatchListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    def s(k: String): Double = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
    Recorder.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
      s("triggerExecution"), s("addBatch"), s("queryPlanning"), s("walCommit"),
      p.stateOperators.map(_.numRowsTotal).sum))
  }
}

/** Samples executor storage memory while tracing is on. */
final class StorageSampler(sc: SparkContext, everyMs: Long) extends Thread("storage-sampler") {
  setDaemon(true)
  @volatile private var running = true
  override def run(): Unit = while (running) {
    if (Recorder.on) {
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      Recorder.add(StorageRec(System.currentTimeMillis(), used))
    }
    Thread.sleep(everyMs)
  }
  def finish(): Unit = { running = false; join() }
}

/** A span: one timed interval with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

object Counters {
  /** Counters of the records whose time falls in [startMs, endMs], keyed as
    * in the artifact. Job wall is the union of job intervals clipped to the
    * window. */
  def of(recs: Seq[Rec], startMs: Long, endMs: Long): Map[String, Any] = {
    val in = recs.filter(r => r.t >= startMs && r.t <= endMs)
    val jobs = in.collect { case j: JobRec => j }
    val tasks = in.collect { case t: TaskRec => t }
    val phases = in.collect { case p: PhaseRec => p }
    val batches = in.collect { case b: BatchRec => b }
    var covered = 0L; var reach = startMs
    jobs.sortBy(_.t).foreach { j =>
      val s = math.max(j.t, reach); val e = math.min(j.end, endMs)
      if (e > s) { covered += e - s; reach = e }
    }
    Map(
      "jobs" -> jobs.size,
      "stages" -> in.count(_.isInstanceOf[StageRec]),
      "tasks" -> tasks.size,
      "task_s" -> tasks.map(_.runS).sum,
      "task_cpu_s" -> tasks.map(_.cpuS).sum,
      "shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum,
      "shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum,
      "spill_bytes" -> tasks.map(_.spill).sum,
      "sql_executions" -> in.count(_.isInstanceOf[SqlExecRec]),
      "job_wall_s" -> covered / 1e3,
      "analysis_s" -> phases.map(_.analysisS).sum,
      "optimization_s" -> phases.map(_.optimizationS).sum,
      "planning_s" -> phases.map(_.planningS).sum,
      "batches" -> batches.size,
      "trigger_s" -> batches.map(_.triggerS).sum,
      "add_batch_s" -> batches.map(_.addBatchS).sum,
      "query_planning_s" -> batches.map(_.planningS).sum,
      "wal_commit_s" -> batches.map(_.walCommitS).sum,
      "state_rows" -> (0L +: batches.map(_.stateRows)).max,
      "storage_peak_bytes" -> (0L +: in.collect { case s: StorageRec => s.usedBytes }).max)
  }
}
