package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is "" for a root (a gate execution).
  * Times are wall-clock milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: String, parent: String, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty)

/** Task-metric totals. Units: ns for CPU, ms for run/GC/fetch wait, bytes
  * and rows as counted by Spark.
  */
final case class TaskTotals(tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    fetchWaitMs: Long = 0, spillMem: Long = 0, spillDisk: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0, outputRows: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    fetchWaitMs + o.fetchWaitMs, spillMem + o.spillMem,
    spillDisk + o.spillDisk, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, outputRows + o.outputRows)
}

/** Scheduler events reduced to what the record needs, kept in memory.
  *
  * Jobs belong to the gate execution whose tag they carry in
  * `spark.job.tags`. A stage attempt is keyed by (stage id, attempt number),
  * so a retried stage is two spans and each task's metrics land on the
  * attempt that ran it. Not thread-safe: the listener bus delivers events on
  * one thread, and the record is read only after the bus has drained.
  */
final class TraceBook(tagPrefix: String) {
  final class Job(val id: Int, val execId: Option[String], val startMs: Long) {
    var endMs: Long = startMs
  }
  final class StageAttempt(val stageId: Int, val attempt: Int,
      val startMs: Long) {
    var endMs: Long = startMs
    var totals: TaskTotals = TaskTotals()
  }

  val jobs: mutable.LinkedHashMap[Int, Job] = mutable.LinkedHashMap()
  val stages: mutable.LinkedHashMap[(Int, Int), StageAttempt] =
    mutable.LinkedHashMap()
  private val jobOfStage = mutable.HashMap[Int, Int]()

  /** The gate execution a job's tags name: the tag itself, or the form a
    * session tag takes in `spark.job.tags` (`spark-session-<uuid>-<tag>`).
    */
  def execOf(tags: Seq[String]): Option[String] = tags.iterator
    .map(t => t.substring(math.max(0, t.indexOf(tagPrefix))))
    .find(_.startsWith(tagPrefix)).map(_.stripPrefix(tagPrefix))

  def jobStart(id: Int, timeMs: Long, tags: Seq[String],
      stageIds: Seq[Int]): Unit = {
    jobs(id) = new Job(id, execOf(tags), timeMs)
    stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, id))
  }

  def jobEnd(id: Int, timeMs: Long): Unit = jobs.get(id).foreach(_.endMs = timeMs)

  def stageSubmitted(stageId: Int, attempt: Int, timeMs: Long): Unit =
    stages.getOrElseUpdate((stageId, attempt),
      new StageAttempt(stageId, attempt, timeMs))

  def stageCompleted(stageId: Int, attempt: Int, timeMs: Long): Unit =
    stages.getOrElseUpdate((stageId, attempt),
      new StageAttempt(stageId, attempt, timeMs)).endMs = timeMs

  def taskEnd(stageId: Int, attempt: Int, t: TaskTotals): Unit = {
    val s = stages.getOrElseUpdate((stageId, attempt),
      new StageAttempt(stageId, attempt, 0L))
    s.totals = s.totals + t
  }

  /** The job that first submitted a stage (shared stages count once). */
  def jobOf(stageId: Int): Option[Job] = jobOfStage.get(stageId).flatMap(jobs.get)
}

/** Feeds a [[TraceBook]] from the Spark listener bus. */
final class SchedulerTracer(val book: TraceBook) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    book.jobStart(e.jobId, e.time, tags, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = book.jobEnd(e.jobId, e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    book.stageSubmitted(e.stageInfo.stageId, e.stageInfo.attemptNumber(),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    book.stageCompleted(e.stageInfo.stageId, e.stageInfo.attemptNumber(),
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t =
      if (m == null) TaskTotals(tasks = 1)
      else TaskTotals(1, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled,
        m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    book.taskEnd(e.stageId, e.stageAttemptId, t)
  }
}

/** One query's Catalyst phases, from `qe.tracker.phases`. */
final case class PhaseRecord(phases: Map[String, (Long, Long)]) {
  def startMs: Long = if (phases.isEmpty) 0L else phases.values.map(_._1).min
  def seconds(phase: String): Double =
    phases.get(phase).map { case (s, e) => (e - s) / 1000.0 }.getOrElse(0.0)
}

/** Catalyst phase collector. Registered through
  * `spark.sql.queryExecutionListeners` in traced runs only, so every session
  * a gate creates reports here too; records go to one JVM-wide queue.
  */
final class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    PhaseListener.records.add(PhaseRecord(qe.tracker.phases.map {
      case (k, v) => (k, (v.startTimeMs, v.endTimeMs)) }))
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

object PhaseListener {
  val records = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRecord]()
}
