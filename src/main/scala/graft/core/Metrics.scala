package graft.core

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics by SparkContext job tag (`spark.job.tags`, which SQL's
  * broadcast threads and forked sessions carry too): the one metrics path of
  * `graft.Bench` and `graft.Scale`. The first job to submit a stage owns it;
  * task totals land on their stage attempt, keyed by (stage id, attempt).
  * Exact once the listener bus has drained (`spark.stop()` drains it). */
final class Metrics extends SparkListener {
  import Metrics._
  private val jobTags = mutable.ArrayBuffer[Set[String]]()
  private val owner = mutable.HashMap[Int, (Set[String], String)]()
  private val attempts = mutable.LinkedHashMap[(Int, Int), Attempt]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
    jobTags += tags
    e.stageInfos.foreach(s =>
      owner.getOrElseUpdate(s.stageId, (tags, s.name.takeWhile(_ != '\n'))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (tags, name) = owner.getOrElse(e.stageId, (Set.empty[String], ""))
    val a = attempts.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new Attempt(e.stageId, e.stageAttemptId, name, tags))
    Option(e.taskMetrics).foreach { m =>
      val read = m.shuffleReadMetrics.totalBytesRead
      Seq(m.executorCpuTime, m.executorRunTime, m.jvmGCTime, read,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled)
        .zipWithIndex.foreach { case (v, i) => a.totals(i) += v }
      a.maxTaskShuffleRead = math.max(a.maxTaskShuffleRead, read)
    }
    a.taskMs += Option(e.taskInfo).fold(0L)(_.duration)
  }

  /** The jobs whose tags `select` accepts, and the stage attempts they own. */
  def group(select: Set[String] => Boolean): (Int, Seq[Attempt]) = synchronized {
    (jobTags.count(select), attempts.values.filter(a => select(a.tags)).toSeq)
  }

  /** One record line: the JSON members `fields`, then the totals, stage
    * attempts and connected-components rounds of the jobs `select` accepts.
    * Rounds stay inside their line, so two gates' round 3 never merge.
    */
  def line(fields: String, select: Set[String] => Boolean): String = {
    val (jobs, owned) = group(select)
    val rounds = owned.flatMap(_.tags).distinct.collect { case t @ RoundTag(call, round) =>
      val (n, as) = group(ts => select(ts) && ts(t))
      (call.toLong, round.toInt) -> s"""{"call":$call,"round":$round,${totals(n, as)}}"""
    }.sortBy(_._1).map(_._2)
    s"""{$fields,${totals(jobs, owned)},"stage_attempts":""" +
      owned.map(_.json).mkString("[", ",", "]") +
      s""","cc_rounds":${rounds.mkString("[", ",", "]")}}"""
  }
}

object Metrics {
  private val RoundTag = """graft-cc-(\d+)-round-(\d+)""".r
  private val calls = new java.util.concurrent.atomic.AtomicLong
  private val Fields = Seq("cpu_ns", "run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_mem_bytes", "spill_disk_bytes")

  /** A stage attempt's task totals (in [[Fields]] order), and for the skew
    * view each task's duration and the largest per-task shuffle read. */
  final class Attempt(val stage: Int, val attempt: Int, val name: String,
      val tags: Set[String]) {
    val totals = new Array[Long](Fields.size)
    val taskMs = mutable.ArrayBuffer[Long]()
    var maxTaskShuffleRead = 0L
    def medianTaskMs: Long = math.max(taskMs.sorted.apply(taskMs.size / 2), 1L)
    def maxTaskMs: Long = taskMs.max
    def ratio: Double = maxTaskMs.toDouble / medianTaskMs
    def json: String = s"""{"stage":$stage,"attempt":$attempt,"tasks":${taskMs.size},""" +
      s""""median_task_ms":$medianTaskMs,"max_task_ms":$maxTaskMs,"ratio":""" +
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(ratio)) +
      s""","max_task_shuffle_read_bytes":$maxTaskShuffleRead,""" +
      Fields.zip(totals).map { case (k, v) => s""""$k":$v""" }.mkString(",") +
      s""","name":"${name.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
  }

  private def totals(jobs: Int, as: Seq[Attempt]): String =
    s""""jobs":$jobs,"stages":${as.size},"tasks":${as.map(_.taskMs.size).sum},""" +
      Fields.indices.map(i => s""""${Fields(i)}":${as.map(_.totals(i)).sum}""").mkString(",")

  def gateTag(name: String): String = s"graft-gate-$name"
  /** A fresh connected-components call id, and the tag of its `round`. */
  def nextCall(): Long = calls.incrementAndGet()
  def roundTag(call: Long, round: Int): String = s"graft-cc-$call-round-$round"

  /** `body` with `tag` on every job it submits. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Write record lines to `file`; a failure is reported, never thrown. */
  def write(file: java.nio.file.Path, lines: Seq[String]): Unit =
    try {
      java.nio.file.Files.createDirectories(file.toAbsolutePath.getParent)
      java.nio.file.Files.write(file, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    } catch { case e: java.io.IOException =>
      System.err.println(s"[metrics] could not write $file: ${e.getMessage}")
    }
}
