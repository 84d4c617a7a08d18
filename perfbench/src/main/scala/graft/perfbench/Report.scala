package graft.perfbench

import org.apache.commons.math3.special.Beta

/** Pure record logic: quantiles, span self time, per-execution layer
  * split and the bounded summary line. No Spark here, so the self-tests
  * exercise it directly.
  */
object Report {
  /** Harrell–Davis estimate of the `p` quantile (`p` in (0, 1)) of a
    * non-empty sample: the mean of every order statistic, weighted by
    * Beta((n + 1) p, (n + 1) (1 − p)). On the few dozen samples of a run it
    * moves far less from run to run than any single order statistic.
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p > 0 && p < 1, s"quantile $p outside (0, 1)")
    val s = xs.sorted
    val n = s.size
    val (a, b) = ((n + 1) * p, (n + 1) * (1 - p))
    def cdf(x: Double) = Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
  }

  /** Samples strictly beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Long =
    (span.endMs - span.startMs) -
      covered(children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  /** One timed gate execution as the harness saw it. Seconds are measured
    * with the monotonic clock; the millisecond marks place the execution on
    * the listener events' clock. Over build + execute: `cpuS` is the CPU
    * time of the JVM outside its JIT compiler threads, `jitS` theirs, and
    * `stealS` the CPU time the host took from the machine's CPUs.
    */
  final case class Exec(id: String, pass: Int, gate: String, module: String,
      startMs: Long, buildEndMs: Long, executeEndMs: Long,
      releaseStartMs: Long, releaseEndMs: Long,
      buildS: Double, executeS: Double, releaseS: Double,
      rows: Long, witness: BigInt, projected: BigInt, storageAfter: Long,
      error: Option[String], cpuS: Double = 0.0, jitS: Double = 0.0,
      stealS: Double = 0.0) {
    def latencyS: Double = buildS + executeS
  }

  /** Layer totals of one execution, from the trace. */
  final case class Layers(jobs: Int, untaggedJobs: Int, stages: Int,
      totals: TaskTotals, jobActiveMs: Long, driverGapMs: Long,
      analysisS: Double, optimizationS: Double, planningS: Double,
      queries: Int)

  /** Split one execution into layers. Jobs are the execution's by tag; a
    * job with no benchmark tag (a pool thread the tag did not reach) that
    * starts inside the execution's window counts too and is reported as
    * untagged. Stage attempts count under the job that first submitted the
    * stage. Catalyst phases count by the window their first phase starts in.
    */
  def layers(e: Exec, book: TraceBook, phases: Seq[PhaseRecord]): Layers = {
    val inWindow = (t: Long) => t >= e.startMs && t <= e.executeEndMs
    val tagged = book.jobs.values.filter(_.execId.contains(e.id)).toSeq
    val untagged = book.jobs.values
      .filter(j => j.execId.isEmpty && inWindow(j.startMs)).toSeq
    val jobs = tagged ++ untagged
    val jobIds = jobs.map(_.id).toSet
    val attempts = book.stages.values.filter(s =>
      book.jobOf(s.stageId).exists(j => jobIds.contains(j.id))).toSeq
    val totals = attempts.map(_.totals).foldLeft(TaskTotals())(_ + _)
    val active = covered(jobs.map(j => (j.startMs, j.endMs)), e.startMs,
      e.executeEndMs)
    val qs = phases.filter(p => p.phases.nonEmpty && inWindow(p.startMs))
    Layers(jobs.size, untagged.size, attempts.size, totals, active,
      math.max(0L, e.executeEndMs - e.startMs - active),
      qs.map(_.seconds("analysis")).sum, qs.map(_.seconds("optimization")).sum,
      qs.map(_.seconds("planning")).sum, qs.size)
  }

  /** Spans of one execution: gate root → build / execute / release →
    * Spark jobs → stage attempts, with Catalyst phases under build or
    * execute.
    */
  def spans(e: Exec, book: TraceBook, phases: Seq[PhaseRecord]): Seq[Span] = {
    val root = Span(e.id, "", s"gate:${e.gate}", e.startMs, e.releaseEndMs)
    val build = Span(s"${e.id}/build", e.id, "build", e.startMs, e.buildEndMs)
    val exec = Span(s"${e.id}/execute", e.id, "execute", e.buildEndMs,
      e.executeEndMs)
    val release = Span(s"${e.id}/release", e.id, "release", e.releaseStartMs,
      e.releaseEndMs)
    def phaseOf(t: Long) = if (t < e.buildEndMs) build.id else exec.id
    val inWindow = (t: Long) => t >= e.startMs && t <= e.executeEndMs
    val jobs = book.jobs.values.filter(j =>
      j.execId.contains(e.id) || (j.execId.isEmpty && inWindow(j.startMs))).toSeq
    val jobSpans = jobs.map(j => Span(s"${e.id}/job${j.id}", phaseOf(j.startMs),
      "job", j.startMs, j.endMs, Map("tagged" -> (if (j.execId.isDefined) 1.0 else 0.0))))
    val jobIds = jobs.map(_.id).toSet
    val stageSpans = book.stages.values.toSeq.flatMap { s =>
      book.jobOf(s.stageId).filter(j => jobIds.contains(j.id)).map { j =>
        val t = s.totals
        Span(s"${e.id}/stage${s.stageId}.${s.attempt}", s"${e.id}/job${j.id}",
          "stage", s.startMs, s.endMs, Map("tasks" -> t.tasks.toDouble,
            "cpu_s" -> t.cpuNs / 1e9, "run_s" -> t.runMs / 1e3,
            "shuffle_write_mb" -> t.shuffleWrite / 1048576.0,
            "shuffle_read_mb" -> t.shuffleRead / 1048576.0))
      }
    }
    val phaseSpans = phases.filter(p => p.phases.nonEmpty && inWindow(p.startMs))
      .zipWithIndex.flatMap { case (p, i) =>
        p.phases.toSeq.sortBy(_._2._1).map { case (name, (s, t)) =>
          Span(s"${e.id}/q$i.$name", phaseOf(p.startMs), s"catalyst.$name", s, t)
        }
      }
    Seq(root, build, exec, release) ++ jobSpans ++ stageSpans ++ phaseSpans
  }

  /** One steady pass in terms of `f`: for each gate, the median of `f`
    * over the passes, summed over gates. A hiccup that slows one gate in
    * one pass moves no median.
    */
  def steadyPass(passes: Seq[Seq[Exec]], f: Exec => Double): Double =
    passes.flatten.groupBy(_.gate).values.map(es => median(es.map(f))).sum

  private def orZero(xs: Seq[Double])(f: Seq[Double] => Double) =
    if (xs.isEmpty) 0.0 else f(xs)

  /** End-to-end metrics of a run, in CPU seconds of the JVM outside its
    * JIT compiler threads. `passes` are the measured passes; a run without
    * any reports zeros, never throws.
    */
  def endToEnd(coldPassCpuS: Double, passes: Seq[Seq[Exec]],
      setupSamples: Seq[Double], failed: Int,
      attempted: Int): Seq[(String, Double, String)] = {
    val cpu = passes.flatten.map(_.cpuS)
    Seq(
      ("run_cpu_s", steadyPass(passes, _.cpuS), "s"),
      ("cold_pass_cpu_s", coldPassCpuS, "s"),
      ("gate_cpu_p50_s", orZero(cpu)(quantile(_, 0.5)), "s"),
      ("gate_cpu_p90_s", orZero(cpu)(quantile(_, 0.9)), "s"),
      ("setup_s", orZero(setupSamples)(median), "s"),
      ("ok_rate", if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted, "ratio"))
  }

  /** The same quantities in wall-clock seconds, which also count the time
    * the host gave the machine's CPUs to other guests.
    */
  def wall(coldPassS: Double, passes: Seq[Seq[Exec]]): Seq[(String, Double, String)] = {
    val lat = passes.flatten.map(_.latencyS)
    Seq(
      ("wall.run_s", steadyPass(passes, e => e.latencyS + e.releaseS), "s"),
      ("wall.cold_pass_s", coldPassS, "s"),
      ("wall.gate_p50_s", orZero(lat)(quantile(_, 0.5)), "s"),
      ("wall.gate_p90_s", orZero(lat)(quantile(_, 0.9)), "s"))
  }

  /** The failure a non-zero storage reading after a gate's release is:
    * whatever the gate pinned must be gone before the next gate starts.
    */
  def leakError(bytesHeld: Long): Option[String] =
    if (bytesHeld > 0) Some(s"storage leak: $bytesHeld bytes held after release")
    else None

  /** JSON number: finite values as measured; anything else as 0. */
  def num(v: Double, digits: Int): String =
    if (v.isNaN || v.isInfinite) "0"
    else BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_EVEN)
      .bigDecimal.stripTrailingZeros.toPlainString

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  val MaxSummaryBytes = 1900

  /** The result line: correct / attempted / failed / metrics, at most
    * [[MaxSummaryBytes]] bytes. Values keep as many decimals as fit (at
    * most 6); if even whole numbers do not fit, the line is refused.
    */
  def summaryLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    def render(digits: Int) = {
      val ms = metrics.map { case (n, v, u) =>
        s"${quote(n)}:{${quote("value")}:${num(v, digits)},${quote("unit")}:${quote(u)}}"
      }.mkString("{", ",", "}")
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
    }
    (6 to 0 by -1).iterator.map(render)
      .find(_.getBytes("UTF-8").length <= MaxSummaryBytes)
      .getOrElse(throw new IllegalStateException(
        s"summary of ${metrics.size} metrics exceeds $MaxSummaryBytes bytes"))
  }
}
