package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.perfbench.Report.{Exec, num, quote}

/** The run's on-disk record, written after `spark.stop()`:
  *   - `<workload>/seed<N>.trace<T>.gates.jsonl`: one line per gate
  *     execution with its layer split (layers only in traced runs);
  *   - `<workload>/seed<N>.spans.jsonl`: the span tree (traced runs);
  *   - `<workload>/seed<N>.trace<T>.summary.json`: every metric, the
  *     wall-clock metrics, the gate sample count, the share of CPU time the
  *     host stole during the gates and, in traced runs, the tracing overhead
  *     against the untraced run of the same workload and seed;
  *   - `<workload>/seed<N>.x<k>.outputs.json`: (rows, witness) per gate and
  *     the stamp of the build and inputs, written by the first clean run of
  *     a seed (at amplification k) and checked by every later run with the
  *     same stamp, so traced and untraced runs must agree.
  */
final class Record(o: Main.Opts, w: Workloads.Workload, book: TraceBook,
    phases: Seq[PhaseRecord]) {
  private val dir = new File(o.recordDir, w.name)
  dir.mkdirs()
  private val base = s"seed${o.seed}"
  private val traceN = if (o.trace) 1 else 0
  private def file(name: String) = new File(dir, name)
  private def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8))
  private def read(f: File): Option[String] =
    if (f.isFile) Some(new String(Files.readAllBytes(f.toPath), UTF_8)) else None

  private val layerCache = scala.collection.mutable.Map[String, Report.Layers]()
  def layers(e: Exec): Report.Layers =
    layerCache.getOrElseUpdate(e.id, Report.layers(e, book, phases))

  /** Per-layer metrics: summed over each steady pass, median across passes;
    * then a pass's wall-clock seconds (`wall.run_s`; the other wall-clock
    * metrics are in the summary file only, as the 1,900-byte result line
    * has no room for them) and the JVM's peak RSS.
    */
  def perLayer(passes: Seq[Seq[Exec]], cores: Int, wallRunS: Double,
      peakRssMb: Double): Seq[(String, Double, String)] = {
    def med(f: Seq[Exec] => Double): Double =
      if (passes.isEmpty) 0.0 else Report.median(passes.map(f))
    def lsum(f: Report.Layers => Double)(p: Seq[Exec]): Double =
      p.map(e => f(layers(e))).sum
    def t(f: TaskTotals => Double)(p: Seq[Exec]): Double =
      p.map(e => f(layers(e).totals)).sum
    val mb = 1048576.0
    val cpuUtil = (p: Seq[Exec]) => {
      val active = lsum(_.jobActiveMs / 1e3)(p)
      if (active <= 0) 0.0 else t(_.cpuNs / 1e9)(p) / (active * cores)
    }
    def module(m: String)(p: Seq[Exec]) = p.filter(_.module == m).map(_.cpuS).sum
    def moduleCpu(m: String)(p: Seq[Exec]) = t(_.cpuNs / 1e9)(p.filter(_.module == m))
    Seq(
      ("catalyst.analysis_s", med(lsum(_.analysisS)), "s"),
      ("catalyst.optimization_s", med(lsum(_.optimizationS)), "s"),
      ("catalyst.planning_s", med(lsum(_.planningS)), "s"),
      ("catalyst.queries", med(lsum(_.queries)), "count"),
      ("scheduler.jobs", med(lsum(_.jobs)), "count"),
      ("scheduler.stages", med(lsum(_.stages)), "count"),
      ("scheduler.tasks", med(t(_.tasks.toDouble)), "count"),
      ("scheduler.driver_gap_s", med(lsum(_.driverGapMs / 1e3)), "s"),
      ("executor.task_cpu_s", med(t(_.cpuNs / 1e9)), "s"),
      ("executor.task_run_s", med(t(_.runMs / 1e3)), "s"),
      ("executor.gc_s", med(t(_.gcMs / 1e3)), "s"),
      ("jvm.jit_cpu_s", med(_.map(_.jitS).sum), "s"),
      ("executor.cpu_util", med(cpuUtil), "ratio"),
      ("shuffle.write_mb", med(t(_.shuffleWrite / mb)), "MB"),
      ("shuffle.read_mb", med(t(_.shuffleRead / mb)), "MB"),
      ("shuffle.fetch_wait_s", med(t(_.fetchWaitMs / 1e3)), "s"),
      ("shuffle.spill_mem_mb", med(t(_.spillMem / mb)), "MB"),
      ("shuffle.spill_disk_mb", med(t(_.spillDisk / mb)), "MB"),
      ("io.input_mb", med(t(_.inputBytes / mb)), "MB"),
      ("io.output_mb", med(t(_.outputBytes / mb)), "MB"),
      ("io.output_rows", med(t(_.outputRows.toDouble)), "count"),
      ("queries.build_s", med(_.map(_.buildS).sum), "s"),
      ("queries.execute_s", med(_.map(_.executeS).sum), "s"),
      ("core.release_s", med(_.map(_.releaseS).sum), "s"),
      ("core.storage_after_release_mb", med(_.map(_.storageAfter / mb).sum), "MB"),
    ) ++ Workloads.moduleMetrics.map { case (m, n) => (n, med(module(m)), "s") } ++ Seq(
      ("text.task_cpu_s", med(moduleCpu("text")), "s"),
      ("dedup.task_cpu_s", med(moduleCpu("dedup")), "s"),
      ("wall.run_s", wallRunS, "s"), ("peak_rss_mb", peakRssMb, "MB"))
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${quote(n)}:{\"value\":${num(v, 6)},\"unit\":${quote(u)}}" }
      .mkString("{", ",", "}")

  private def execLine(e: Exec): String = {
    val fields = Seq(
      "id" -> quote(e.id), "pass" -> e.pass.toString, "gate" -> quote(e.gate),
      "module" -> quote(e.module), "build_s" -> num(e.buildS, 6),
      "execute_s" -> num(e.executeS, 6), "release_s" -> num(e.releaseS, 6),
      "cpu_s" -> num(e.cpuS, 4), "jit_s" -> num(e.jitS, 4),
      "steal_s" -> num(e.stealS, 2),
      "rows" -> e.rows.toString, "witness" -> quote(e.witness.toString),
      "storage_after_release_bytes" -> e.storageAfter.toString,
      "error" -> e.error.map(quote).getOrElse("null")) ++
      (if (!o.trace) Nil else {
        val l = layers(e)
        val t = l.totals
        Seq("jobs" -> l.jobs.toString, "untagged_jobs" -> l.untaggedJobs.toString,
          "stages" -> l.stages.toString, "tasks" -> t.tasks.toString,
          "driver_gap_s" -> num(l.driverGapMs / 1e3, 3),
          "task_cpu_s" -> num(t.cpuNs / 1e9, 6), "task_run_s" -> num(t.runMs / 1e3, 3),
          "gc_s" -> num(t.gcMs / 1e3, 3),
          "shuffle_write_bytes" -> t.shuffleWrite.toString,
          "shuffle_read_bytes" -> t.shuffleRead.toString,
          "spill_disk_bytes" -> t.spillDisk.toString,
          "input_bytes" -> t.inputBytes.toString,
          "output_bytes" -> t.outputBytes.toString,
          "analysis_s" -> num(l.analysisS, 3),
          "optimization_s" -> num(l.optimizationS, 3),
          "planning_s" -> num(l.planningS, 3), "queries" -> l.queries.toString)
      })
    fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
  }

  private def spanLine(s: Span, self: Long): String =
    (Seq("id" -> quote(s.id), "parent" -> quote(s.parent), "name" -> quote(s.name),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "self_ms" -> self.toString) ++
      s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v, 6) })
      .map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  def write(execs: Seq[Exec], passes: Seq[Seq[Exec]],
      e2e: Seq[(String, Double, String)], wall: Seq[(String, Double, String)],
      perLayer: Seq[(String, Double, String)],
      samples: Int, failed: Int, attempted: Int): Unit = {
    write(file(s"$base.trace$traceN.gates.jsonl"),
      execs.map(execLine).mkString("", "\n", "\n"))
    if (o.trace) {
      val spans = execs.flatMap(e => Report.spans(e, book, phases))
      val children = spans.groupBy(_.parent)
      write(file(s"$base.spans.jsonl"), spans.map(s =>
        spanLine(s, Report.selfMs(s, children.getOrElse(s.id, Nil))))
        .mkString("", "\n", "\n"))
    }
    // Tracing overhead: this traced run against the untraced run of the
    // same workload and seed, in CPU and in wall-clock time of a pass.
    val untraced = if (o.trace) read(file(s"$base.trace0.summary.json")) else None
    def overhead(name: String, mine: Seq[(String, Double, String)]) = (for {
      s <- untraced
      m <- ("\"" + java.util.regex.Pattern.quote(name) +
        "\":\\{\"value\":([0-9.eE+-]+)").r.findFirstMatchIn(s)
      theirs = m.group(1).toDouble if theirs > 0
      v <- mine.find(_._1 == name)
    } yield num(v._2 / theirs - 1.0, 4)).getOrElse("null")
    val steal = execs.map(_.stealS).sum /
      math.max(1e-9, execs.map(_.latencyS).sum * o.cores)
    val fields = Seq(
      "workload" -> quote(w.name), "seed" -> o.seed.toString,
      "trace" -> traceN.toString, "cores" -> o.cores.toString,
      "gates" -> w.gates.size.toString, "warm_passes" -> w.warmPasses.toString,
      "passes" -> passes.size.toString,
      "gate_samples" -> samples.toString,
      "beyond_p90" -> Report.beyond(samples, 0.9).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "host_steal_share" -> num(steal, 4),
      "end_to_end" -> metricsJson(e2e), "wall" -> metricsJson(wall),
      "tracing_overhead" -> Seq("run_cpu_s" -> overhead("run_cpu_s", e2e),
        "wall.run_s" -> overhead("wall.run_s", wall))
        .map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")) ++
      (if (o.trace) Seq("per_layer" -> metricsJson(perLayer),
        "untagged_jobs" -> execs.map(e => layers(e).untaggedJobs).sum.toString)
      else Nil)
    write(file(s"$base.trace$traceN.summary.json"),
      fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}\n"))
  }

  /** Compare this run's first-pass outputs with those an earlier run of
    * the same workload, seed and stamp recorded. A record with another
    * stamp (other sources or inputs) counts as no earlier run. Only a run
    * whose first pass had no failure records its outputs.
    */
  def checkAcrossRuns(first: Seq[Exec]): Seq[String] = {
    val f = file(s"$base.x${o.amplify}.outputs.json")
    val mine = first.filter(_.error.isEmpty).map(e => e.gate -> s"${e.rows}:${e.witness}")
    val recorded = read(f).map("\"([^\"]+)\":\"([^\"]+)\"".r.findAllMatchIn(_)
      .map(m => m.group(1) -> m.group(2)).toMap)
    recorded.filter(_.get(Record.StampKey).contains(o.stamp)) match {
      case None =>
        if (first.forall(_.error.isEmpty))
          write(f, ((Record.StampKey -> o.stamp) +: mine)
            .map { case (g, v) => s"${quote(g)}:${quote(v)}" }.mkString("{", ",", "}\n"))
        Nil
      case Some(theirs) =>
        mine.collect { case (g, v) if theirs.get(g).exists(_ != v) =>
          s"$g: output $v differs from the earlier run's ${theirs(g)} (same seed)"
        }
    }
  }
}

object Record {
  /** Key of the stamp in an outputs file; no gate has this name. */
  val StampKey = "_stamp"
}
