package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.perfbench.Report.Exec

class ReportSpec extends AnyFunSuite {
  private def exec(id: String, pass: Int, startMs: Long, buildEndMs: Long,
      executeEndMs: Long, latencyS: Double = 1.0): Exec =
    Exec(id, pass, "q01_pricing_summary", "queries.relational", startMs,
      buildEndMs, executeEndMs, executeEndMs, executeEndMs + 1, 0.0, latencyS,
      0.001, 1L, BigInt(7), BigInt(7), 0L, None)

  private def opts(dir: java.io.File, stamp: String): Main.Opts =
    Main.Opts("models_sf01", 1, 1, trace = true, 4, dir.getPath, dir.getPath,
      dir.getPath, dir.getPath, 1, stamp, Nil, probe = false)

  test("p90 needs 100 samples for ten beyond it; fewer leave fewer beyond") {
    assert(Report.beyond(100, 0.9) === 10)
    assert(Report.beyond(99, 0.9) === 9)
    assert(Report.beyond(55, 0.9) === 5)
    assert(Report.beyond(20, 0.5) === 10)
    val xs = (1 to 100).map(_.toDouble)
    val p90 = Report.quantile(xs, 0.9)
    assert(p90 > 90.0 && p90 < 91.0)
    assert(xs.count(_ > p90) === 10)
    assert(math.abs(Report.quantile(xs, 0.5) - 50.5) < 1e-9) // symmetric
    assert(math.abs(Report.quantile(Seq(3.0), 0.9) - 3.0) < 1e-12)
    assert(math.abs(Report.quantile(Seq(5.0, 5.0, 5.0), 0.5) - 5.0) < 1e-12)
    // Every order statistic weighs in: the top sample moves p90 a little,
    // where a nearest-rank p90 of ten samples would not move at all.
    val ten = (1 to 10).map(_.toDouble)
    assert(Report.quantile(ten :+ 100.0, 0.9) > Report.quantile(ten :+ 11.0, 0.9))
    assertThrows[IllegalArgumentException](Report.quantile(Nil, 0.5))
    assert(Report.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("self time is the span minus the union of its children, clipped") {
    val parent = Span("g", "", "gate", 0, 100)
    val kids = Seq(Span("a", "g", "job", 10, 30), Span("b", "g", "job", 20, 50),
      Span("c", "g", "job", 90, 130), Span("d", "g", "job", 200, 300))
    // covered: [10,50) ∪ [90,100) = 50
    assert(Report.selfMs(parent, kids) === 50)
    assert(Report.selfMs(parent, Nil) === 100)
    assert(Report.selfMs(parent, Seq(Span("x", "g", "job", -5, 500))) === 0)
    assert(Report.covered(Seq((5L, 5L), (7L, 3L)), 0, 10) === 0)
  }

  test("a retried stage stays two attempts, each attributed by its job's tag") {
    val book = new TraceBook("pb-")
    book.jobStart(1, 1000, Seq("spark-session-0f3c-pb-p1.0", "other"), Seq(3, 4))
    book.stageSubmitted(3, 0, 1001)
    book.taskEnd(3, 0, TaskTotals(tasks = 1, cpuNs = 2000000000L))
    book.stageCompleted(3, 0, 1100) // fetch failure: attempt 0 ends
    book.stageSubmitted(3, 1, 1101)
    book.taskEnd(3, 1, TaskTotals(tasks = 1, cpuNs = 1000000000L))
    book.taskEnd(3, 1, TaskTotals(tasks = 1, cpuNs = 1000000000L))
    book.stageCompleted(3, 1, 1200)
    book.stageSubmitted(4, 0, 1201)
    book.taskEnd(4, 0, TaskTotals(tasks = 1, shuffleRead = 10))
    book.stageCompleted(4, 0, 1300)
    book.jobEnd(1, 1300)
    // A job of another execution, and an untagged job outside the window.
    book.jobStart(2, 1400, Seq("pb-p1.1"), Seq(5))
    book.stageSubmitted(5, 0, 1400)
    book.taskEnd(5, 0, TaskTotals(tasks = 9))
    book.jobEnd(2, 1450)
    book.jobStart(3, 5000, Nil, Seq(6))
    book.jobEnd(3, 5001)

    assert(book.stages.keySet === Set((3, 0), (3, 1), (4, 0), (5, 0)))
    assert(book.stages((3, 0)).totals.tasks === 1)
    assert(book.stages((3, 1)).totals.tasks === 2)
    val e = exec("p1.0", 1, 990, 995, 1390)
    val l = Report.layers(e, book, Nil)
    assert(l.jobs === 1 && l.untaggedJobs === 0)
    assert(l.stages === 3)
    assert(l.totals.tasks === 4)
    assert(l.totals.cpuNs === 4000000000L)
    assert(l.totals.shuffleRead === 10)
    assert(l.jobActiveMs === 300)
    assert(l.driverGapMs === 100)
    val spans = Report.spans(e, book, Nil)
    assert(spans.count(_.name == "stage") === 3)
    assert(spans.filter(_.name == "stage").map(_.id).toSet ===
      Set("p1.0/stage3.0", "p1.0/stage3.1", "p1.0/stage4.0"))
    assert(spans.filter(_.name == "stage").forall(_.parent == "p1.0/job1"))
    assert(spans.find(_.name == "job").get.parent === "p1.0/execute")
  }

  test("an untagged job inside an execution's window counts, and says so") {
    val book = new TraceBook("pb-")
    book.jobStart(7, 1500, Nil, Seq(1))
    book.jobEnd(7, 1600)
    val l = Report.layers(exec("p2.0", 2, 1000, 1400, 2000), book, Nil)
    assert(l.jobs === 1 && l.untaggedJobs === 1)
  }

  test("catalyst phases count by the window their first phase starts in") {
    val p = PhaseRecord(Map("analysis" -> (1000L, 1010L),
      "optimization" -> (1010L, 1040L), "planning" -> (1040L, 1050L)))
    val l = Report.layers(exec("p1.0", 1, 1000, 1005, 1100), new TraceBook("pb-"),
      Seq(p, PhaseRecord(Map("analysis" -> (3000L, 3001L)))))
    assert(l.queries === 1)
    assert(l.analysisS === 0.01 && l.optimizationS === 0.03 && l.planningS === 0.01)
  }

  test("an empty workload yields zero metrics, not an exception") {
    val e2e = Report.endToEnd(0.0, Nil, Seq(1.5, 1.2, 1.4), failed = 0,
      attempted = 0)
    assert(e2e.map(_._1) === Seq("run_cpu_s", "cold_pass_cpu_s",
      "gate_cpu_p50_s", "gate_cpu_p90_s", "setup_s", "ok_rate"))
    assert(e2e.find(_._1 == "gate_cpu_p90_s").get._2 === 0.0)
    assert(e2e.find(_._1 == "setup_s").get._2 === 1.4)
    assert(e2e.find(_._1 == "ok_rate").get._2 === 0.0)
    assert(Report.wall(0.0, Nil).forall(_._2 == 0.0))
    assert(Workloads.measuredPasses(Workloads.Workload("empty", Nil), 60) === 0)
    val line = Report.summaryLine(correct = false, 0, 0, e2e)
    assert(line.startsWith("""{"correct":false,"attempted":0,"failed":0,"metrics":{"run_cpu_s":"""))
  }

  test("measured passes are a count set by --seconds, never by the clock") {
    val w = Workloads.Workload("w", Seq("q01_pricing_summary"))
    assert(Workloads.measuredPasses(w, 1) === Workloads.MinPasses)
    assert(Workloads.measuredPasses(w, 10) === 2)
    assert(Workloads.measuredPasses(w, 30) === 30 / Workloads.SecondsPerPass)
  }

  test("the summary line stays within 1,900 bytes for every per-layer metric") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile
    val names = new Record(opts(dir, "s"), Workloads.modelsSf01,
      new TraceBook("pb-"), Nil).perLayer(Nil, 4, 0.0, 0.0)
    new java.io.File(dir, "models_sf01").delete()
    dir.delete()
    assert(names.size === 37)
    // Values wider than any run has produced: 6 integer digits, 6 decimals.
    val wide = names.map { case (n, _, u) => (n, 123456.123456789, u) }
    val line = Report.summaryLine(correct = true, 123456, 0, wide)
    assert(line.getBytes("UTF-8").length <= Report.MaxSummaryBytes)
    assert(line.contains("\"catalyst.analysis_s\":{\"value\":123456"))
    val small = Report.summaryLine(correct = true, 1, 0, Seq(("run_s", 1.23456789, "s")))
    assert(small === """{"correct":true,"attempted":1,"failed":0,"metrics":{"run_s":{"value":1.234568,"unit":"s"}}}""")
    val tooMany = (1 to 200).map(i => (s"m$i", 1.0, "s"))
    assertThrows[IllegalStateException](Report.summaryLine(correct = true, 1, 0, tooMany))
  }

  test("storage still held after release is a leak, and fails the execution") {
    assert(Report.leakError(0L) === None)
    assert(Report.leakError(4096L) ===
      Some("storage leak: 4096 bytes held after release"))
  }

  test("outputs are checked across runs only against a record with the same stamp") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile
    def check(stamp: String, execs: Exec*) =
      new Record(opts(dir, stamp), Workloads.modelsSf01, new TraceBook("pb-"), Nil)
        .checkAcrossRuns(execs)
    val good = exec("p0.0", 0, 0, 1, 2)
    val other = good.copy(witness = BigInt(8))
    val failing = other.copy(gate = "q03_topk_orders", error = Some("threw"))
    // A first pass with a failure records nothing; the next clean run does.
    assert(check("a", good, failing) === Nil)
    assert(check("a", other) === Nil)
    assert(check("a", good).map(_.take(31)) === Seq("q01_pricing_summary: output 1:7"))
    assert(check("a", other) === Nil)
    // Another stamp is no earlier run: nothing to compare, and it re-records.
    assert(check("b", good) === Nil)
    assert(check("b", other).size === 1)
    val outputs = new java.io.File(dir, "models_sf01/seed1.x1.outputs.json")
    assert(new String(java.nio.file.Files.readAllBytes(outputs.toPath), "UTF-8") ===
      "{\"_stamp\":\"b\",\"q01_pricing_summary\":\"1:7\"}\n")
    outputs.delete(); outputs.getParentFile.delete(); dir.delete()
  }

  test("every gate of every workload maps to a module and exists") {
    val known = graft.SparkEntry.queries.keySet
    Workloads.all.foreach { w =>
      assert(w.gates.nonEmpty, w.name)
      w.gates.foreach { g =>
        assert(known.contains(g), g)
        assert(Workloads.modules.contains(Workloads.moduleOf(g)), g)
      }
    }
    assert(Workloads.byName("nope").isEmpty)
  }
}
