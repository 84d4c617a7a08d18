package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench regression guard's baseline parse/selection path
  * (Bench.baselineQueries / baselineSf / selectBaselines). Driver-recorded
  * BENCH_r*.json files are bounded stdout excerpts and HAVE arrived
  * truncated (BASELINE.md round-13 note); which recording the guard
  * compares against silently changing under truncation cost two rounds of
  * flag adjudication — this spec makes every degradation case loud and
  * deterministic.
  */
class BenchBaselineSpec extends AnyFunSuite {

  private val rawLine =
    """{"metric":"total","value":12.3,"unit":"sec","queries":{"q1":1.250,""" +
      """"dd_x":0.375},"failed":[],"regressions":[],"sf":"/root/testdata/sf0.1"}"""

  // The driver envelope: bare-number sf at top level, the bench line
  // escaped inside "tail".
  private val envelope =
    s"""{"n": 7, "rc": 0, "sf": 0.1, "tail": "${rawLine.replace("\"", "\\\"")}"}"""

  test("baselineQueries parses both the raw bench line and the driver envelope") {
    val expected = Map("q1" -> 1.25, "dd_x" -> 0.375)
    assert(Bench.baselineQueries(rawLine) === expected)
    assert(Bench.baselineQueries(envelope) === expected)
    // r17 record shape: the run-order positions map precedes the queries
    // map (so head-truncation eats the reconstructable field first) —
    // the parser must anchor on the "queries" key, never grab positions'
    // integer entries.
    val withPositions = rawLine.replace("\"queries\"",
      """"positions":{"q1":0,"dd_x":1},"queries"""")
    assert(Bench.baselineQueries(withPositions) === expected)
  }

  test("a record truncated before the queries map parses EMPTY, not partial") {
    // Head-truncation eats the {"metric":... opening and the "queries":{
    // key — exactly the r13 shape (BENCH_r13.json's tail starts mid-map).
    val truncated = rawLine.drop(rawLine.indexOf("\"q1\""))
    assert(Bench.baselineQueries(truncated) === Map.empty)
  }

  test("compactLine: queries last, fastest-first, integer ms, guard-safe") {
    val line = Bench.compactLine(
      Seq("slow_gate" -> 2.5004, "fast_gate" -> 0.0996, "mid_gate" -> 1.0),
      3.6, Seq("bad_gate"), "/root/testdata/sf0.1")
    // `queries` is the FINAL field (the driver keeps a bounded stdout
    // TAIL, so the suffix that survives must be all queries map), sorted
    // fastest-first so the retained suffix holds the slowest gates.
    assert(line.endsWith(
      """"queries":{"fast_gate":100,"mid_gate":1000,"slow_gate":2500}}"""))
    assert(line.contains(""""metric":"total""""))
    assert(line.contains(""""value":3.600"""))
    assert(line.contains(""""queries_unit":"ms""""))
    assert(line.contains(""""failed":["bad_gate"]"""))
    // Guard safety: integer-ms entries must NEVER parse as per-gate
    // SECONDS — baselineQueries' pair regex requires a decimal point, so
    // a record holding only the compact line parses EMPTY (and is skipped
    // as truncated) instead of poisoning a baseline leg ×1000.
    assert(Bench.baselineQueries(line) === Map.empty)
  }

  test("baselineSf reads bare-number, quoted-number and directory-path forms") {
    assert(Bench.baselineSf("""{"sf": 0.1, "tail": "..."}""") === Some("0.1"))
    assert(Bench.baselineSf("""{"sf":"0.01"}""") === Some("0.01"))
    assert(Bench.baselineSf(rawLine) === Some("0.1"))
    assert(Bench.baselineSf(envelope) === Some("0.1"))
    assert(Bench.baselineSf("""{"metric":"total"}""") === None)
  }

  private val sfDir = "/root/testdata/sf0.1"
  private def cand(label: String, sf: String, qs: (String, Double)*)
      : (String, Option[String], Map[String, Double]) =
    (label, Some(sf), qs.toMap)

  test("blessed BASELINE_r* is the defended baseline; newer bench is latest") {
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BENCH_r01", "0.1", "q1" -> 1.0),
      cand("BASELINE_r14", "0.1", "q1" -> 1.1),
      cand("BENCH_r15", "0.1", "q1" -> 1.2)), sfDir)
    assert(chosen.map(c => c._1 -> c._2)
      === Seq("BASELINE_r14" -> 1.5, "BENCH_r15" -> 1.5))
    // Envelope without a quiet-window median companion: drift leg disarmed
    // must be LOUD, never silent.
    assert(warnings.exists(_.contains("median companion")),
      warnings.mkString("; "))
  }

  test("median companion rides the envelope at x3, never as defended or latest") {
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BASELINE_r14", "0.1", "q1" -> 4.0),
      cand("BASELINE_r15_median", "0.1", "q1" -> 1.0),
      cand("BENCH_r15", "0.1", "q1" -> 1.2)), sfDir)
    assert(chosen.map(c => c._1 -> c._2) === Seq(
      "BASELINE_r14" -> 1.5, "BASELINE_r15_median" -> 3.0,
      "BENCH_r15" -> 1.5))
    assert(warnings.isEmpty)
    // The newest median wins when several are committed.
    val (chosen2, _) = Bench.selectBaselines(Seq(
      cand("BASELINE_r14_median", "0.1", "q1" -> 2.0),
      cand("BASELINE_r15_median", "0.1", "q1" -> 1.0),
      cand("BASELINE_r14", "0.1", "q1" -> 4.0)), sfDir)
    assert(chosen2.collect { case (l, 3.0, _, _) => l }
      === Seq("BASELINE_r15_median"))
  }

  test("a median companion older than the blessed envelope warns (stale drift leg)") {
    // After an envelope re-bless WITHOUT a refreshed median companion the
    // ×3 drift leg silently kept comparing against the previous round's
    // medians — the 'disarmed' warning only fired when no median existed
    // at all. Staleness must be as loud as absence.
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BASELINE_r15_median", "0.1", "q1" -> 1.0),
      cand("BASELINE_r16", "0.1", "q1" -> 4.0)), sfDir)
    assert(chosen.map(_._1) === Seq("BASELINE_r16", "BASELINE_r15_median"))
    assert(warnings.exists(w => w.contains("OLDER") &&
      w.contains("BASELINE_r15_median") && w.contains("BASELINE_r16")),
      warnings.mkString("; "))
    // Same-round (or newer) companion: no staleness warning.
    val (_, quiet) = Bench.selectBaselines(Seq(
      cand("BASELINE_r16_median", "0.1", "q1" -> 1.0),
      cand("BASELINE_r16", "0.1", "q1" -> 4.0)), sfDir)
    assert(!quiet.exists(_.contains("OLDER")), quiet.mkString("; "))
  }

  test("roles: envelope/median/latest are labeled for the flag report") {
    val (chosen, _) = Bench.selectBaselines(Seq(
      cand("BASELINE_r15", "0.1", "q1" -> 4.0),
      cand("BASELINE_r15_median", "0.1", "q1" -> 1.0),
      cand("BENCH_LOCAL_r16", "0.1", "q1" -> 1.2)), sfDir)
    assert(chosen.map(c => c._1 -> c._4) === Seq(
      "BASELINE_r15" -> "envelope", "BASELINE_r15_median" -> "median",
      "BENCH_LOCAL_r16" -> "latest"))
  }

  test("a flag tripping only the latest leg is labeled [latest_only]") {
    // Three armed legs; the gate cost sits above latest×1.5 but below
    // envelope×1.5 and median×3 — the r15 shape whose five bare flags
    // cost the judge an artifact cross-check to adjudicate.
    val legs = Seq(
      ("BASELINE_r15", 1.5, Map("g" -> 10.0, "h" -> 10.0), "envelope"),
      ("BASELINE_r15_median", 3.0, Map("g" -> 4.0, "h" -> 4.0), "median"),
      ("BENCH_LOCAL_r15", 1.5, Map("g" -> 4.0, "h" -> 4.0), "latest"))
    val entries = Bench.regressionEntries(
      Seq(("g", 7.0, 0), ("h", 40.0, 1)), legs, noiseFloor = 1.0)
    // g: 7.0 trips only latest (x1.75); blessed legs clean → labeled.
    assert(entries.exists(e => e.contains("\"g x1.75 vs BENCH_LOCAL_r15") &&
      e.contains("[latest_only]")), entries.mkString("; "))
    // h: 40.0 trips every leg → cites the largest overshoot, no label.
    assert(entries.exists(e =>
      e.contains("\"h x10.00 vs") && !e.contains("latest_only")),
      entries.mkString("; "))
    // With NO blessed leg covering the gate, latest_only must not be
    // claimed — there is nothing clean to adjudicate against.
    val latestOnlyLegs = legs.filter(_._4 == "latest")
    val bare = Bench.regressionEntries(Seq(("g", 7.0, 0)), latestOnlyLegs, 1.0)
    assert(bare.nonEmpty && !bare.head.contains("latest_only"), bare)
    // A FALLBACK defended leg (no usable blessing existed) is not a
    // blessed reference either: clean coverage by it must not mint the
    // label in exactly the degraded configuration where flags need
    // scrutiny.
    val fallbackLegs = Seq(
      ("BENCH_r01", 1.5, Map("g" -> 10.0), "fallback"),
      ("BENCH_LOCAL_r15", 1.5, Map("g" -> 4.0), "latest"))
    val fb = Bench.regressionEntries(Seq(("g", 7.0, 0)), fallbackLegs, 1.0)
    assert(fb.nonEmpty && !fb.head.contains("latest_only"), fb)
    // And selectBaselines tags the fallback role itself.
    val (fbChosen, _) = Bench.selectBaselines(Seq(
      cand("BENCH_r01", "0.1", "q1" -> 1.0),
      cand("BENCH_r02", "0.1", "q1" -> 1.1)), sfDir)
    assert(fbChosen.map(c => c._1 -> c._4) ===
      Seq("BENCH_r01" -> "fallback", "BENCH_r02" -> "latest"))
    // Below every threshold: no entries at all.
    assert(Bench.regressionEntries(Seq(("g", 4.2, 0)), legs, 1.0).isEmpty)
  }

  test("stallWindows: contiguous elevated flags form a window, scattered flags do not") {
    // medianRatio by position; None = gate the median does not cover.
    def mr(m: Map[Int, Double]): Int => Option[Double] = m.get
    // k≥3 flags, interior position 21 elevated-but-unflagged (bridges),
    // neighbors cold on both sides — the r16 shape.
    val hotInterior = mr((17 to 24).map(_ -> 4.0).toMap ++
      Map(16 -> 1.1, 25 -> 1.2))
    assert(Bench.stallWindows(
      Seq(17, 18, 19, 20, 22, 23, 24), hotInterior, 203) === Seq((17, 24)))
    // Scattered flags over a fully-covered median (the real record shape:
    // every gate has a quiet median, non-flagged gates sit near ×1):
    // three windows of one flag each — none labels.
    val quietElsewhere = (0 to 203).map(_ -> 1.0).toMap
    assert(Bench.stallWindows(Seq(3, 40, 90),
      mr(quietElsewhere ++ Map(3 -> 5.0, 40 -> 5.0, 90 -> 5.0)),
      203) === Nil)
    // Fewer than 3 flags never label, however contiguous.
    assert(Bench.stallWindows(Seq(10, 11),
      mr(Map(10 -> 5.0, 11 -> 5.0, 9 -> 1.0, 12 -> 1.0)), 203) === Nil)
    // A COLD interior gate splits the window: 3 adjacent-by-name real
    // regressions with one quiet gate between them must NOT read as a
    // stall (the shared-code-path regression shape this label must never
    // mask).
    assert(Bench.stallWindows(Seq(10, 11, 13),
      mr(Map(10 -> 5.0, 11 -> 5.0, 12 -> 1.0, 13 -> 5.0,
        9 -> 1.0, 14 -> 1.0)), 203) === Nil)
    // No decay at an edge (the neighbor is provably elevated too):
    // the elevation does not end with the flags — withhold the label.
    assert(Bench.stallWindows(Seq(10, 11, 12),
      mr(Map(9 -> 1.0, 10 -> 5.0, 11 -> 5.0, 12 -> 5.0, 13 -> 4.0)),
      203) === Nil)
    // Run boundaries count as decayed (there is nothing outside to check).
    assert(Bench.stallWindows(Seq(0, 1, 2),
      mr(Map(0 -> 5.0, 1 -> 5.0, 2 -> 5.0, 3 -> 1.0)), 203) === Seq((0, 2)))
    assert(Bench.stallWindows(Seq(201, 202, 203),
      mr(Map(200 -> 1.0, 201 -> 5.0, 202 -> 5.0, 203 -> 5.0)),
      203) === Seq((201, 203)))
    // A gate the median does not cover BRIDGES the interior but cannot
    // prove edge elevation.
    assert(Bench.stallWindows(Seq(10, 12, 14),
      mr(Map(10 -> 5.0, 14 -> 5.0, 12 -> 5.0, 9 -> 1.0, 15 -> 1.0)),
      203) === Seq((10, 14)))
    // An UNCOVERED edge neighbor is walked PAST, not counted as decay:
    // with elevation provably continuing at the first covered position
    // beyond it, the label is withheld (real shared-code-path
    // regressions whose neighbor gate is newer than the blessing must
    // not read as a stall)...
    assert(Bench.stallWindows(Seq(10, 11, 12),
      mr(Map(9 -> 1.0, 10 -> 5.0, 11 -> 5.0, 12 -> 5.0, 14 -> 4.0)),
      203) === Nil)
    // ...and labeled when the walk finds quiet instead.
    assert(Bench.stallWindows(Seq(10, 11, 12),
      mr(Map(9 -> 1.0, 10 -> 5.0, 11 -> 5.0, 12 -> 5.0, 14 -> 1.0)),
      203) === Seq((10, 12)))
    // More than two consecutive uncovered interior positions break the
    // bridge — a stale sparse median cannot chain distant flags into
    // one spurious window.
    assert(Bench.stallWindows(Seq(10, 14, 18),
      mr(Map(9 -> 1.0, 10 -> 5.0, 14 -> 5.0, 18 -> 5.0, 19 -> 1.0)),
      203) === Nil)
  }

  test("replayed r16 driver-record shape yields [stall_window pos=17..24]") {
    // The r16 driver record carried the first blessed-leg flags in a
    // driver bench: 7 flags the judge adjudicated BY HAND to one
    // contiguous host-stall window at run positions 17–24 (VERDICT.md r16
    // item 1). The driver record itself arrived head-truncated (only the
    // regressions list survived), so the replay reconstructs the run from
    // the committed quiet-window medians × the driver-recorded overshoot
    // ratios — including dq_not_null at position 21, elevated ×4.42 but
    // under the 1 s absolute floor (the un-flagged interior bridge), with
    // quiet neighbors either side. The new analysis must label all 7
    // entries itself.
    val medianFile = new java.io.File("BASELINE_r16_median.json")
    assume(medianFile.exists(), "committed median blessing present")
    val medians = Bench.baselineQueries(
      new String(java.nio.file.Files.readAllBytes(medianFile.toPath)))
    assert(medians.size === 204)
    val driverRatios = Map(
      "dd_semantic" -> 3.29, "dd_simhash" -> 15.31,
      "dd_simhash_planted" -> 6.37, "dq_accepted_values" -> 5.81,
      "dq_not_null" -> 4.42, "dq_relationships" -> 4.67,
      "dq_store_failures" -> 3.85, "dq_unique" -> 4.32)
    val results = medians.keys.toSeq.sorted.zipWithIndex.map {
      case (g, pos) =>
        (g, medians(g) * driverRatios.getOrElse(g, 1.0), pos)
    }
    val legs = Seq(
      ("BASELINE_r16_median", 3.0, medians, "median"))
    val entries = Bench.regressionEntries(results, legs, noiseFloor = 1.0)
    val flaggedGates = driverRatios.keySet - "dq_not_null"
    assert(entries.size === flaggedGates.size, entries.mkString("; "))
    flaggedGates.foreach { g =>
      val e = entries.find(_.contains("\"" + g + " x"))
      assert(e.exists(_.contains("[stall_window pos=17..24]")),
        s"$g: ${e.getOrElse("missing")}")
    }
  }

  test("a truncated median companion warns and disarms only the drift leg") {
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BASELINE_r14", "0.1", "q1" -> 4.0),
      (("BASELINE_r15_median", Some("0.1"), Map.empty[String, Double]))), sfDir)
    assert(chosen.map(_._1) === Seq("BASELINE_r14"))
    assert(warnings.exists(w =>
      w.contains("BASELINE_r15_median") && w.contains("truncated")))
    assert(warnings.exists(_.contains("median companion")))
  }

  test("bench rounds the blessing supersedes are history, not references") {
    // BENCH_r01/r02 carried RETIRED gate bodies and re-flagged redesigned
    // gates every round (dd_simhash ×2.x, three rounds running): once a
    // blessed recording exists, only a STRICTLY NEWER bench round may
    // serve as the fresh-regression reference.
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BENCH_r01", "0.1", "q1" -> 1.0),
      cand("BENCH_r02", "0.1", "q1" -> 0.9),
      cand("BASELINE_r14", "0.1", "q1" -> 1.1)), sfDir)
    assert(chosen.map(_._1) === Seq("BASELINE_r14"))
    assert(!warnings.exists(_.contains("falls back")))
  }

  test("a committed BENCH_LOCAL record beats the driver excerpt of its round") {
    // The full target/bench.json record committed as BENCH_LOCAL_r15 is
    // complete; the driver's BENCH_r15 stdout excerpt is truncatable —
    // at equal round the LOCAL record is the latest leg.
    val (chosen, _) = Bench.selectBaselines(Seq(
      cand("BASELINE_r14", "0.1", "q1" -> 1.1),
      cand("BENCH_r15", "0.1", "q1" -> 1.2),
      cand("BENCH_LOCAL_r15", "0.1", "q1" -> 1.3)), sfDir)
    assert(chosen.filter(_._1.startsWith("BENCH")).map(_._1)
      === Seq("BENCH_LOCAL_r15"))
    // And when the driver record of the round is TRUNCATED (the r03–r14
    // shape), the committed local record alone keeps the leg alive.
    val (chosen2, _) = Bench.selectBaselines(Seq(
      cand("BASELINE_r14", "0.1", "q1" -> 1.1),
      (("BENCH_r15", Some("0.1"), Map.empty[String, Double])),
      cand("BENCH_LOCAL_r15", "0.1", "q1" -> 1.3)), sfDir)
    assert(chosen2.filter(_._1.startsWith("BENCH")).map(_._1)
      === Seq("BENCH_LOCAL_r15"))
  }

  test("truncated blessed recording warns and falls back to the oldest bench") {
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BENCH_r01", "0.1", "q1" -> 1.0),
      cand("BENCH_r13", "0.1", "q1" -> 1.2),
      (("BASELINE_r14", Some("0.1"), Map.empty[String, Double]))), sfDir)
    assert(chosen.map(_._1) === Seq("BENCH_r01", "BENCH_r13"))
    assert(warnings.exists(_.contains("BASELINE_r14")), warnings.mkString("; "))
    assert(warnings.exists(_.contains("falls back to BENCH_r01")),
      warnings.mkString("; "))
  }

  test("truncated bench at matching sf warns; other-sf records skip silently") {
    val (chosen, warnings) = Bench.selectBaselines(Seq(
      cand("BENCH_r01", "0.1", "q1" -> 1.0),
      (("BENCH_r12", Some("0.1"), Map.empty[String, Double])),
      cand("BENCH_r09", "0.01", "q1" -> 0.2)), sfDir)
    assert(chosen.map(_._1) === Seq("BENCH_r01"))
    assert(warnings.exists(w =>
      w.contains("BENCH_r12") && w.contains("truncated")))
    assert(!warnings.exists(_.contains("BENCH_r09")),
      "a different-sf record is out of scope, not a degradation")
  }

  test("a single usable record serves as both defended and latest, once") {
    val (chosen, warnings) = Bench.selectBaselines(
      Seq(cand("BENCH_r01", "0.1", "q1" -> 1.0)), sfDir)
    assert(chosen.map(c => c._1 -> c._2) === Seq("BENCH_r01" -> 1.5))
    assert(warnings.isEmpty)
  }

  test("no usable record at all selects nothing (guard disarmed, not crashed)") {
    val (chosen, _) = Bench.selectBaselines(
      Seq(cand("BENCH_r09", "0.01", "q1" -> 0.2)), sfDir)
    assert(chosen.isEmpty)
  }

  // ----------------------------------------------------- r17 perf defaults

  test("perfDefaults keeps bounded typed aggregates in hash mode " +
      "(objectHashAggregate fallback threshold raised from Spark's 128)") {
    val spark = SparkTestSession.spark
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(key)
    try {
      graft.core.Engine.perfDefaults(spark)
      assert(spark.conf.get(key).toInt ===
        graft.core.Engine.ObjAggFallbackDefault)
      assert(graft.core.Engine.ObjAggFallbackDefault > 128,
        "the raised ceiling must exceed Spark's default hair trigger")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("scratchLocalDir: explicit env wins, empty env forces Spark default, " +
      "default branch yields a writable dir or None") {
    val e = graft.core.Engine
    assert(e.scratchLocalDir(Map("SPARK_GRAFT_LOCAL_DIR" -> "/x/y"))
      === Some("/x/y"))
    assert(e.scratchLocalDir(Map("SPARK_GRAFT_LOCAL_DIR" -> "")) === None)
    e.scratchLocalDir(Map.empty) match {
      case Some(d) =>
        val f = new java.io.File(d)
        assert(f.isDirectory && f.canWrite, s"$d must be writable")
      case None => // host without a roomy tmpfs — Spark default applies
    }
  }

  test("scratchTempDir: the sweep removes every handed-out directory, " +
      "contents included, and tolerates an already-deleted entry") {
    val e = graft.core.Engine
    val d1 = e.scratchTempDir("graft-sweep-spec-")
    val d2 = e.scratchTempDir("graft-sweep-spec-")
    java.nio.file.Files.writeString(d1.resolve("payload.txt"), "x")
    java.nio.file.Files.createDirectories(d1.resolve("nested/deeper"))
    java.nio.file.Files.writeString(
      d1.resolve("nested/deeper/leaf.txt"), "y")
    // An entry the OS (or another sweep) already reclaimed must not block
    // the remaining entries' deletion.
    java.nio.file.Files.delete(d2)
    e.sweepScratchDirs()
    assert(!java.nio.file.Files.exists(d1),
      s"$d1 must be swept recursively")
    assert(!java.nio.file.Files.exists(d2))
    // Idempotent: a second sweep over the drained queue is a no-op.
    e.sweepScratchDirs()
  }

  test("compactLine: one complete JSON object within 1,900 bytes, slowest " +
      "gates kept, the rest counted as omitted") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    def check(n: Int, failed: Seq[String]): (Int, Int) = {
      // Every real gate name, padded to n with long synthetic ones; gate i
      // takes i ms + 0.5 s, so the slowest are the last.
      val names = (SparkEntry.queries.keys.toSeq.sorted ++
        (0 until n).map(i => f"synthetic_gate_with_a_long_name_$i%04d")).take(n)
      val entries = names.zipWithIndex.map { case (k, i) => k -> (0.5 + i / 1000.0) }
      val line = Bench.compactLine(entries, entries.map(_._2).sum, failed,
        "data/sf0.1")
      assert(line.getBytes("UTF-8").length <= Bench.CompactLineMaxBytes, line)
      val json = mapper.readTree(line)
      val qs = json.get("queries")
      val shown = qs.fieldNames().asScala.toSeq
      assert(json.get("n").asInt() === n)
      assert(json.get("omitted").asInt() === n - qs.size())
      assert(json.get("n_failed").asInt() === failed.size)
      // The shown gates are the slowest ones, fastest-first.
      assert(shown === names.takeRight(qs.size()))
      (qs.size(), json.get("failed").size())
    }
    assert(check(3, Nil) === ((3, 0)))
    val (shown204, _) = check(204, Seq("a_failed_gate"))
    assert(shown204 > 20 && shown204 < 204)
    // 204 failed names do not all fit: as many as the bound allows are
    // listed, and n_failed counts them all.
    val (_, failedShown) = check(204,
      (0 until 204).map(i => f"failed_gate_$i%03d"))
    assert(failedShown > 0 && failedShown < 204)
  }
}
