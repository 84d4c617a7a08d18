package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's structural regression guard
  * (`Bench.structuralRegressions`), the committed per-scale references it
  * reads, the compact stdout line, and the session defaults every entry
  * point shares.
  */
class BenchBaselineSpec extends AnyFunSuite {

  /** One record line; fields left out take a quiet gate's values. */
  private def gate(name: String, ok: Boolean = true, jobs: Long = 6,
      stages: Long = 6, read: Long = 100000, write: Long = 100000,
      cpu: Long = 500000000L, driver: Long = 200000000L): String =
    s"""{"gate":"$name","wall_s":1.000,"ok":$ok,"driver_cpu_ns":$driver,""" +
      s""""jobs":$jobs,"stages":$stages,"tasks":24,"cpu_ns":$cpu,"run_ms":900,""" +
      s""""gc_ms":10,"shuffle_read_bytes":$read,"shuffle_write_bytes":$write,""" +
      """"spill_mem_bytes":0,"spill_disk_bytes":0,"stage_attempts":[],"cc_rounds":[]}"""

  private def guard(reference: Seq[String], run: String*) =
    Bench.structuralRegressions(Some(reference), run)

  test("structural guard: one more job or one more stage flags, naming both values") {
    val ref = Seq(gate("dd_cluster", jobs = 56, stages = 60), gate("q1"))
    assert(guard(ref, gate("dd_cluster", jobs = 57, stages = 60), gate("q1"))
      === ((Seq("dd_cluster jobs 56>57"), Nil)))
    assert(guard(ref, gate("dd_cluster", jobs = 56, stages = 61), gate("q1", stages = 7))
      === ((Seq("dd_cluster stages 60>61", "q1 stages 6>7"), Nil)))
    // Several fields of one gate make one entry.
    assert(guard(ref, gate("dd_cluster", jobs = 57, stages = 61))._1
      === Seq("dd_cluster jobs 56>57, stages 60>61"))
  }

  test("structural guard: a decrease never flags") {
    assert(guard(Seq(gate("g")), gate("g", jobs = 1, stages = 1, read = 0,
      write = 0, cpu = 0, driver = 0)) === ((Nil, Nil)))
  }

  test("structural guard: shuffle bytes flag only past x1.10 and +64 KiB") {
    val ref = Seq(gate("small", read = 1000, write = 0),
      gate("big", read = 10000000, write = 0))
    // x3 but only +2,000 bytes: under the floor.
    assert(guard(ref, gate("small", read = 3000, write = 0))._1.isEmpty)
    // +900,000 bytes but x1.09: within the ratio.
    assert(guard(ref, gate("big", read = 10000000, write = 900000))._1.isEmpty)
    // Past both: read and written bytes count together.
    assert(guard(ref, gate("big", read = 10000000, write = 1100000))._1
      === Seq("big shuffle_bytes 10000000>11100000"))
    assert(guard(ref, gate("small", read = 1000, write = 70000))._1
      === Seq("small shuffle_bytes 1000>71000"))
  }

  test("structural guard: task and driver CPU flag only past x1.5 and +1.0 s") {
    val ref = Seq(gate("g", cpu = 100000000L, driver = 100000000L),
      gate("h", cpu = 4000000000L, driver = 4000000000L))
    // x9 of a 0.1 s gate is still under the 1.0 s floor.
    assert(guard(ref, gate("g", cpu = 900000000L, driver = 900000000L))._1.isEmpty)
    // +1.9 s but x1.48 on a 4 s gate: within the ratio.
    assert(guard(ref, gate("h", cpu = 5900000000L, driver = 5900000000L))._1.isEmpty)
    assert(guard(ref, gate("g", cpu = 1200000000L))._1
      === Seq("g cpu_ns 100000000>1200000000"))
    assert(guard(ref, gate("h", driver = 6100000000L, cpu = 4000000000L))._1
      === Seq("h driver_cpu_ns 4000000000>6100000000"))
  }

  test("structural guard: a gate the reference lacks warns, never flags") {
    assert(guard(Seq(gate("g")), gate("g"), gate("new_gate", jobs = 99))
      === ((Nil, Seq("new_gate: not in the reference"))))
  }

  test("structural guard: a gate failed in the run or in the reference is " +
      "not compared") {
    val ref = Seq(gate("g"), gate("was_failing", ok = false, jobs = 1))
    assert(guard(ref, gate("g", ok = false, jobs = 99), gate("was_failing"))
      === ((Nil, Nil)))
  }

  test("structural guard: no reference gives one warning and no flags") {
    val (flags, warnings) =
      Bench.structuralRegressions(None, Seq(gate("g", jobs = 99), gate("h")))
    assert(flags.isEmpty && warnings.size === 1, warnings)
  }

  test("every committed BASELINE_metrics_sf*.jsonl names exactly the gates, " +
      "each with at least one job") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val refs = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(_.getName.matches("BASELINE_metrics_sf[0-9.]+\\.jsonl"))
    assert(refs.map(_.getName).toSet.contains("BASELINE_metrics_sf0.1.jsonl"))
    for (f <- refs) {
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
        .filter(_.trim.nonEmpty).map(mapper.readTree)
      val names = lines.map(_.get("gate").asText)
      assert(names.sorted === SparkEntry.queries.keys.toSeq.sorted, f.getName)
      lines.foreach(n => assert(n.get("ok").asBoolean && n.get("jobs").asLong >= 1,
        s"${f.getName}: $n"))
    }
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
