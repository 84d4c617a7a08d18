package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.perfbench.Report.Exec
import graft.perfbench.Workloads.Workload

/** One benchmark run in one JVM: build the session, run the workload's
  * gates pass after pass over the inputs (each gate: the public
  * call, then its full output to the `noop` sink, then the per-gate storage
  * release), check every output, and print the result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --run-dir D --record-dir R --inputs DIR --x1 DIR --amplify K
  *   --stamp S [--setup-samples s1,s2] [--probe]
  *
  * `--probe` measures set-up (JVM start to a ready session), then, on an
  * amplified workload, writes the amplified tables into `--inputs` (see
  * [[amplifyInputs]]) and exits.
  * `--inputs` holds the tables the gates read; `--x1` holds the shipped
  * sf0.1 tables, which on an amplified workload are replicated `--amplify`
  * times into `--inputs`. `--run-dir` holds every scratch location
  * (spark.local.dir, warehouse); the caller creates and removes it.
  * `--record-dir` receives the per-gate lines, the span file (traced runs)
  * and the summary. `--stamp` identifies the build and the inputs, so
  * outputs recorded by an earlier run are compared only when both match.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, runDir: String, recordDir: String,
      inputs: String, x1: String, amplify: Int, stamp: String,
      setupSamples: Seq[Double], probe: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--cores").toInt, need("--run-dir"),
      need("--record-dir"), need("--inputs"), need("--x1"),
      need("--amplify").toInt, need("--stamp"),
      kv.get("--setup-samples").toSeq.flatMap(_.split(",")).map(_.toDouble),
      args.contains("--probe"))
  }

  private val TagPrefix = "graft-perfbench-"

  /** One pass over a workload's gates: its wall seconds, the CPU seconds
    * the JVM used outside its JIT compiler threads during it, and its
    * executions.
    */
  final case class Pass(wallS: Double, cpuS: Double, execs: Seq[Exec])

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
    if (o.trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Engine.perfDefaults(spark)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(
      sys.error(s"unknown workload ${o.workload}; known: " +
        Workloads.all.map(_.name).mkString(", ")))
    val spark = session(o)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    if (o.probe) {
      println(s"setup_s $setupS")
      if (o.amplify > 1) amplifyInputs(spark, o.x1, o.inputs, o.amplify, o.seed)
      println("inputs ready")
      System.out.flush()
      // The caller removes the run directory, so skip the orderly shutdown.
      Runtime.getRuntime.halt(0)
    }
    System.err.println(f"[perfbench] set-up $setupS%.3f s")
    val book = new TraceBook(TagPrefix)
    if (o.trace) spark.sparkContext.addSparkListener(new SchedulerTracer(book))

    val runner = new GateRunner(spark, o.inputs, w, o.amplify)
    // Pass 0 is the cold pass; then the unmeasured warm passes, then the
    // measured ones. Their number follows from --seconds, not from the
    // clock, so a busy host measures the same passes as a quiet one.
    val cold = runner.pass(0)
    val warm = (1 to w.warmPasses).flatMap(p => runner.pass(p).execs)
    val steady = (1 to Workloads.measuredPasses(w, o.seconds))
      .map(i => runner.pass(w.warmPasses + i).execs)
    val peakRssMb = vmHwmMb()
    // Derivation references come last so the ×1 runs cannot warm the
    // measured passes.
    val derivationErrors = runner.derivationErrors(o.x1)
    spark.stop() // drains the listener bus before the trace is read

    val execs = cold.execs ++ warm ++ steady.flatten
    val record = new Record(o, w, book, PhaseListener.records.toArray(
      Array.empty[PhaseRecord]).toSeq)
    val crossRunErrors = record.checkAcrossRuns(cold.execs)
    val extraFailures = derivationErrors.size + crossRunErrors.size
    (derivationErrors ++ crossRunErrors).foreach(e => System.err.println(s"[perfbench] $e"))
    val failed = execs.count(_.error.nonEmpty) + extraFailures
    val attempted = execs.size + extraFailures
    val lat = steady.flatten.map(_.latencyS)
    val e2e = Report.endToEnd(cold.cpuS, steady, setupS +: o.setupSamples,
      failed, attempted)
    val wall = Report.wall(cold.wallS, steady)
    val perLayer = record.perLayer(steady, o.cores,
      wall.find(_._1 == "wall.run_s").fold(0.0)(_._2), peakRssMb)
    record.write(execs, steady, e2e, wall, perLayer, lat.size,
      failed, attempted)
    println(s"[perfbench] ${w.name} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"passes=${steady.size} gate_samples=${lat.size} " +
      s"beyond_p90=${Report.beyond(lat.size, 0.9)} failed=$failed/$attempted")
    println(Report.summaryLine(failed == 0 && attempted > 0, attempted, failed,
      if (o.trace) perLayer else e2e))
    System.out.flush()
  }

  /** Replicate the documents ×k from the shipped table in `x1` into `out`
    * through `graft.Scale.amplify`: replica r shifts every id by r · Offset,
    * other columns copy unchanged. The seed salts the shift (every id gains
    * a further (1 + seed mod 7) · Offset, so id mod Offset still maps each
    * row back to its ×1 original) and permutes the rows across the shuffle
    * partitions, one file each. Only the documents: no gate of an amplified
    * workload reads another table.
    */
  def amplifyInputs(spark: SparkSession, x1: String, out: String, k: Int,
      seed: Long): Unit = {
    val salt = (1 + Math.floorMod(seed, 7L)) * graft.Scale.Offset
    graft.Scale.amplify(spark.read.parquet(s"$x1/documents.parquet"), k, Seq("doc_id"))
      .withColumn("doc_id", col("doc_id") + lit(salt))
      .orderBy(xxhash64(lit(seed), col("doc_id")), col("doc_id"))
      .write.parquet(s"$out/documents.parquet")
  }

  /** Drop everything the previous gate pinned in executor storage: catalog
    * caches and the program's gate-scoped frames. Returns the bytes still
    * held afterwards. `clearCache` evicts asynchronously, so a non-zero
    * reading is retried for up to a second before it counts as a leak
    * ([[Report.leakError]]).
    */
  def release(spark: SparkSession): Long = {
    spark.catalog.clearCache()
    graft.core.ScopedStorage.releaseAll(blocking = true)
    def held() = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    var bytes = held()
    val until = System.nanoTime() + 1000000000L
    while (bytes > 0 && System.nanoTime() < until) {
      Thread.sleep(20)
      bytes = held()
    }
    bytes
  }

  /** Clocks of the host: the CPU time this JVM has used (every thread:
    * driver, tasks, JIT, GC; clock-tick resolution), the part of it the JIT
    * compiler threads used, and the time the hypervisor took from the
    * machine's virtual CPUs (`steal` in /proc/stat, in clock ticks; 0 where
    * the kernel does not report it).
    */
  object Host {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNs(): Long = os.getProcessCpuTime
    private def read(f: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath)).trim
    /** The JIT compiler threads. The JVM runs with a fixed number of them
      * (-XX:-UseDynamicNumberOfCompilerThreads), so none exits and takes its
      * CPU time along.
      */
    private lazy val compilers: Seq[java.io.File] =
      Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
        .filter(t => scala.util.Try(read(new java.io.File(t, "comm")))
          .toOption.exists(_.contains("CompilerThre")))
        .map(t => new java.io.File(t, "schedstat"))
    /** CPU time of the JIT compiler threads (schedstat: nanoseconds). */
    def jitNs(): Long = compilers.map(f =>
      scala.util.Try(read(f).split(" ")(0).toLong).getOrElse(0L)).sum
    def stealTicks(): Long = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    }.getOrElse(0L)
    /** Clock ticks per second of /proc/stat (USER_HZ, 100 on Linux). */
    val TicksPerS = 100.0
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Multiset witness columns, as `MaterializationQueries.contentWitness`
    * computes them, plus the same sum with every long column taken mod
    * `Scale.Offset` (ids projected back to the ×1 corpus).
    */
  def witnessColumns(df: DataFrame): Seq[Column] = {
    val hashSum = (cs: Seq[Column]) =>
      sum(xxhash64(cs: _*).cast(DecimalType(38, 0)))
    Seq(count(lit(1)).as("n"),
      hashSum(df.columns.toSeq.map(c => xxhash64(col(c)))).as("h"),
      hashSum(df.schema.fields.toSeq.map { f =>
        if (f.dataType == LongType) xxhash64(pmod(col(f.name), lit(graft.Scale.Offset)))
        else xxhash64(col(f.name))
      }).as("p"))
  }

  private def big(v: Any): BigInt = v match {
    case null => BigInt(0)
    case d: java.math.BigDecimal => BigInt(d.toBigInteger)
    case d: scala.math.BigDecimal => d.toBigInt
    case x => BigInt(x.toString)
  }

  /** Runs gates and checks their outputs against the first pass. */
  final class GateRunner(spark: SparkSession, sfDir: String, w: Workload,
      k: Int) {
    private val fns = graft.SparkEntry.queries
    private val expected = scala.collection.mutable.Map[String, (Long, BigInt, BigInt)]()

    def pass(p: Int): Pass = {
      val t0 = System.nanoTime(); val c0 = Host.cpuNs(); val j0 = Host.jitNs()
      val execs = w.gates.zipWithIndex.map { case (g, i) => run(p, i, g) }
      val jit = (Host.jitNs() - j0) / 1e9
      val r = Pass((System.nanoTime() - t0) / 1e9, (Host.cpuNs() - c0) / 1e9 - jit, execs)
      System.err.println(f"[perfbench] pass $p wall ${r.wallS}%.2f s  cpu ${r.cpuS}%.2f s  " +
        f"jit $jit%.2f s")
      r
    }

    private def run(p: Int, i: Int, gate: String): Exec = {
      val id = s"p$p.$i"
      val tag = TagPrefix + id
      spark.addTag(tag)
      spark.sparkContext.addJobTag(tag)
      var err: Option[String] = None
      var out = (0L, BigInt(0), BigInt(0))
      var df: DataFrame = null
      var cpu = 0.0; var jit = 0.0; var steal = 0.0
      val c0 = Host.cpuNs(); val j0 = Host.jitNs(); val s0 = Host.stealTicks()
      val m0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      var m1 = m0; var t1 = t0; var m2 = m0; var t2 = t0
      try {
        df = fns(gate)(spark, sfDir)
        m1 = System.currentTimeMillis(); t1 = System.nanoTime()
        m2 = m1; t2 = t1
        val obs = Observation(s"perfbench_$id".replace('.', '_'))
        val cols = witnessColumns(df)
        df.observe(obs, cols.head, cols.tail: _*)
          .write.format("noop").mode("overwrite").save()
        m2 = System.currentTimeMillis(); t2 = System.nanoTime()
        val r = obs.get
        out = (r("n").asInstanceOf[Long], big(r("h")), big(r("p")))
      } catch {
        case e: Throwable =>
          if (t1 == t0) { m1 = System.currentTimeMillis(); t1 = System.nanoTime() }
          m2 = System.currentTimeMillis(); t2 = System.nanoTime()
          err = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally {
        jit = (Host.jitNs() - j0) / 1e9
        cpu = (Host.cpuNs() - c0) / 1e9 - jit
        steal = (Host.stealTicks() - s0) / Host.TicksPerS
        spark.removeTag(tag)
        spark.sparkContext.removeJobTag(tag)
      }
      if (err.isEmpty && p == 1) {
        // Pin the observed witness to the program's own definition, once,
        // off the clock.
        val cw = graft.queries.MaterializationQueries.contentWitness(df)
        if (cw != (out._1, out._2))
          err = Some(s"observed witness ${(out._1, out._2)} != contentWitness $cw")
      }
      val m3 = System.currentTimeMillis(); val t3 = System.nanoTime()
      val storage = release(spark)
      val m4 = System.currentTimeMillis(); val t4 = System.nanoTime()
      if (err.isEmpty) err = Report.leakError(storage)
      if (err.isEmpty) expected.get(gate) match {
        case None => expected(gate) = out
        case Some(exp) if exp != out =>
          err = Some(s"output (rows, witness) ${(out._1, out._2)} != first pass ${(exp._1, exp._2)}")
        case _ => ()
      }
      err.foreach(e => System.err.println(s"[perfbench] $gate $id FAILED: $e"))
      System.err.println(f"[perfbench] $id%-7s $gate%-28s build ${(t1 - t0) / 1e9}%.3f s  " +
        f"execute ${(t2 - t1) / 1e9}%.3f s  release ${(t4 - t3) / 1e9}%.3f s  " +
        f"rows ${out._1}  cpu $cpu%.3f s  jit $jit%.3f s  steal $steal%.2f s")
      Exec(id, p, gate, Workloads.moduleOf(gate), m0, m1, m2, m3, m4,
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t4 - t3) / 1e9, out._1, out._2,
        out._3, storage, err, cpu, jit, steal)
    }

    /** On an amplified workload, rerun each per-row gate on the ×1 inputs:
      * its ×k rows and id-projected witness must be exactly k times theirs.
      */
    def derivationErrors(x1: String): Seq[String] =
      if (k == 1) Nil
      else w.gates.filter(w.perRow.contains).flatMap { g =>
        expected.get(g).flatMap { case (nk, _, pk) =>
          scala.util.Try(reference(g, x1)) match {
            case scala.util.Failure(e) => Some(s"$g: ×1 run threw ${e.getMessage}")
            case scala.util.Success((n1, p1)) if nk != n1 * k || pk != p1 * k =>
              Some(s"$g: ×$k output (rows $nk, projected witness $pk) does " +
                s"not derive from ×1 (rows $n1, projected witness $p1)")
            case _ => None
          }
        }
      }

    /** Rows and id-projected witness of a gate's output on `dir`. */
    private def reference(gate: String, dir: String): (Long, BigInt) = {
      val df = fns(gate)(spark, dir)
      val cols = witnessColumns(df)
      val r = df.agg(cols.head, cols.tail: _*).head()
      Report.leakError(release(spark)).foreach(sys.error)
      (r.getLong(0), big(r.get(2)))
    }
  }
}
