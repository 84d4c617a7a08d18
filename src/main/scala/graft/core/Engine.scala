package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * The reference (aws-samples/dbt-glue) owns no engine — it remotes every
  * statement to a Glue-managed Spark session (reference
  * dbt/adapters/glue/gluedbapi/connection.py:219-250). Here the "session
  * protocol" collapses to an in-process SparkSession; the confs below mirror
  * the ones the reference sets per session:
  *   - crossJoin enabled (connection.py:429)
  *   - dynamic partition overwrite (tests/functional/conftest.py:46,
  *     macros/materializations/incremental/strategies.sql:14-17)
  */
object Engine {
  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.crossJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
    // No-op when the context already exists (static conf); see the scaladoc.
    // Library sessions honor an EXPLICIT scratch override only (r17 advice:
    // a production node with a big tmpfs must not silently move shuffle
    // scratch into RAM — the /dev/shm auto-fallback is for the dev/driver
    // entry points Bench/Verify/Scale/PlanDump, which pass autoFallback
    // through their own scratchLocalDir() calls; SPARK_GRAFT_LOCAL_DIR=auto
    // opts a library session in). Per-gate scratch databases follow the
    // same choice (scratchTempDir).
    scratchLocalDir(autoFallback = false).fold(b)(d => b.config("spark.local.dir", d))
  }

  def session(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    perfDefaults(s)
  }

  /** Apply the per-session confs the reference sets to an externally-created
    * session (Verify/Bench create their own). Idempotent and safe on a
    * running session — only runtime-mutable confs are touched.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    perfDefaults(spark)
  }

  /** Default group-count ceiling for hash-mode ObjectHashAggregate before
    * the sort-based fallback — see [[perfDefaults]].
    *
    * 2¹⁶ (r18, down from r17's 2²¹): the sort fallback is this operator's
    * ONLY spill valve, so the ceiling must keep the hash map proportionate
    * to a task's execution-memory share, not just to its input. The r18
    * capped-heap sweep made that concrete: at ×64 data under an 8 GiB
    * heap (≈60 MB execution memory per task slot under contention), the
    * 2²¹ ceiling died in dd_cluster's LSH feeder with
    * `SparkOutOfMemoryError: Unable to acquire 65536 bytes` — the
    * hash-mode map (≥160k groups/task) squeezed out the round's
    * persisted edge cache — while Spark's 128 default survived the same
    * leg by spilling. 2¹⁶ groups of bounded buffers is single-digit MBs
    * per task — safe at any heap the engine supports — and still 512×
    * above the 128-group hair trigger: every measured win of the raise
    * (sf0.1 family 1.07×, dd_minhash ×16 1.14× — per-task group counts
    * ≤ ~40k in both) sits UNDER 2¹⁶, so the wins keep hash mode and the
    * ×64-shaped pathology gets its spill valve back.
    */
  val ObjAggFallbackDefault: Int = 1 << 16

  /** Runtime performance settings every entry point applies: Bench,
    * Verify, Scale, PlanDump, PlanAudit, [[session]]/[[tune]] and the
    * benchmark harness. Idempotent; touches only runtime-mutable state of
    * the one session it is given (a `newSession()` starts without it).
    *
    * It registers [[SingleTaskSort]] in the session's
    * `spark.experimental.extraOptimizations` (once, however often it is
    * called): a global sort over an input no larger than AQE's advisory
    * partition size shuffles to one task instead of through a range
    * exchange, which saves the range partitioner's sampling job.
    *
    * It also raises the ObjectHashAggregate fallback (r17 optimization
    * round, guide §5):
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` defaults
    * to 128 distinct groups PER TASK; past it, ObjectHashAggregateExec —
    * the physical operator behind every TypedImperativeAggregate
    * ([[graft.functions.CollectMinK]] bucket caps,
    * [[graft.functions.VecMean]] pooling, Spark's own collect_list /
    * collect_set / percentile) — serializes every group buffer and routes
    * ALL remaining input through an UnsafeKVExternalSorter: a sort plus
    * spill files on the local disk, invisible in `explain` (the plan node
    * is identical either way). Caught live by a thread dump of a stalled
    * dd_simhash run (OPTIMIZATION_r17.md finding 1): every LSH band-bucket
    * aggregation in the dedup/similarity family has ≫128 groups per task
    * and was paying serialize+sort+spill on its hottest aggregation.
    *
    * That 128-group hair trigger guards against UNBOUNDED per-group state;
    * the engine's typed-aggregate state is bounded by design (CollectMinK
    * holds ≤ k ids — bounding bucket state is its reason to exist; VecMean
    * a fixed dim-sized buffer), so the hash map's footprint is O(rows in
    * the task's input) — the same order as the shuffle block it reads.
    * Raised to [[ObjAggFallbackDefault]]; `SPARK_GRAFT_OBJ_AGG_FALLBACK`
    * overrides it per deployment (at 100 TB, per-task group counts are
    * governed by AQE partition sizing, and the fallback remains armed
    * above the ceiling). An unparseable override warns and keeps the
    * default rather than silently reverting to Spark's 128.
    */
  def perfDefaults(spark: SparkSession): SparkSession = {
    val thr = sys.env.get("SPARK_GRAFT_OBJ_AGG_FALLBACK").map { s =>
      s.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(
          s"[engine] ignoring invalid SPARK_GRAFT_OBJ_AGG_FALLBACK '$s'; " +
            s"using $ObjAggFallbackDefault")
        ObjAggFallbackDefault
      }
    }.getOrElse(ObjAggFallbackDefault)
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", thr)
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(SingleTaskSort))
      ex.extraOptimizations = ex.extraOptimizations :+ SingleTaskSort
    spark
  }

  /** Scratch directory for shuffle/spill files (`spark.local.dir` — STATIC:
    * must be set before the SparkContext exists, hence a builder-time
    * helper rather than a [[perfDefaults]] conf).
    *
    * Policy (r17 optimization round, guide §5/§6): shuffle scratch belongs
    * on the fastest ephemeral storage available — on a production cluster
    * that is the node's local NVMe (the default behavior); on this
    * 128 GiB single-node sandbox it is the RAM disk, which also removes
    * the hypervisor's intermittently-throttled virtio disk (measured
    * 5–318 MB/s minute-to-minute, OPTIMIZATION_r17.md) from every gate's
    * critical path. Selection: `SPARK_GRAFT_LOCAL_DIR` wins when set
    * (empty/whitespace = force Spark's default, matching build.sbt's
    * SPARK_GRAFT_TMPDIR trim semantics; the literal value `auto` requests
    * the /dev/shm probe explicitly); otherwise, when `autoFallback` is
    * true, /dev/shm is used when writable with ≥ 32 GiB headroom (the
    * full sf0.1 suite's shuffle+spill peak is MBs; the ×64 scale sweeps
    * stay well under this guard); otherwise None leaves Spark's default
    * (java.io.tmpdir).
    *
    * `autoFallback` is true only at the dev/driver entry points
    * (Bench/Verify/Scale/PlanDump — single-node runs whose scratch is
    * run-scoped and swept); [[builder]] passes false so a LIBRARY session
    * on a RAM-rich production node never silently moves shuffle scratch
    * into tmpfs, where a run that outgrows it fails with ENOSPC mid-flight
    * instead of spilling to disk (r17 advice item 1). The headroom check
    * runs once, at session start — a single-node-scratch assumption, not a
    * mid-run guarantee.
    */
  def scratchLocalDir(env: Map[String, String] = sys.env,
      autoFallback: Boolean = true): Option[String] = {
    def fallback(): Option[String] = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= (32L << 30)) {
        val d = new java.io.File(shm, "graft-local")
        d.mkdirs()
        if (d.isDirectory && d.canWrite) Some(d.getAbsolutePath) else None
      } else None
    }
    env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim) match {
      case Some("") => None
      case Some("auto") => fallback()
      case Some(dir) => Some(dir)
      case None => if (autoFallback) fallback() else None
    }
  }

  /** A session's first `spark.local.dir`: the scratch device it chose
    * when it was built — [[builder]] only on an explicit
    * `SPARK_GRAFT_LOCAL_DIR`, the Bench/Verify/Scale/PlanDump entry points
    * through [[scratchLocalDir]]'s auto-fallback. None leaves Spark's
    * default.
    */
  def sessionLocalDir(spark: SparkSession): Option[String] =
    spark.sparkContext.getConf.getOption("spark.local.dir")
      .map(_.split(",").head.trim).filter(_.nonEmpty)

  /** A fresh ephemeral temp directory under `under` (java.io.tmpdir when
    * None) — for run-scoped artifacts with tempdir semantics (per-gate
    * scratch databases, scratch warehouses). `under` defaults to the active
    * session's [[sessionLocalDir]], so scratch data follows the session's
    * own choice: a library session puts it on /dev/shm only with
    * `SPARK_GRAFT_LOCAL_DIR=auto`.
    *
    * Every directory handed out here is swept by a JVM shutdown hook
    * (r17 advice item 3: per-gate scratch databases and per-run
    * warehouses otherwise accumulate on the RAM-backed device across
    * runs until the 32 GiB headroom guard trips, silently degrading
    * later runs to the slow disk while the leaked files pin RAM until
    * reboot). The sweep is best-effort per entry — a file the OS
    * already reclaimed, or a directory another process holds open,
    * never blocks JVM exit or the other entries' deletion.
    */
  def scratchTempDir(prefix: String, under: Option[String] =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .flatMap(sessionLocalDir)): java.nio.file.Path = {
    val dir = under match {
      case Some(d) => java.nio.file.Files.createTempDirectory(
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)), prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    scratchDirs.add(dir)
    registerSweepHook()
    dir
  }

  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val sweepHookArmed = new java.util.concurrent.atomic.AtomicBoolean()
  private def registerSweepHook(): Unit =
    if (sweepHookArmed.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => sweepScratchDirs(), "graft-scratch-sweep"))

  /** Delete every [[scratchTempDir]] this JVM created (test-visible; the
    * shutdown hook's body). Deletion order is children-first via the
    * reverse-sorted walk; failures are swallowed per entry.
    */
  private[graft] def sweepScratchDirs(): Unit = {
    var p = scratchDirs.poll()
    while (p != null) {
      try {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => try java.nio.file.Files.deleteIfExists(f)
            catch { case _: java.io.IOException => })
        finally walk.close()
      } catch { case _: Throwable => }
      p = scratchDirs.poll()
    }
  }

  /** X2: per-model isolated session — separate SQL conf / temp views /
    * registered functions over the shared SparkContext (the reference's
    * `enable_session_per_model`, connections.py:43-84).
    */
  def newSession(spark: SparkSession): SparkSession = spark.newSession()

  /** X2: session pool keyed like the reference's GLUE_CONNECTIONS_BY_KEY
    * (connections.py:43-84 — one connection per thread / model / session
    * group): same key reuses the isolated session, new key forks one off
    * the shared SparkContext.
    */
  object SessionPool {
    private val sessions =
      new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()
    def forKey(base: SparkSession, key: String): SparkSession =
      sessions.computeIfAbsent(key, _ => base.newSession())
    def close(key: String): Unit = sessions.remove(key)
    def clear(): Unit = sessions.clear()
  }

  /** X5: statement cancel (reference connection.py:283-295) — run `f` under
    * a job group so [[cancel]] can abort all of its Spark jobs from another
    * thread.
    */
  def withJobGroup[T](spark: SparkSession, group: String, desc: String)(f: => T): T =
    try {
      spark.sparkContext.setJobGroup(group, desc, interruptOnCancel = true)
      f
    } finally spark.sparkContext.clearJobGroup()

  def cancel(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroup(group)

  /** X8: per-model session config (the reference's per-model `meta` confs,
    * connections.py:54-68) — set runtime confs for the duration of `f`,
    * then restore the previous values (unsetting ones that were unset).
    */
  def withConf[T](spark: SparkSession, confs: Map[String, String])(f: => T): T = {
    val previous = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
