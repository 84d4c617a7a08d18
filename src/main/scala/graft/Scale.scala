package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Metrics
import graft.queries.MaterializationQueries.contentWitness

/** Off-gate scale stress: self-replicate the sf0.1 corpus ×k with shifted
  * ids and run the scale-critical operators at ×1 and ×k, asserting
  * DERIVABLE ground truth at the amplified scale.
  *
  * Replication is the amplifier precisely because it makes the big-scale
  * answer computable from the small-scale one with no oracle engine in the
  * loop:
  *   - ids shift by `replica · Offset`, so every id projects back to its
  *     original via `id % Offset`, and each replica is a disjoint,
  *     bit-identical copy of the corpus;
  *   - content-keyed operators (exact dedup, minhash) see the SAME distinct
  *     contents at every k — survivor sets are invariant, pair counts
  *     decompose in closed form (cross-content pairs scale by k², identical
  *     classes of size c become C(k·c, 2));
  *   - per-replica-disjoint operators (as-of with shifted users, CC and
  *     PageRank over shifted node ids, erasure) produce exactly k
  *     independent copies of the ×1 answer — counts and projected hash-sums
  *     scale by exactly k, component-size histograms scale their
  *     multiplicities by exactly k, integer PageRank values are preserved
  *     per copy;
  *   - the HOT variant replicates events WITHOUT shifting the key, making
  *     every (user, time-bucket) k× heavier while tie-break determinism
  *     keeps the matched payload identical — the skew path with a derivable
  *     answer.
  *
  * Each operator's ×1 and ×k runs read parquet written through the same
  * amplify path (k = 1 is the identity), so the timed work is scan → operator
  * → aggregate on both sides and the ratio is meaningful. Timings include the
  * invariant-side aggregates (count/hash-sum), which are one map-side-combined
  * pass each. Storage is released (blocking) after every run and the
  * post-release watermark must be 0 — the bench discipline, applied at ×k.
  *
  * Usage: runMain graft.Scale <sfDir> <scratchDir> <k> [op,op,...]
  * Prints one `SCALE-OP` line per operator and a final `SCALE-JSON` line.
  */
object Scale {

  /** Id shift per replica — above every source id (max observed id at sf0.1
    * is l_orderkey ≈ 1.5e5; PageRank dst nodes sit at partkey + 2³³ < 2³⁴).
    */
  val Offset: Long = 1L << 36

  /** k disjoint shifted copies: `idCols` gain `replica · Offset`, all other
    * columns replicate byte-identically. k = 1 is the identity (modulo one
    * extra narrow projection).
    */
  def amplify(df: DataFrame, k: Int, idCols: Seq[String]): DataFrame = {
    val reps = broadcast(df.sparkSession.range(k.toLong).toDF("__r"))
    val cols = df.columns.map { c =>
      if (idCols.contains(c)) (col(c) + col("__r") * lit(Offset)).as(c)
      else col(c)
    }
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .crossJoin(reps).select(cols.toIndexedSeq: _*)
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (count, Σ xxhash64(row)) over a projection — the multiset witness.
    * For replica-disjoint operators the ×k witness is exactly k × the ×1
    * witness when the projection maps ids back to original space.
    */
  private def w(df: DataFrame): (Long, BigInt) = contentWitness(df)

  private def scaled(w1: (Long, BigInt), wk: (Long, BigInt), k: Int): Boolean =
    wk._1 == w1._1 * k && wk._2 == w1._2 * k

  final case class OpResult(name: String, k: Int, rows1: Long, rowsK: Long,
      sec1: Double, secK: Double, storageAfter: Long, invariant: String)

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Scale <sfDir> <scratchDir> <k> [op,op,...] — " +
      "k must be an integer >= 2"
    val (sfDir, scratch, k, only) = args match {
      case Array(s, d, kk) if kk.toIntOption.isDefined =>
        (s, d, kk.toInt, None)
      case Array(s, d, kk, names) if kk.toIntOption.isDefined =>
        (s, d, kk.toInt, Some(names.split(",").toSet))
      case _ => sys.error(s"$usage (got: ${args.mkString(" ")})")
    }
    require(k >= 2, s"k must be >= 2 (got $k)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scale")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.crossJoin.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$scratch/x$k/warehouse")
      // File-split sizing for THIS corpus's CPU-per-byte profile: the
      // synthetic text compresses ~60× (a ~31-token shared vocabulary), so
      // the default 128 MB split packs an 80k-doc, CPU-heavy tokenize into
      // ONE scan task and serializes it (measured: heavy-bigrams ×30 wall
      // at ×16 data before this). At 100 TB a scan has thousands of file
      // splits and the per-task compute is what scales — 2 MB splits with
      // a small open cost restore that regime at amplifier scale. This is
      // the same lever a production deployment tunes per-table.
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .config("spark.ui.enabled", "false")
      // Same scratch-dir selection as Bench/Verify (Engine.scratchLocalDir:
      // the ≥32 GiB headroom guard covers the ×64 legs' shuffle peaks).
      .config("spark.local.dir",
        graft.core.Engine.scratchLocalDir().getOrElse(
          System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Engine.perfDefaults(spark)
    // Task metrics per op and stage attempt, incl. the skew view.
    val metrics = new Metrics
    spark.sparkContext.addSparkListener(metrics)
    import spark.implicits._

    // ------------------------------------------------------------ staging
    // Both scales read parquet written through the same amplifier so the
    // timed shape (scan → operator → aggregate) is identical.
    def stage(name: String, df: DataFrame, idCols: Seq[String]): Unit = {
      amplify(df, 1, idCols).write.mode("overwrite")
        .parquet(s"$scratch/x1/$name.parquet")
      amplify(df, k, idCols).write.mode("overwrite")
        .parquet(s"$scratch/x$k/$name.parquet")
    }
    def rd(scale: String, name: String): DataFrame =
      spark.read.parquet(s"$scratch/$scale/$name.parquet")

    val docs0 = graft.core.Tables.documents(spark, sfDir)
    val li0 = graft.core.Tables.lineitem(spark, sfDir)
    val ev0 = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    // PageRank/CC node space: orders on one side, parts shifted to 2^33 on
    // the other — disjoint within a replica, and Offset-disjoint across.
    val edges0 = li0.select(col("l_orderkey").as("src"),
      (col("l_partkey") + lit(1L << 33)).as("dst"))

    // Which ops read which staged table — staging is the dominant cost of
    // a FILTERED run (a ×64 edges write is ~77M rows), so an `only` set
    // skips every table no selected op reads. Doubles as the registry the
    // post-loop check validates requested names against.
    val tableOps = Seq(
      "documents" -> Seq("dd_exact", "dd_exact_bloom", "dd_minhash",
        "txt_heavy_bigrams", "pipe_pack"),
      "lineitem" -> Seq("gov_erasure", "rel_zorder", "inc_merge", "snap_scd2",
        "inc_overwrite"),
      "events_disjoint" -> Seq("evt_asof", "evt_active", "evt_quantiles",
        "evt_quantiles_approx", "inc_microbatch",
        "stream_sessionize", "stream_sessionize_inc"),
      "events_hot" -> Seq("evt_asof_hot"),
      "edges" -> Seq("dd_cluster", "graph_pagerank"),
      "embeddings" -> Seq("sim_range", "sim_ivf", "sim_ivfpq", "sim_binary"))
    val knownOps = tableOps.flatMap(_._2).toSet
    only.foreach { names =>
      val unknown = names.diff(knownOps)
      require(unknown.isEmpty,
        s"unknown op name(s): ${unknown.mkString(", ")} — known: " +
          knownOps.toSeq.sorted.mkString(", "))
    }
    def wanted(ops: Seq[String]): Boolean =
      only.forall(names => ops.exists(names.contains))

    log(s"staging ×1 and ×$k corpora under $scratch")
    val opsOf = tableOps.toMap
    if (wanted(opsOf("documents"))) stage("documents", docs0, Seq("doc_id"))
    if (wanted(opsOf("lineitem"))) stage("lineitem", li0, Seq("l_orderkey"))
    if (wanted(opsOf("events_disjoint")))
      stage("events_disjoint", ev0, Seq("event_id", "user_id"))
    if (wanted(opsOf("events_hot")))
      stage("events_hot", ev0, Seq("event_id")) // user_id SHARED: k× hot keys
    if (wanted(opsOf("edges"))) stage("edges", edges0, Seq("src", "dst"))
    val emb0 = graft.core.Tables.embeddings(spark, sfDir)
    if (wanted(opsOf("embeddings"))) stage("embeddings", emb0, Seq("vec_id"))

    val results = scala.collection.mutable.ArrayBuffer[OpResult]()
    // 10b's one-shot session witnesses, consumed by 10c's sliced run for
    // the bit-for-bit equality check when both legs run in one invocation.
    var oneShotSessionWitness: Option[((Long, BigInt), (Long, BigInt))] = None
    def release(): Long = {
      spark.catalog.clearCache()
      graft.core.ScopedStorage.releaseAll(blocking = true)
      // clearCache() and the operators' own unpersist(blocking = false)
      // calls remove blocks ASYNCHRONOUSLY — sampling storage while a
      // RemoveRdd message is still in flight would abort a multi-hour ×k
      // run as a phantom leak. Poll briefly: an in-flight release drains
      // in milliseconds; a real leak stays nonzero and still fails fast.
      def sample() = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      var storage = sample()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (storage > 0L && System.nanoTime() < deadline) {
        Thread.sleep(200)
        storage = sample()
      }
      storage
    }
    def run(name: String)(body: => (Long, Long, Double, Double, String)): Unit = {
      // An op absent from the staging registry would run against a table a
      // FILTERED invocation never staged — fail loudly on every run instead
      // of only when someone happens to pass a filter.
      require(knownOps.contains(name),
        s"op '$name' is not in the staging registry (tableOps) — register " +
          "which table it reads before adding the run block")
      if (only.exists(!_.contains(name))) return
      val (r1, rk, s1, sk, inv) = Metrics.tagged(spark.sparkContext, Metrics.gateTag(name))(body)
      val storage = release()
      require(storage == 0L, s"$name left $storage bytes in executor storage")
      val res = OpResult(name, k, r1, rk, s1, sk, storage, inv)
      results += res
      println(f"SCALE-OP ${res.name}%-18s k=$k%-3d rows ${r1}%,d -> ${rk}%,d  " +
        f"sec ${s1}%.2f -> ${sk}%.2f (×${sk / math.max(s1, 1e-9)}%.1f)  $inv")
    }
    def check(cond: Boolean, msg: String): String = {
      require(cond, s"SCALE invariant failed: $msg")
      "OK"
    }

    // -------------------------------------------------------- 1. dd_exact
    // k-replicated corpus ⇒ the survivor SET is invariant: replica 0 keeps
    // original ids and the min-id tie-break picks exactly the ×1 winners.
    run("dd_exact") {
      def survivors(scale: String) = graft.dedup.Dedup.exact(
        rd(scale, "documents"), Seq("text"), Seq(col("doc_id")))
        .select("doc_id", "text")
      val (w1, s1) = timed(w(survivors("x1")))
      val (wk, sk) = timed(w(survivors(s"x$k")))
      (w1._1, wk._1, s1, sk,
        check(wk == w1, s"survivor set must be k-invariant: $w1 vs $wk"))
    }

    // -------------------------------------------- 2. dd_exact_bloom (cross)
    // Scrubbing a ×k corpus against a FIXED reference applies the identical
    // per-replica filter: survivors scale by exactly k (projected witness).
    run("dd_exact_bloom") {
      val ref = docs0.filter(col("doc_id") % 10 === 0).select("text")
      def surv(scale: String) = graft.dedup.Dedup.exactAgainstBloom(
        rd(scale, "documents"), Seq("text"), ref, Seq("text"),
        expectedDistinct = 1L << 16)
        .select((col("doc_id") % Offset).as("doc_id"), col("text"))
      val (w1, s1) = timed(w(surv("x1")))
      val (wk, sk) = timed(w(surv(s"x$k")))
      (w1._1, wk._1, s1, sk,
        check(scaled(w1, wk, k), s"bloom survivors must scale ×$k: $w1 vs $wk"))
    }

    // ------------------------------------------------------ 3. dd_minhash
    // Identical texts collapse before signing, so rep-level near-dup pairs
    // are k-invariant; the member fan-out decomposes in closed form:
    //   pairs(×k) = k²·crossContentPairs(×1) + Σ_classes C(k·c, 2).
    // The projected distinct pair set (ids mod Offset, self-pairs dropped)
    // must equal the ×1 pair set exactly.
    run("dd_minhash") {
      val cfg = graft.dedup.Dedup.MinHashConfig()
      val classes = docs0.groupBy(col("text")).count()
        .groupBy(col("count").as("c")).count().as[(Long, Long)].collect()
      val cMax = classes.map(_._1).max
      require(cMax * k <= cfg.maxBucketSize,
        s"class of $cMax docs × $k crosses the dedup cap ${cfg.maxBucketSize}")
      def pairs(scale: String) = graft.dedup.Dedup.minhashNearDupPairs(
        rd(scale, "documents"), "doc_id", "text", cfg)
      val (n1, s1) = timed(pairs("x1").count())
      val (nk, sk) = timed(pairs(s"x$k").count())
      val same1 = classes.collect { case (c, n) if c >= 2 => n * c * (c - 1) / 2 }.sum
      val predicted = k.toLong * k * (n1 - same1) +
        classes.map { case (c, n) => n * (k * c) * (k * c - 1) / 2 }.sum
      val inv1 = check(nk == predicted,
        s"pair count $nk != closed-form $predicted (n1=$n1, same1=$same1)")
      // Persist both projected pair sets: each feeds BOTH exceptAll
      // directions, and without a persist every direction re-runs the
      // whole LSH pipeline (the most expensive op here) from scratch —
      // ~3 redundant full evaluations at the ×k scale this harness
      // exists to stress. The timed counts above stay persist-free on
      // purpose: they time one fresh end-to-end run of the operator.
      val p1 = pairs("x1").select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b")).distinct().persist()
      val pk = pairs(s"x$k").select(
        least(col("id_a") % Offset, col("id_b") % Offset).as("a"),
        greatest(col("id_a") % Offset, col("id_b") % Offset).as("b"))
        .filter(col("a") =!= col("b")).distinct().persist()
      val inv2 = check(
        pk.exceptAll(p1).isEmpty && p1.exceptAll(pk).isEmpty,
        "projected ×k pair set must equal the ×1 pair set")
      p1.unpersist(blocking = true)
      pk.unpersist(blocking = true)
      (n1, nk, s1, sk, s"$inv1+$inv2")
    }

    // ------------------------------------------------------ 4. dd_cluster
    // CC over k disjoint shifted copies of a 600k-edge bipartite graph:
    // the component-size histogram keeps its sizes and multiplies every
    // multiplicity by exactly k.
    run("dd_cluster") {
      def hist(scale: String) = graft.dedup.Clusters.connectedComponents(
        rd(scale, "edges").toDF("id_a", "id_b"))
        .groupBy(col("cluster")).count()
        .groupBy(col("count").as("size")).count()
        .as[(Long, Long)].collect().toMap
      val (h1, s1) = timed(hist("x1"))
      val (hk, sk) = timed(hist(s"x$k"))
      val n1 = h1.values.sum
      val nk = hk.values.sum
      (n1, nk, s1, sk,
        check(hk == h1.map { case (sz, n) => sz -> n * k },
          s"component histogram must scale multiplicities ×$k: $h1 vs $hk"))
    }

    // ------------------------------------------------ 5. txt_heavy_bigrams
    // Replication multiplies every gram count by exactly k: same top-10
    // set, counts ×k (the gate's capacity bound is scale-invariant — both
    // sides of the n/(cap+1) retention inequality are linear in corpus
    // size).
    run("txt_heavy_bigrams") {
      def top(scale: String) = graft.text.HeavyHitters.topGrams(
        rd(scale, "documents"), "text", n = 2, k = 10, capacity = 2048)
        .as[(String, Long)].collect().toMap
      val (t1, s1) = timed(top("x1"))
      val (tk, sk) = timed(top(s"x$k"))
      (t1.size.toLong, tk.size.toLong, s1, sk,
        check(tk == t1.map { case (g, n) => g -> n * k },
          s"top-10 bigrams must be the ×1 set with counts ×$k"))
    }

    // -------------------------------------------------------- 6. pipe_pack
    // ×k docs through the gate's packing layout: per-shard offsets must
    // tile [0, shard total) with no gap or overlap, and global rows/tokens
    // scale by exactly k. (Shard hashes include the shifted ids, so the
    // layout itself legitimately differs between scales — the invariant is
    // the packing CONTRACT, not the byte layout.)
    run("pipe_pack") {
      def packed(scale: String) = graft.operators.Packing.packSequences(
        rd(scale, "documents"), "doc_id", "n_chars",
        seqLen = 4096L, nShards = 8, salt = 13L)
      def audit(scale: String): (Long, Long) = {
        val p = packed(scale)
        val toks = coalesce(col("n_chars").cast("long"), lit(0L))
        val perShard = p.groupBy(col("shard")).agg(
          max(col("off") + toks).as("hi"), sum(toks).as("tot"),
          min(col("off")).as("lo"), count(lit(1)).as("n"))
        val bad = perShard
          .filter(col("hi") =!= col("tot") || col("lo") =!= lit(0L)).count()
        require(bad == 0L, s"$bad shards fail the offset-tiling contract")
        val t = perShard.agg(sum(col("n")), sum(col("tot")))
          .as[(Long, Long)].head()
        t
      }
      val ((n1, tok1), s1) = timed(audit("x1"))
      val ((nk, tokK), sk) = timed(audit(s"x$k"))
      (n1, nk, s1, sk,
        check(nk == n1 * k && tokK == tok1 * k,
          s"rows/tokens must scale ×$k: ($n1,$tok1) vs ($nk,$tokK)"))
    }

    // --------------------------------------------------------- 7. evt_asof
    // Disjoint users: ×k is k independent copies — the projected witness
    // (ids mod Offset, match payload included) scales by exactly k.
    def asofRun(table: String, name: String): Unit = run(name) {
      def matched(scale: String) = {
        val ev = rd(scale, table)
        val clicks = ev.filter(col("event_type") === "click")
        val views = ev.filter(col("event_type") === "view")
        graft.operators.AsofJoin.asof(clicks, views, Seq("user_id"),
          "ts", "ts", Seq("value"), tieBreak = Seq("event_id"),
          toleranceSec = Some(3600L), direction = "backward")
          .select((col("user_id") % Offset).as("u"), col("ts"),
            col("value"), col("ts_asof"), col("value_asof"))
      }
      val (w1, s1) = timed(w(matched("x1")))
      val (wk, sk) = timed(w(matched(s"x$k")))
      (w1._1, wk._1, s1, sk,
        check(scaled(w1, wk, k), s"as-of witness must scale ×$k: $w1 vs $wk"))
    }
    asofRun("events_disjoint", "evt_asof")
    // Hot keys: user_id is SHARED across replicas — every (user, tolerance
    // bucket) is k× heavier. Tie-break determinism (greatest event_id at
    // equal ts) keeps each row's matched (ts, value) payload identical to
    // ×1, so the same ×k witness law holds THROUGH the skew path.
    asofRun("events_hot", "evt_asof_hot")

    // ------------------------------------------------- 7a. evt_quantiles
    // Exact per-USER value quantiles (Quantiles.groupQuantiles) — the
    // per-key fan-out regime the operator's scaladoc prescribes at scale
    // (low-cardinality keys funnel; per-user keys fan out with the data).
    // k disjoint user copies carry identical value multisets, so the
    // (user mod Offset, n_rows, p50, p90) witness scales by exactly k —
    // selected-element quantiles cannot drift under replication.
    run("evt_quantiles") {
      def q(scale: String) = graft.operators.Quantiles.groupQuantiles(
        rd(scale, "events_disjoint"), "user_id", "value", "event_id",
        Seq(("p50", 1, 2), ("p90", 9, 10)))
        .select((col("user_id") % Offset).as("u"), col("n_rows"),
          col("p50"), col("p90"))
      val (w1, s1) = timed(w(q("x1")))
      val (wk, sk) = timed(w(q(s"x$k")))
      (w1._1, wk._1, s1, sk,
        check(scaled(w1, wk, k), s"quantile witness must scale ×$k: $w1 vs $wk"))
    }

    // ------------------------------------------ 7a'. evt_quantiles_approx
    // The sketch-path twin on the LOW-cardinality key (event_type) — the
    // regime the exact operator's scaladoc routes to approx_percentile at
    // 100 TB (one map-side-combinable pass, no per-group funnel). Sketch
    // merge order may return DIFFERENT in-tolerance elements at ×1 vs ×k,
    // so the invariant is the operator's contract, not the value: every
    // rank-error boolean (rankWithin, tolerance floor(n/acc)+1 ranks) TRUE
    // at both scales, and n_rows exactly ×k (each replica contributes an
    // identical per-type value multiset).
    run("evt_quantiles_approx") {
      val qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
      val acc = 1000
      def contract(scale: String): Map[String, (Long, Boolean)] = {
        val ev = rd(scale, "events_disjoint")
        val approx = graft.operators.Quantiles.approxGroupQuantiles(
          ev, "event_type", "value", qs, acc)
        graft.operators.Quantiles.rankWithin(
          ev, approx, "event_type", "value", qs, acc)
          .collect()
          .map(r => r.getString(0) -> ((r.getLong(1),
            r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4))))
          .toMap
      }
      val (c1, s1) = timed(contract("x1"))
      val (ck, sk) = timed(contract(s"x$k"))
      (c1.size.toLong, ck.size.toLong, s1, sk,
        check(ck.keySet == c1.keySet &&
          c1.forall { case (t, (n, ok)) =>
            ok && ck(t)._1 == n * k && ck(t)._2 },
          s"sketch rank contract must hold at ×1 and ×$k, n_rows ×$k exact"))
    }

    // ------------------------------------------------- 7b. evt_active_users
    // Rolling active users (EventAnalytics.activeUsers): the ×windowDays
    // explode fan-out + two distincts — the WAU formulation that replaces a
    // non-equi day-range join. k disjoint user copies share the calendar,
    // so the day spine is IDENTICAL at both scales and every day's
    // dau/wau count is exactly k× the ×1 count — an exact per-row law,
    // checked row for row (the result is days-sized, driver-safe).
    run("evt_active") {
      def counts(scale: String): Map[java.sql.Date, (Long, Long)] =
        graft.operators.EventAnalytics.activeUsers(
          rd(scale, "events_disjoint"), "user_id", "ts", windowDays = 7)
          .collect()
          .map(r => r.getDate(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val (c1, s1) = timed(counts("x1"))
      val (ck, sk) = timed(counts(s"x$k"))
      (c1.size.toLong, ck.size.toLong, s1, sk,
        check(ck.keySet == c1.keySet &&
          c1.forall { case (d, (dau, wau)) =>
            ck(d) == ((dau * k, wau * k)) },
          s"per-day dau/wau must scale ×$k exactly"))
    }

    // --------------------------------------------------- 8. graph_pagerank
    // k disjoint graph copies: integer PageRank is bit-deterministic, so
    // every replica node carries exactly its original's rank — witness over
    // (node mod Offset, rank) scales by exactly k.
    run("graph_pagerank") {
      def ranks(scale: String) = graft.operators.PageRank.run(
        rd(scale, "edges"), "src", "dst", iterations = 5)
        .select((col("node") % Offset).as("n"), col("rank"))
      val (w1, s1) = timed(w(ranks("x1")))
      val (wk, sk) = timed(w(ranks(s"x$k")))
      (w1._1, wk._1, s1, sk,
        check(scaled(w1, wk, k), s"rank witness must scale ×$k: $w1 vs $wk"))
    }

    // ----------------------------------------------------- 9. gov_erasure
    // Erase the same original key set (all replica copies of it) from a ×k
    // table: the (before, purged, after) triple and the survivor witness
    // both scale by exactly k.
    run("gov_erasure") {
      val keys0 = li0.select(col("l_orderkey")).distinct()
        .filter(col("l_orderkey") % 97 === 0)
      def erase(scale: String, kk: Int): ((Long, Long, Long), (Long, BigInt)) = {
        val t = s"scale_erase_$scale"
        rd(scale, "lineitem").write.mode("overwrite").saveAsTable(t)
        val triple = graft.quality.Governance.eraseKeys(spark, t,
          "l_orderkey", amplify(keys0, kk, Seq("l_orderkey")))
        val wit = w(spark.table(t)
          .select((col("l_orderkey") % Offset).as("k"), col("l_extendedprice")))
        spark.sql(s"DROP TABLE $t")
        (triple, wit)
      }
      val ((t1, w1), s1) = timed(erase("x1", 1))
      val ((tk, wk), sk) = timed(erase(s"x$k", k))
      (t1._1, tk._1, s1, sk,
        check(tk == ((t1._1 * k, t1._2 * k, t1._3 * k)) && scaled(w1, wk, k),
          s"erasure must scale ×$k: $t1/$w1 vs $tk/$wk"))
    }

    // ------------------------------------------------------ 9b. inc_merge
    // The reference's heart — the O3′ partition-scoped MERGE — at ×k.
    // Target: the ×k lineitem as a l_returnflag-partitioned table (replica
    // key spaces disjoint, partition column UNSHIFTED, so each partition
    // holds k× the rows — the 100 TB shape where partition scoping is what
    // keeps merge affordable). Batch: updates to one partition's keys plus
    // brand-new keys (+2³⁴, inside every replica's id space), built at ×1
    // and amplified with the SAME shift as the corpus — each replica
    // receives exactly the ×1 batch against exactly the ×1 data. Merge is
    // per-key and replica key spaces are disjoint, so the merged table is
    // k independent copies of the ×1 merged table: the projected witness
    // (ids mod Offset; the updated price column included, so a lost or
    // double-applied UPDATE breaks it, not just a lost row) must scale by
    // exactly ×k. Only the touched partition is rewritten — the scoped
    // path, exercised here at partition sizes the gate can't reach.
    run("inc_merge") {
      import graft.materialize.{IncrementalConfig, IncrementalMaterialization, IncrementalStrategy}
      val cfg = IncrementalConfig(IncrementalStrategy.Merge,
        uniqueKey = Seq("l_orderkey", "l_linenumber"),
        partitionBy = Seq("l_returnflag"))
      def mergeRun(scale: String, kk: Int): (Long, BigInt) = {
        val t = s"scale_merge_$scale"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // Seed through the same state machine (its CTAS path), then merge.
        IncrementalMaterialization.run(spark, t, rd(scale, "lineitem"), cfg)
        // The synthetic lineitem is TPC-H-ISH: (l_orderkey, l_linenumber)
        // is NOT unique, and MergeOps correctly raises on a multi-row
        // source key (the reference MERGE contract). Collapse to one
        // DETERMINISTIC representative per key (per-column max) BEFORE
        // amplifying — a nondeterministic dropDuplicates could pick
        // different representatives in the ×1 and ×k evaluations and break
        // the witness law on payload columns, not just confuse the merge.
        def keyUnique(src: DataFrame): DataFrame = {
          val payload = src.columns.toIndexedSeq
            .filterNot(Set("l_orderkey", "l_linenumber"))
            .map(c => max(col(c)).as(c))
          src.groupBy(col("l_orderkey"), col("l_linenumber"))
            .agg(payload.head, payload.tail: _*)
        }
        val updates = keyUnique(li0
          .filter(col("l_returnflag") === "N" && col("l_orderkey") % 37 === 0))
          .withColumn("l_extendedprice", col("l_extendedprice") * 2)
        val inserts = keyUnique(li0
          .filter(col("l_returnflag") === "N" && col("l_orderkey") % 41 === 0))
          .withColumn("l_orderkey", col("l_orderkey") + lit(1L << 34))
        IncrementalMaterialization.run(spark, t,
          amplify(updates.unionByName(inserts), kk, Seq("l_orderkey")), cfg)
        val wit = w(spark.table(t).select(
          (col("l_orderkey") % Offset).as("k"), col("l_linenumber"),
          col("l_extendedprice"), col("l_returnflag")))
        spark.sql(s"DROP TABLE $t")
        wit
      }
      val (w1, s1) = timed(mergeRun("x1", 1))
      val (wk, sk) = timed(mergeRun(s"x$k", k))
      (w1._1, wk._1, s1, sk,
        check(w1._1 > 0 && scaled(w1, wk, k),
          s"post-merge witness must scale ×$k: $w1 vs $wk"))
    }

    // ------------------------------------------------------ 9c. snap_scd2
    // The OTHER merge-shaped state machine — SCD2 snapshot — at ×k, through
    // its close-date-PARTITIONED history path (the O(current + churn)
    // layout that keeps long histories affordable at 100 TB: a run scans
    // the open partition plus touched close-date partitions only). Two
    // snapshot runs at injected clocks T1/T2: seed an entity table derived
    // from the ×k lineitem (one row per replica-shifted orderkey), then
    // snapshot the churned state — updates (balance doubled for keys %5),
    // hard deletes (keys %7, Invalidate mode closes them at T2), inserts
    // (fresh keys at +2³⁴). Replica key spaces are disjoint and both
    // clocks are pinned, so the full history table is k independent copies
    // of the ×1 history: the witness (ids mod Offset, version validity
    // interval and checked column included — a missed close, a double
    // version, or a wrong valid_from all break the law) scales exactly ×k.
    run("snap_scd2") {
      import graft.materialize.{SnapshotConfig, SnapshotMaterialization, SnapshotStrategy, HardDeletes}
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      def cfgAt(ts: java.sql.Timestamp) = SnapshotConfig(
        keys = Seq("ent_id"), strategy = SnapshotStrategy.ByCheck(Seq("bal")),
        clock = () => ts, partitionHistory = true,
        hardDeletes = HardDeletes.Invalidate)
      def snapRun(scale: String, kk: Int): (Long, BigInt) = {
        val t = s"scale_snap_$scale"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // One entity per (replica-shifted) orderkey; payload deterministic.
        def entities(src: DataFrame): DataFrame = src
          .groupBy(col("l_orderkey").as("ent_id"))
          .agg(max(col("l_extendedprice")).as("bal"),
            max(col("l_returnflag")).as("flag"))
        val seed = entities(rd(scale, "lineitem"))
        SnapshotMaterialization.run(spark, t, seed, cfgAt(t1))
        // Churned state built at ×1, amplified with the corpus's shift so
        // every replica churns identically: %7 keys vanish (hard delete),
        // %5 keys double their balance, fresh +2³⁴ keys appear.
        val e1 = entities(li0)
        val churned = e1.filter(col("ent_id") % 7 =!= 0)
          .withColumn("bal",
            when(col("ent_id") % 5 === 0, col("bal") * 2).otherwise(col("bal")))
          .unionByName(e1.filter(col("ent_id") % 41 === 0)
            .withColumn("ent_id", col("ent_id") + lit(1L << 34)))
        SnapshotMaterialization.run(spark, t,
          amplify(churned, kk, Seq("ent_id")), cfgAt(t2))
        val wit = w(spark.table(t).select(
          (col("ent_id") % Offset).as("k"), col("bal"), col("flag"),
          col("dbt_valid_from"), col("dbt_valid_to")))
        spark.sql(s"DROP TABLE $t")
        wit
      }
      val (w1, s1) = timed(snapRun("x1", 1))
      val (wk, sk) = timed(snapRun(s"x$k", k))
      (w1._1, wk._1, s1, sk,
        check(w1._1 > 0 && scaled(w1, wk, k),
          s"SCD2 history witness must scale ×$k: $w1 vs $wk"))
    }

    // --------------------------------------------------- 9d. inc_overwrite
    // The third incremental strategy — dynamic-partition INSERT OVERWRITE —
    // at ×k: seed a returnflag-partitioned table from the corpus, then
    // replace ONE partition with a transformed batch. Two laws: per scale,
    // the untouched partitions' witness is bit-identical across the
    // overwrite (dynamic mode must never touch a partition absent from the
    // batch — the property that makes the strategy affordable at 100 TB:
    // cost follows the batch, not the table); across scales, replica key
    // spaces are disjoint and the batch is the ×1 batch amplified, so the
    // post-overwrite witness (ids mod Offset, the rewritten price column
    // included) scales exactly ×k.
    run("inc_overwrite") {
      import graft.materialize.{IncrementalConfig, IncrementalMaterialization, IncrementalStrategy}
      val cfg = IncrementalConfig(IncrementalStrategy.InsertOverwrite,
        partitionBy = Seq("l_returnflag"))
      def owRun(scale: String, kk: Int): (Long, BigInt) = {
        val t = s"scale_ow_$scale"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        IncrementalMaterialization.run(spark, t, rd(scale, "lineitem"), cfg)
        def untouched() = w(spark.table(t)
          .filter(col("l_returnflag") =!= "N")
          .select((col("l_orderkey") % Offset).as("k"), col("l_linenumber"),
            col("l_extendedprice"), col("l_returnflag")))
        val before = untouched()
        val batch = li0.filter(col("l_returnflag") === "N")
          .withColumn("l_extendedprice", col("l_extendedprice") * 3)
        IncrementalMaterialization.run(spark, t,
          amplify(batch, kk, Seq("l_orderkey")), cfg)
        check(untouched() == before,
          s"$scale: untouched partitions changed across the overwrite")
        val wit = w(spark.table(t).select(
          (col("l_orderkey") % Offset).as("k"), col("l_linenumber"),
          col("l_extendedprice"), col("l_returnflag")))
        spark.sql(s"DROP TABLE $t")
        wit
      }
      val (w1, s1) = timed(owRun("x1", 1))
      val (wk, sk) = timed(owRun(s"x$k", k))
      (w1._1, wk._1, s1, sk,
        check(w1._1 > 0 && scaled(w1, wk, k),
          s"post-overwrite witness must scale ×$k: $w1 vs $wk"))
    }

    // -------------------------------------------------- 9e. inc_microbatch
    // The WINDOWED writer (dbt-core 1.9 microbatch) at ×k: a fixed 5-day
    // event-time range runs through daily insert-overwrite windows into a
    // warehouse table, then ONE window is re-run from a source with its
    // day deleted — the r15 drained-window contract (an empty rebuild
    // CLEARS its partition; a raw dynamic overwrite would no-op and leave
    // stale rows). Laws: per batch_start the row count scales exactly ×k
    // (disjoint user copies share the calendar); the drain removes exactly
    // its own partition and touches no neighbor, at both scales.
    run("inc_microbatch") {
      import java.sql.Timestamp
      val lo = Timestamp.valueOf("2024-01-03 00:00:00")
      val hi = Timestamp.valueOf("2024-01-08 00:00:00")
      val drainLo = Timestamp.valueOf("2024-01-05 00:00:00")
      val drainHi = Timestamp.valueOf("2024-01-06 00:00:00")
      def mbRun(scale: String): Map[String, Long] = {
        val t = s"scale_mb_$scale"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val ev = rd(scale, "events_disjoint")
        val n = graft.materialize.Microbatch.run(spark, t, ev, "ts", lo, hi)
        require(n == 5, s"expected 5 daily windows, ran $n")
        def counts() = spark.table(t).groupBy(col("batch_start")).count()
          .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
        val full = counts()
        graft.materialize.Microbatch.run(spark, t,
          ev.filter(to_date(col("ts")) =!= lit("2024-01-05").cast("date")),
          "ts", drainLo, drainHi)
        val drained = counts()
        check(full.contains("2024-01-05") && !drained.contains("2024-01-05")
            && drained == full - "2024-01-05",
          s"$scale: drained window must clear exactly its own partition")
        spark.sql(s"DROP TABLE $t")
        full
      }
      val (c1, s1) = timed(mbRun("x1"))
      val (ck, sk) = timed(mbRun(s"x$k"))
      (c1.values.sum, ck.values.sum, s1, sk,
        check(c1.keySet == ck.keySet && c1.size == 5 &&
          c1.forall { case (d, n) => ck(d) == n * k },
          s"per-window counts must scale ×$k exactly"))
    }

    // ------------------------------------------------------ 10. rel_zorder
    // Layout rewrite at ×k: the multiset content witness is invariant
    // across the rewrite at BOTH scales (the same loud-error contract the
    // gate carries, here at 38M rows), and files respect the 128 MB target.
    run("rel_zorder") {
      def rewrite(scale: String): (Long, Double) = {
        val t = s"scale_zorder_$scale"
        rd(scale, "lineitem").write.mode("overwrite").saveAsTable(t)
        val pre = w(spark.table(t))
        val (_, sec) = timed(graft.materialize.RelationOps.zOrderLayout(
          spark, t, Seq("l_orderkey", "l_partkey")))
        require(w(spark.table(t)) == pre,
          s"z-order rewrite changed contents of $t")
        spark.sql(s"DROP TABLE $t")
        (pre._1, sec)
      }
      val (n1, s1) = rewrite("x1")
      val (nk, sk) = rewrite(s"x$k")
      (n1, nk, s1, sk, check(nk == n1 * k, s"row count must scale ×$k"))
    }

    // ------------------------------------------- 10b. streaming sessionize
    // The stateful-streaming leg: flatMapGroupsWithState sessionization
    // over a ×k event stream. Disjoint shifted users ⇒ k independent
    // copies of every session, so the projected witness scales by exactly
    // k — and the state store is stressed with k× the ACTIVE KEYS (its
    // scale dimension; per-key state stays constant). Same bounded-drive
    // harness as the stream gates (AvailableNow + per-user sentinels past
    // the global max so append mode releases every session).
    run("stream_sessionize") {
      def sessions(scale: String): (Long, BigInt) =
        graft.materialize.Staging.withDir(spark, s"scale_stream_$scale") { d =>
          val ev = rd(scale, "events_disjoint").select(col("user_id"), col("ts"))
          val maxReal = ev.agg(max(col("ts"))).head().getTimestamp(0)
          val sentinels = ev.select(col("user_id")).distinct()
            .withColumn("ts", lit(maxReal) + expr("INTERVAL 2 DAYS"))
          ev.unionByName(sentinels).write.parquet(s"$d/src")
          val schema = spark.read.parquet(s"$d/src").schema
          val sink = "scale_sess_" +
            java.util.UUID.randomUUID.toString.replace("-", "").take(10)
          val res = graft.streaming.EventStreams.runBoundedToMemory(
            spark, s"$d/src", schema,
            df => graft.streaming.EventStreams.sessionize(df).toDF(), sink,
            statePartitions = Some(
              spark.sparkContext.defaultParallelism), noDataBatch = false)
            .filter(col("session_start") <= lit(maxReal))
            .select((col("user_id") % Offset).as("u"), col("session_start"),
              col("session_end"), col("n_events"))
          val wit = w(res)
          spark.catalog.dropTempView(sink) // memory sink holds all sessions
          wit
        }
      val (w1, s1) = timed(sessions("x1"))
      val (wk, sk) = timed(sessions(s"x$k"))
      oneShotSessionWitness = Some((w1, wk))
      (w1._1, wk._1, s1, sk,
        check(w1._1 > 0 && scaled(w1, wk, k),
          s"session witness must be nonempty and scale ×$k: $w1 vs $wk"))
    }

    // --------------------------------- 10c. incremental-arrival sessionize
    // The SAME ×k stream as 10b, driven in S time-ordered bounded slices
    // (`maxFilesPerTrigger` under AvailableNow — the production arrival
    // shape) instead of one giant micro-batch. 10b's documented caveat was
    // that its single AvailableNow batch pays the whole 102M-row state
    // shuffle at once (×29 wall at ×64); here each slice carries ~1/S of
    // the rows, the watermark advances between slices, timed-out sessions
    // emit incrementally, and the per-batch wall must show the
    // amortization (no single batch dominating the drain).
    //
    // EXACTNESS under slicing is a theorem, not luck, given two choices
    // this block makes: (a) slices partition the stream BY EVENT TIME, so
    // a later batch can never carry a row below the watermark (min ts of
    // batch b+1 ≥ max ts of batch b ≥ the watermark) — nothing is
    // late-dropped; (b) the watermark delay (30 min) ≥ the session gap
    // (30 min), so a mid-stream timeout can only fire for a session whose
    // next same-user event would be > gap away anyway — sessions split
    // exactly at gap boundaries, never early. Hence the sliced witness
    // must equal 10b's one-shot witness BIT-FOR-BIT (asserted when 10b ran
    // in this invocation) and obey the ×k replication law regardless.
    run("stream_sessionize_inc") {
      val slices = 8
      val filesPerSlice = 4
      def sessions(scale: String): ((Long, BigInt), Seq[Double]) =
        graft.materialize.Staging.withDir(spark, s"scale_stream_inc_$scale") { d =>
          val ev = rd(scale, "events_disjoint").select(col("user_id"), col("ts"))
          val maxReal = ev.agg(max(col("ts"))).head().getTimestamp(0)
          val sentinels = ev.select(col("user_id")).distinct()
            .withColumn("ts", lit(maxReal) + expr("INTERVAL 2 DAYS"))
          // Slice REAL events uniformly over [min ts, max ts]; sentinels
          // (2 days past the max) are their own final slice — uniform
          // slicing over the sentinel-padded range would collapse every
          // real event into slice 0.
          val (loS, hiS) = ev.agg(
            min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
            .as[(Long, Long)].head()
          val width = math.max(1L, (hiS - loS) / slices + 1)
          val sliced = ev.withColumn("__slice",
            least(lit(slices - 1),
              ((unix_timestamp(col("ts")) - loS) / width).cast("int")))
            .unionByName(sentinels.withColumn("__slice", lit(slices)))
          val srcDir = new org.apache.hadoop.fs.Path(s"$d/src")
          val fsys = srcDir.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          // One write per slice, `filesPerSlice` files each, mtimes forced
          // to a strictly increasing per-slice generation: the file source
          // consumes oldest-mtime-first, and `maxFilesPerTrigger =
          // filesPerSlice` makes each micro-batch exactly one slice. The
          // count check is load-bearing — a slice writing fewer files
          // would shift every later batch boundary mid-slice, and a batch
          // that straddles slices breaks the time-ordering exactness
          // argument above.
          val t0 = System.currentTimeMillis() - (slices + 2) * 60000L
          var seen = Set.empty[String]
          (0 to slices).foreach { i =>
            sliced.filter(col("__slice") === i).drop("__slice")
              .repartition(filesPerSlice)
              .write.mode("append").parquet(srcDir.toString)
            val files = fsys.listStatus(srcDir).toSeq.filter(st =>
              st.isFile && !st.getPath.getName.startsWith("_") &&
                !st.getPath.getName.startsWith("."))
            val fresh = files.filterNot(st => seen(st.getPath.getName))
            require(fresh.size == filesPerSlice,
              s"slice $i wrote ${fresh.size} files, expected $filesPerSlice" +
                " — batch boundaries would straddle slices")
            fresh.foreach(st => fsys.setTimes(st.getPath, t0 + i * 60000L, -1))
            seen ++= fresh.map(_.getPath.getName)
          }
          val schema = spark.read.parquet(srcDir.toString).schema
          val sink = "scale_sess_inc_" +
            java.util.UUID.randomUUID.toString.replace("-", "").take(10)
          var batchSecs = Seq.empty[Double]
          val res = graft.streaming.EventStreams.runBoundedToMemory(
            spark, srcDir.toString, schema,
            df => graft.streaming.EventStreams.sessionize(df).toDF(), sink,
            statePartitions = Some(
              spark.sparkContext.defaultParallelism), noDataBatch = false,
            readOptions = Map("maxFilesPerTrigger" -> filesPerSlice.toString),
            probe = q => batchSecs = q.recentProgress.toSeq
              .filter(_.numInputRows > 0)
              .map(_.durationMs.get("triggerExecution").toDouble / 1000.0))
            .filter(col("session_start") <= lit(maxReal))
            .select((col("user_id") % Offset).as("u"), col("session_start"),
              col("session_end"), col("n_events"))
          val wit = w(res)
          spark.catalog.dropTempView(sink)
          (wit, batchSecs)
        }
      val ((w1, b1), s1) = timed(sessions("x1"))
      val ((wk, bk), sk) = timed(sessions(s"x$k"))
      val inv1 = check(w1._1 > 0 && scaled(w1, wk, k),
        s"sliced session witness must scale ×$k: $w1 vs $wk")
      val inv2 = oneShotSessionWitness.map { case (o1, ok) =>
        check(w1 == o1 && wk == ok,
          s"sliced witness must equal the one-shot leg's exactly: " +
            s"x1 $w1 vs $o1, xk $wk vs $ok")
      }.getOrElse("(one-shot leg not in this run)")
      // The amortization claim, asserted: the drain ran as ≥ slices data
      // batches and no single micro-batch carried the run (the one-shot
      // leg is by definition one batch at 100% — here the max batch must
      // sit at a slice-sized fraction of the summed batch wall).
      val inv3 = check(bk.size >= slices &&
          bk.max <= 0.6 * bk.sum,
        f"×$k drain must amortize across ≥$slices batches with no " +
          f"dominant batch: ${bk.size} batches, max ${bk.max}%.1f s " +
          f"of ${bk.sum}%.1f s total")
      val perSlice = bk.map(s => f"$s%.1f").mkString("[", ",", "]")
      (w1._1, wk._1, s1, sk,
        s"$inv1+$inv2+$inv3 xk_batch_secs=$perSlice")
    }

    // -------------------------------------------------- 11–14. ANN family
    // The build-once/search-many path at ×k. Shared protocol (the recall
    // gates' own): probes are deterministic 95/5 blends of neighboring
    // ORIGINAL corpus vectors — close to their source (cosine ≈ 0.998)
    // but not byte-identical, so the quantizer routes a genuinely novel
    // point; held-out ORIGINALS would not work, the synthetic corpus is
    // isotropic and a non-blended query's true NN sits in the ≈0.3 noise
    // floor (recall@1 ≈ 0.5 measured — that protocol gauges the corpus,
    // not the index). Probe ids (+7M) are disjoint from every replica id.
    // The distinct corpus vector set is scale-invariant under replication,
    // so the ×1 brute-force top-1 cosine is the ground truth at ANY k.
    graft.functions.GraftFunctions.register(spark)
    val annQueries =
      graft.queries.PipelineQueries.ivfRecallProbes(
        emb0.filter(col("vec_id") < 500))
    def annCorpus(scale: String) = rd(scale, "embeddings")
    lazy val annTruth: Map[Long, Double] =
      if (wanted(Seq("sim_ivf", "sim_ivfpq", "sim_binary")))
        graft.similarity.Knn.bruteForceTopK(
          annQueries, annCorpus("x1"), "vec_id", "embedding", 1)
          .select(col("query_id"), col("cosine")).as[(Long, Double)]
          .collect().toMap
      else Map.empty
    // recall@1 by DISTANCE (the FAISS protocol the sim_*_recall gates use):
    // a hit is a returned top-1 whose exact cosine matches the brute-force
    // optimum — identical vectors give bitwise-identical kernel doubles,
    // the epsilon only guards reduction-order drift.
    def annRecall(top1: Array[(Long, Double)]): Double =
      top1.count { case (q, c) => c >= annTruth(q) - 1e-9 }.toDouble /
        annTruth.size

    // 11. Range search: an EXACT law — every ×1 neighbor has exactly k
    // shifted copies at ×k, so the projected witness scales by exactly k.
    run("sim_range") {
      def hits(scale: String) = graft.similarity.Knn.rangeSearch(
        annQueries, annCorpus(scale), "vec_id", "embedding", minCosine = 0.55)
        .select(col("query_id"), (col("neighbor_id") % Offset).as("n"),
          col("cosine"))
      val (w1, s1) = timed(w(hits("x1")))
      val (wk, sk) = timed(w(hits(s"x$k")))
      (w1._1, wk._1, s1, sk,
        check(w1._1 > 0 && scaled(w1, wk, k),
          s"range witness must be nonempty and scale ×$k: $w1 vs $wk"))
    }

    // 12. IVF-Flat: build (quantizer train + corpus assignment) + one
    // query batch, timed end-to-end per scale. The ×k quantizer trains on
    // its own hash-order sample, so list geometry legitimately differs —
    // the invariant is the SEARCH CONTRACT: recall@1 ≥ 0.9 at both scales
    // (gate parity: nlist=16, nprobe=4).
    run("sim_ivf") {
      def top1(scale: String): Array[(Long, Double)] = {
        val idx = graft.similarity.Knn.buildIvf(
          annCorpus(scale), "vec_id", "embedding", nlist = 16)
        graft.similarity.Knn.searchIvf(idx, annQueries, "vec_id", "embedding",
          k = 1, nprobe = 4)
          .select(col("query_id"), col("cosine")).as[(Long, Double)].collect()
      }
      val (t1, s1) = timed(top1("x1"))
      val (tk, sk) = timed(top1(s"x$k"))
      val (r1, rk) = (annRecall(t1), annRecall(tk))
      (annCorpus("x1").count(), annCorpus(s"x$k").count(), s1, sk,
        check(r1 >= 0.9 && rk >= 0.9,
          f"IVF recall@1 must hold at both scales: ×1=$r1%.2f ×$k=$rk%.2f") +
          f" recall ×1=$r1%.2f ×$k=$rk%.2f")
    }

    // 13. IVF-PQ: same contract through the quantized + ADC + refine path.
    // The refine budget scales with k: duplicate copies tie EXACTLY on the
    // ADC score and the (approx desc, id asc) cut takes original ids
    // first, so a k-scaled budget's candidate VECTOR set is a superset of
    // the ×1 set — the production rule for duplicate-heavy corpora.
    run("sim_ivfpq") {
      def top1(scale: String, kk: Int): Array[(Long, Double)] = {
        val c = annCorpus(scale)
        val idx = graft.similarity.Knn.buildIvfPq(
          c, "vec_id", "embedding", nlist = 16, m = 8)
        graft.similarity.Knn.searchIvfPq(idx, annQueries, c, "vec_id",
          "embedding", k = 1, nprobe = 4, refine = 32 * kk)
          .select(col("query_id"), col("cosine")).as[(Long, Double)].collect()
      }
      val (t1, s1) = timed(top1("x1", 1))
      val (tk, sk) = timed(top1(s"x$k", k))
      val (r1, rk) = (annRecall(t1), annRecall(tk))
      (annCorpus("x1").count(), annCorpus(s"x$k").count(), s1, sk,
        check(r1 >= 0.9 && rk >= 0.9,
          f"IVF-PQ recall@1 must hold at both scales: ×1=$r1%.2f ×$k=$rk%.2f") +
          f" recall ×1=$r1%.2f ×$k=$rk%.2f")
    }

    // 14. Binary top-k: the Hamming cut is a TOTAL order (hamming asc, id
    // asc), and within a tied Hamming class every original id sorts before
    // every shifted copy — so a k-scaled refine budget's vector set is a
    // SUPERSET of ×1's (same walk, boundaries scale exactly by k), giving
    // a per-query law on top of the recall floor: cosine(×k) ≥ cosine(×1).
    run("sim_binary") {
      def top1(scale: String, kk: Int): Map[Long, Double] = {
        graft.similarity.Knn.binaryTopK(annQueries, annCorpus(scale),
          "vec_id", "embedding", k = 1, refine = 16 * kk)
          .select(col("query_id"), col("cosine")).as[(Long, Double)]
          .collect().toMap
      }
      val (t1, s1) = timed(top1("x1", 1))
      val (tk, sk) = timed(top1(s"x$k", k))
      val (r1, rk) = (annRecall(t1.toArray), annRecall(tk.toArray))
      val dominated = t1.forall { case (q, c) => tk(q) >= c - 1e-9 }
      (annCorpus("x1").count(), annCorpus(s"x$k").count(), s1, sk,
        check(r1 >= 0.9 && rk >= 0.9 && dominated,
          f"binary recall/dominance must hold: ×1=$r1%.2f ×$k=$rk%.2f " +
            s"dominated=$dominated") + f" recall ×1=$r1%.2f ×$k=$rk%.2f")
    }

    // ------------------------------------------------------------- report
    val json = results.map { r =>
      s""""${r.name}":{"rows_x1":${r.rows1},"rows_xk":${r.rowsK},""" +
        f""""sec_x1":${r.sec1}%.2f,"sec_xk":${r.secK}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""SCALE-JSON {"k":$k,"ops":$json,"all_invariants":"OK"}""")
    spark.stop() // drains the listener bus: the metrics are complete
    // One line per op, then one for the stage attempts no op owns (staging),
    // so every stage attempt of the run appears exactly once.
    Metrics.write(java.nio.file.Paths.get("target", s"scale_metrics_x$k.jsonl"),
      results.toSeq.map(r => metrics.line(s""""op":"${r.name}"""", _(Metrics.gateTag(r.name)))) :+
        metrics.line(""""op":null""", ts => !results.exists(r => ts(Metrics.gateTag(r.name)))))
  }

  private def log(msg: String): Unit = println(s"[scale] $msg")
}
