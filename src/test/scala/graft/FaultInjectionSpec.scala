package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Failpoints, ScopedStorage}
import graft.materialize.{Contracts, IncrementalConfig, IncrementalMaterialization, IncrementalStrategy, RelationOps, SnapshotConfig, SnapshotMaterialization, SnapshotStrategy, Staging}
import graft.materialize.Contracts.ColumnSpec
import graft.quality.Governance

/** Crash-window specs (r11 verdict item 3): every multi-step catalog
  * mutation with a recovery path gets its failure window exercised
  * DIRECTLY via [[Failpoints]] — the injected error lands exactly between
  * the two steps the window separates, and the spec asserts the
  * documented contract: either a full rollback (a table with the original
  * contents stays bound to the target name) or a named, durable recovery
  * artifact plus a working recovery call.
  *
  * Windows covered:
  *   - `erase.overwrite`   — eraseKeys dies mid-overwrite (Governance)
  *   - `contract.rename_in`— staged contract commit dies after the target
  *                           was renamed aside (Lifecycle)
  *   - `relayout.rebuild`  — relayout CTAS dies after the rename-aside
  *                           (RelationOps.evolvePartitioning/compact)
  *   - `staged.commit`     — a staged merge/snapshot commit dies at the top
  *                           of its destructive window (Staging.stagedCommit;
  *                           covers unpartitioned merge, partition-scoped
  *                           merge, and both snapshot paths)
  *   - `cc.round`          — a connected-components round dies after its
  *                           count (Clusters): nothing stays pinned
  */
class FaultInjectionSpec extends AnyFunSuite with BeforeAndAfterEach {
  import SparkTestSession._
  import spark.implicits._

  override def afterEach(): Unit = Failpoints.disarmAll()

  private var n = 0
  private def fresh(tag: String): String = { n += 1; s"default.fi_${tag}_$n" }

  // ------------------------------------------------------------ eraseKeys

  test("eraseKeys crash window: stage survives, retry fails fast, recovery restores") {
    val t = fresh("erase")
    val stage = s"${t}__erase_stage"
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "d")).toDF("uid", "payload")
      .write.saveAsTable(t)

    // 1. The overwrite dies mid-erasure: the error names the recovery
    //    call, and the stage holds the survivors durably.
    Failpoints.arm("erase.overwrite")
    val e1 = intercept[IllegalStateException] {
      Governance.eraseKeys(spark, t, "uid", Seq(3L).toDF("k"))
    }
    assert(e1.getMessage.contains("recoverErasure"))
    assert(e1.getCause.isInstanceOf[Failpoints.Injected])
    assert(spark.catalog.tableExists(stage), "recovery stage must survive")
    val staged = spark.table(stage).select("uid").as[Long].collect().sorted
    assert(staged.toSeq === Seq(1L, 2L), "stage must hold the survivors")

    // 2. The natural retry must NOT rebuild the stage from the (possibly
    //    truncated) target — it fails fast, stage untouched (the r11
    //    advice: the old behavior silently destroyed the only recovery
    //    copy while the retry appeared to succeed).
    val e2 = intercept[IllegalStateException] {
      Governance.eraseKeys(spark, t, "uid", Seq(3L).toDF("k"))
    }
    assert(e2.getMessage.contains("recoverErasure"))
    assert(spark.table(stage).count() === 2, "retry must not touch the stage")

    // 3. Recovery completes the erasure from the stage and retires it.
    assert(Governance.recoverErasure(spark, t) === 2L)
    assert(!spark.catalog.tableExists(stage))
    assert(spark.table(t).select("uid").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))

    // 4. The primitive is usable again after recovery.
    val (b, p, a) = Governance.eraseKeys(spark, t, "uid", Seq(2L).toDF("k"))
    assert((b, p, a) === ((2L, 1L, 1L)))
    spark.sql(s"DROP TABLE $t")
  }

  test("recoverErasure without a stage refuses loudly") {
    val t = fresh("erase_nostage")
    Seq((1L, "a")).toDF("uid", "payload").write.saveAsTable(t)
    val e = intercept[IllegalArgumentException] {
      Governance.recoverErasure(spark, t)
    }
    assert(e.getMessage.contains("no erasure recovery stage"))
    spark.sql(s"DROP TABLE $t")
  }

  // --------------------------------------------------- contract commit

  private val contract =
    Seq(ColumnSpec("k", "bigint", notNull = true), ColumnSpec("s", "string"))

  test("contract commit crash window: original stays bound, no stage/aside debris") {
    val t = fresh("contract")
    Contracts.materialize(spark, t,
      Seq((1L, "old"), (2L, "old")).toDF("k", "s"), contract)

    Failpoints.arm("contract.rename_in")
    intercept[Failpoints.Injected] {
      Contracts.materialize(spark, t,
        Seq((9L, "new")).toDF("k", "s"), contract)
    }
    // Full rollback: a TABLE with the ORIGINAL contents is still bound to
    // the target name (the r11 shape dropped the target first — this
    // window used to leave NO table bound to the name).
    assert(spark.catalog.tableExists(t))
    assert(spark.table(t).select("s").distinct().as[String].collect().toSeq
      === Seq("old"))
    assert(!spark.catalog.tableExists(s"${t}__contract_stage"))
    assert(!spark.catalog.tableExists(s"${t}__contract_old"))

    // Disarmed (one-shot), the rebuild lands.
    Contracts.materialize(spark, t, Seq((9L, "new")).toDF("k", "s"), contract)
    assert(spark.table(t).select("s").as[String].collect().toSeq === Seq("new"))
    assert(!spark.catalog.tableExists(s"${t}__contract_old"))
    spark.sql(s"DROP TABLE $t")
  }

  test("contract commit crash window: PARTITIONED original restores readable") {
    val t = fresh("contract_part")
    Contracts.materialize(spark, t,
      Seq((1L, "p1"), (2L, "p2"), (3L, "p2")).toDF("k", "s"), contract,
      partitionBy = Seq("s"))
    assert(spark.table(t).count() === 3)

    Failpoints.arm("contract.rename_in")
    intercept[Failpoints.Injected] {
      Contracts.materialize(spark, t,
        Seq((9L, "px")).toDF("k", "s"), contract, partitionBy = Seq("s"))
    }
    // The rollback rename breaks partition locations exactly like the
    // forward one — the restored table must still READ its rows (an
    // unrepaired restore reads empty).
    assert(spark.table(t).count() === 3, "restored partitioned table reads")
    assert(spark.table(t).select("k").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    spark.sql(s"DROP TABLE $t")
  }

  test("contract commit over a VIEW target: view dropped, failure leaves name unbound but data-free") {
    val t = fresh("contract_view")
    spark.sql(s"CREATE VIEW $t AS SELECT 1L AS k, 'v' AS s")
    // Success path: re-materializing a view as a contracted table works.
    Contracts.materialize(spark, t, Seq((5L, "t")).toDF("k", "s"), contract)
    assert(spark.catalog.getTable(t).tableType !== "VIEW")
    assert(spark.table(t).select("k").as[Long].head() === 5L)
    spark.sql(s"DROP TABLE $t")
  }

  test("contract commit over a VIEW target: rename-in failure preserves the staged build") {
    val t = fresh("contract_view_fail")
    spark.sql(s"CREATE VIEW $t AS SELECT 1L AS k, 'v' AS s")
    // A view has no data to rename aside, so when the rename-in dies the
    // staged build is the ONLY copy of the validated data — the commit
    // must surface it as the named recovery artifact, never drop it.
    Failpoints.arm("contract.rename_in")
    val e = intercept[IllegalStateException] {
      Contracts.materialize(spark, t, Seq((5L, "t")).toDF("k", "s"), contract)
    }
    assert(e.getMessage.contains("__contract_stage"))
    assert(e.getCause.isInstanceOf[Failpoints.Injected])
    assert(!spark.catalog.tableExists(t), "target name stays unbound")
    val stage = s"${t}__contract_stage"
    assert(spark.catalog.tableExists(stage), "staged build preserved")
    assert(spark.table(stage).select("k").as[Long].head() === 5L)
    // The documented recovery — rename the stage into place — completes.
    RelationOps.rename(spark, stage, t)
    assert(spark.table(t).select("k").as[Long].head() === 5L)
    spark.sql(s"DROP TABLE $t")
  }

  test("contract commit self-heals an orphan directory at the aside location") {
    val t = fresh("contract_orphan")
    Contracts.materialize(spark, t, Seq((1L, "old")).toDF("k", "s"), contract)
    // Plant an orphan at the aside's default managed path: no catalog
    // entry binds it, so only the commit's own self-heal can clear it —
    // without the heal, the rename-aside fails forever on every future
    // contract materialization of this table.
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      s"${t.split('.').last}__contract_old", Some("default"))
    val orphan = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphan)
    fs.create(new org.apache.hadoop.fs.Path(orphan, "junk")).close()

    Contracts.materialize(spark, t, Seq((2L, "new")).toDF("k", "s"), contract)
    assert(spark.table(t).select("s").as[String].head() === "new")
    assert(!spark.catalog.tableExists(s"${t}__contract_old"))
    spark.sql(s"DROP TABLE $t")
  }

  // ----------------------------------------------------------- relayout

  test("relayout crash window: original table renames back with contents") {
    val t = fresh("relayout")
    Seq((1L, "p1"), (2L, "p2"), (3L, "p2")).toDF("k", "s")
      .write.saveAsTable(t)

    Failpoints.arm("relayout.rebuild")
    intercept[Failpoints.Injected] {
      RelationOps.evolvePartitioning(spark, t, Seq("s"))
    }
    assert(spark.catalog.tableExists(t))
    assert(spark.table(t).select("k").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    assert(!spark.catalog.tableExists(s"${t}__evolve_src"))

    // And the evolution still works once the fault clears.
    RelationOps.evolvePartitioning(spark, t, Seq("s"))
    assert(spark.table(t).count() === 3)
    spark.sql(s"DROP TABLE $t")
  }

  test("relayout crash window: PARTITIONED source restores readable") {
    val t = fresh("relayout_part")
    Seq((1L, "p1"), (2L, "p2"), (3L, "p2")).toDF("k", "s")
      .write.partitionBy("s").saveAsTable(t)

    Failpoints.arm("relayout.rebuild")
    intercept[Failpoints.Injected] {
      RelationOps.compact(spark, t)
    }
    // Rollback repaired the partition entries — the restored table reads.
    assert(spark.table(t).count() === 3, "restored partitioned table reads")
    spark.sql(s"DROP TABLE $t")
  }

  // ------------------------------------------------------- staged commits

  private def recoveryExists(table: String): Boolean = {
    val dir = Staging.recoveryDir(spark, graft.core.Relation.parse(table))
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("merge commit crash window: artifact survives, retry fails fast, recovery lands the merge") {
    val t = fresh("merge_commit")
    val cfg = IncrementalConfig(IncrementalStrategy.Merge, uniqueKey = Seq("k"))
    IncrementalMaterialization.run(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), cfg) // first run: CTAS path

    Failpoints.arm("staged.commit")
    val e1 = intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), cfg)
    }
    assert(e1.getMessage.contains("recoverStagedCommit"))
    assert(e1.getCause.isInstanceOf[Failpoints.Injected])
    assert(recoveryExists(t), "recovery artifact must survive")
    // This window fired before anything destructive — the target still reads.
    assert(spark.table(t).count() === 2)

    // The natural retry must NOT re-merge over a possibly-damaged target
    // (the staged artifact is the only sound copy of the merge result).
    val e2 = intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), cfg)
    }
    assert(e2.getMessage.contains("pending staged-commit recovery artifact"))
    assert(recoveryExists(t), "retry must not touch the artifact")

    Staging.recoverStagedCommit(spark, t)
    assert(!recoveryExists(t), "recovery retires the artifact")
    assert(spark.table(t).orderBy("k").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b2"), (3L, "c")))

    // Usable again after recovery.
    IncrementalMaterialization.run(spark, t, Seq((4L, "d")).toDF("k", "v"), cfg)
    assert(spark.table(t).count() === 4)
    spark.sql(s"DROP TABLE $t")
  }

  test("vacuumOrphans sweeps abandoned staging but never a pending artifact") {
    val t = fresh("vac_commit")
    val cfg = IncrementalConfig(IncrementalStrategy.Merge, uniqueKey = Seq("k"))
    IncrementalMaterialization.run(spark, t, Seq((1L, "a")).toDF("k", "v"), cfg)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Case 1: commit dies, artifact RENAMED to the recovery location.
    Failpoints.arm("staged.commit")
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t, Seq((1L, "a2")).toDF("k", "v"), cfg)
    }
    assert(recoveryExists(t))
    // An abandoned staging dir the sweep SHOULD take.
    val junk = new org.apache.hadoop.fs.Path(s"$warehouse/_graft_staging/vac_spec_junk")
    fs.mkdirs(junk)
    // Max-aggression sweep (negative retention: everything is "expired") —
    // the artifact must survive even this.
    val removed = Staging.vacuumOrphans(spark, retentionMs = -1000)
    assert(removed.exists(_.endsWith("vac_spec_junk")))
    assert(!fs.exists(junk))
    assert(recoveryExists(t), "sweep must never touch a pending artifact")
    Staging.recoverStagedCommit(spark, t)
    assert(spark.table(t).orderBy("k").as[(Long, String)].collect().toSeq
      === Seq((1L, "a2")))

    // Case 2: commit dies AND the artifact rename fails — the artifact
    // physically stays in _graft_staging, marked only by a recovery
    // POINTER file. The sweep must honor the pointer.
    Failpoints.arm("staged.commit")
    Failpoints.arm("staged.rename_failed")
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t, Seq((1L, "a3")).toDF("k", "v"), cfg)
    }
    assert(recoveryExists(t), "pointer file must block re-entry")
    val removed2 = Staging.vacuumOrphans(spark, retentionMs = -1000)
    assert(removed2.isEmpty,
      s"pointer-referenced staging dir must survive the sweep: $removed2")
    Staging.recoverStagedCommit(spark, t)
    assert(spark.table(t).orderBy("k").as[(Long, String)].collect().toSeq
      === Seq((1L, "a3")))

    // Case 3: a SIDECAR'd staging dir with nothing referencing it — the
    // double-fallback window (recovery rename AND pointer write both
    // failed) or a JVM death mid-replay. It may be the only sound copy of
    // the commit's result; the sweep must skip it on the sidecar alone.
    val orphanCommit =
      new org.apache.hadoop.fs.Path(s"$warehouse/_graft_staging/vac_spec_commit")
    fs.mkdirs(orphanCommit)
    locally {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(orphanCommit, Staging.Sidecar), true)
      try out.write("table=default.vac_spec_commit\nmode=replace_table\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val removed3 = Staging.vacuumOrphans(spark, retentionMs = -1000)
    assert(!removed3.exists(_.endsWith("vac_spec_commit")) && fs.exists(orphanCommit),
      "sidecar'd staging dir must survive the sweep")
    fs.delete(orphanCommit, true)
    spark.sql(s"DROP TABLE $t")
  }

  test("vacuumOrphans ages a staging dir by its newest direct child, not the root mtime") {
    // The in-flight-partitioned-write hazard: files streaming into
    // partition SUBDIRS bump the subdirs' mtimes but not the staging
    // root's — a root-mtime-only age check would sweep a long write
    // mid-flight. Model it: root mtime 10 days old, one direct child
    // touched now. A 7-day sweep must SKIP it; once the child is also
    // aged past retention, the same sweep takes it.
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val dir = new org.apache.hadoop.fs.Path(
      s"$warehouse/_graft_staging/vac_spec_inflight")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val child = new org.apache.hadoop.fs.Path(dir, "part=1")
    fs.mkdirs(child)
    val tenDaysAgo = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    fs.setTimes(dir, tenDaysAgo, -1) // root looks abandoned…
    val sevenDays = 7L * 24 * 3600 * 1000
    val kept = Staging.vacuumOrphans(spark, retentionMs = sevenDays)
    assert(!kept.exists(_.endsWith("vac_spec_inflight")) && fs.exists(dir),
      "a staging dir with a fresh direct child is an in-flight write — " +
        s"must survive the sweep (removed: $kept)")
    // …now the write is genuinely abandoned: age the child too. setTimes
    // on the child bumps the PARENT mtime on local FS, so re-age both.
    fs.setTimes(child, tenDaysAgo, -1)
    fs.setTimes(dir, tenDaysAgo, -1)
    val swept = Staging.vacuumOrphans(spark, retentionMs = sevenDays)
    assert(swept.exists(_.endsWith("vac_spec_inflight")) && !fs.exists(dir),
      s"a fully-aged staging dir must be swept (removed: $swept)")
  }

  test("partition-scoped merge crash window: recovery replays the overwrite AND the drained-partition drop") {
    val t = fresh("pmerge_commit")
    val cfg = IncrementalConfig(IncrementalStrategy.Merge,
      uniqueKey = Seq("k"), partitionBy = Seq("p"))
    IncrementalMaterialization.run(spark, t,
      Seq((1L, "a", "x1"), (2L, "b", "x2")).toDF("k", "p", "v"), cfg)

    // Key 1 moves partition a→b: a drains and must be dropped at commit —
    // the drop is recorded IN the artifact, so recovery must replay it too.
    Failpoints.arm("staged.commit")
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((1L, "b", "x1new")).toDF("k", "p", "v"), cfg)
    }
    assert(recoveryExists(t))
    Staging.recoverStagedCommit(spark, t)
    assert(spark.table(t).select("k", "p", "v").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
      === Seq((1L, "b", "x1new"), (2L, "b", "x2")))
    val parts = spark.sql(s"SHOW PARTITIONS $t").as[String].collect().toSeq
    assert(parts === Seq("p=b"), s"drained partition must be dropped, got $parts")
    spark.sql(s"DROP TABLE $t")
  }

  test("snapshot commit crash window: recovery lands the SCD2 rewrite") {
    val t = fresh("snap_commit")
    def cfg(ts: String) = SnapshotConfig(Seq("id"),
      SnapshotStrategy.ByCheck(Seq("val")),
      clock = () => java.sql.Timestamp.valueOf(ts))
    SnapshotMaterialization.run(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "val"), cfg("2024-01-01 00:00:00"))

    Failpoints.arm("staged.commit")
    val e = intercept[IllegalStateException] {
      SnapshotMaterialization.run(spark, t,
        Seq((1L, "a2"), (2L, "b")).toDF("id", "val"), cfg("2024-02-01 00:00:00"))
    }
    assert(e.getMessage.contains("recoverStagedCommit"))
    assert(recoveryExists(t))
    Staging.recoverStagedCommit(spark, t)
    val snap = spark.table(t)
    assert(snap.count() === 3)
    assert(snap.filter(col("id") === 1 && col("dbt_valid_to").isNull)
      .select("val").as[String].head() === "a2")
    assert(snap.filter(col("id") === 1 && col("dbt_valid_to").isNotNull)
      .count() === 1)
    spark.sql(s"DROP TABLE $t")
  }

  test("partitioned snapshot crash window: recovery replays the touched partitions") {
    val t = fresh("snap_part_commit")
    def cfg(ts: String) = SnapshotConfig(Seq("id"),
      SnapshotStrategy.ByCheck(Seq("val")),
      clock = () => java.sql.Timestamp.valueOf(ts), partitionHistory = true)
    SnapshotMaterialization.run(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "val"), cfg("2024-01-01 00:00:00"))

    Failpoints.arm("staged.commit")
    intercept[IllegalStateException] {
      SnapshotMaterialization.run(spark, t,
        Seq((1L, "a2"), (2L, "b"), (3L, "c")).toDF("id", "val"),
        cfg("2024-02-01 00:00:00"))
    }
    assert(recoveryExists(t))
    Staging.recoverStagedCommit(spark, t)
    val snap = spark.table(t)
    assert(snap.count() === 4)
    // Open partition holds a2/b/c; id=1 v1 closed under its close date.
    assert(snap.filter(col("dbt_valid_to_date") === to_date(lit("9999-12-31")))
      .count() === 3)
    assert(snap.filter(col("dbt_valid_to_date") === to_date(lit("2024-02-01")))
      .select("val").as[String].head() === "a")
    spark.sql(s"DROP TABLE $t")
  }

  test("partitioned snapshot that closes EVERY open row drops the stale open partition") {
    val t = fresh("snap_drain")
    def cfg(ts: String) = SnapshotConfig(Seq("id"),
      SnapshotStrategy.ByCheck(Seq("val")),
      clock = () => java.sql.Timestamp.valueOf(ts),
      partitionHistory = true, invalidateHardDeletes = true)
    SnapshotMaterialization.run(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "val"), cfg("2024-01-01 00:00:00"))
    // Every key vanishes: the run writes only close-date partitions, so
    // dynamic overwrite alone would KEEP the stale open partition and
    // duplicate both rows — the commit's recorded drop must remove it.
    SnapshotMaterialization.run(spark, t,
      Seq.empty[(Long, String)].toDF("id", "val"), cfg("2024-02-01 00:00:00"))
    val snap = spark.table(t)
    assert(snap.count() === 2, "no stale open-partition duplicates")
    assert(snap.filter(col("dbt_valid_to").isNull).count() === 0)
    val parts = spark.sql(s"SHOW PARTITIONS $t").as[String].collect().toSeq
    assert(parts === Seq("dbt_valid_to_date=2024-02-01"))
    spark.sql(s"DROP TABLE $t")
  }

  test("recoverStagedCommit without an artifact refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      Staging.recoverStagedCommit(spark, "default.fi_no_artifact")
    }
    assert(e.getMessage.contains("no staged-commit recovery artifact"))
  }

  test("staged-commit rename fallback: a pointer still blocks re-entry and recovery resolves it") {
    val t = fresh("pointer_commit")
    val cfg = IncrementalConfig(IncrementalStrategy.Merge, uniqueKey = Seq("k"))
    IncrementalMaterialization.run(spark, t, Seq((1L, "a")).toDF("k", "v"), cfg)

    // The commit dies mid-overwrite AND the artifact rename also fails: a
    // POINTER FILE at the recovery location must still block the naive
    // retry (which would re-merge from the damaged target).
    Failpoints.arm("staged.commit")
    Failpoints.arm("staged.rename_failed")
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((1L, "a2")).toDF("k", "v"), cfg)
    }
    assert(recoveryExists(t), "pointer must occupy the recovery location")
    val e2 = intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((1L, "a2")).toDF("k", "v"), cfg)
    }
    assert(e2.getMessage.contains("pending staged-commit recovery artifact"))
    assert(e2.getMessage.contains(t), "gate names the recorded owner")

    Staging.recoverStagedCommit(spark, t) // resolves the pointer indirection
    assert(!recoveryExists(t), "pointer and artifact both retired")
    assert(spark.table(t).select("v").as[String].head() === "a2")
    spark.sql(s"DROP TABLE $t")
  }

  test("recoverStagedCommit refuses an artifact recorded for another table") {
    val t = fresh("mismatch")
    val cfg = IncrementalConfig(IncrementalStrategy.Merge, uniqueKey = Seq("k"))
    IncrementalMaterialization.run(spark, t,
      Seq((1L, "a")).toDF("k", "v"), cfg)
    Failpoints.arm("staged.commit")
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((1L, "a2")).toDF("k", "v"), cfg)
    }
    // The recovery dir name flattens schema+identifier, so two distinct
    // tables CAN collide on it — the artifact's recorded table name is the
    // authority and a mismatched recovery must refuse, never replay.
    val dir = Staging.recoveryDir(spark, graft.core.Relation.parse(t))
    val e = intercept[IllegalArgumentException] {
      Staging.recoverStagedCommit(spark, "default.fi_other_table", Some(dir))
    }
    assert(e.getMessage.contains("belongs to table"))
    assert(recoveryExists(t), "mismatched recovery must not consume the artifact")
    Staging.recoverStagedCommit(spark, t) // the rightful owner recovers
    assert(spark.table(t).select("v").as[String].head() === "a2")
    spark.sql(s"DROP TABLE $t")
  }

  test("crash-recovery state machine: random op/crash/recover sequences track the model") {
    // The window specs above exercise each crash in isolation; this drives
    // random SEQUENCES of (merge | erase | relayout) with coin-flip crash
    // injection and asserts the table equals a driver-side model after
    // every step — the cross-operation residue check (a recovered commit
    // must leave no artifact, stage, or aside that corrupts the NEXT
    // operation, whatever it is). Recovery contracts per window:
    // staged.commit → target untouched, retry refuses, recoverStagedCommit
    // LANDS the merge; erase.overwrite → stage survives (target may be
    // mid-overwrite), recoverErasure COMPLETES the erasure;
    // relayout.rebuild → automatic rollback, contents keep reading.
    import scala.util.Random
    val rnd = new Random(21987)
    val trials = sys.env.get("SPARK_GRAFT_MACHINE_TRIALS").map(_.toInt).getOrElse(2)
    val steps = sys.env.get("SPARK_GRAFT_MACHINE_STEPS").map(_.toInt).getOrElse(12)
    val cfg = IncrementalConfig(IncrementalStrategy.Merge, uniqueKey = Seq("k"))
    (1 to trials).foreach { trial =>
      val t = fresh(s"crash_rand_$trial")
      val init = (1 to 5).map(i => (i.toLong, s"v$i"))
      IncrementalMaterialization.run(spark, t, init.toDF("k", "v"), cfg)
      var model: Map[Long, String] = init.toMap
      def tableNow(): Map[Long, String] = spark.table(t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      (1 to steps).foreach { step =>
        val crash = rnd.nextBoolean()
        rnd.nextInt(3) match {
          case 0 => // MERGE upsert batch
            val batch = (1 to (1 + rnd.nextInt(4)))
              .map(_ => (rnd.nextInt(12).toLong + 1, s"s${step}_${rnd.nextInt(99)}"))
              .distinctBy(_._1)
            if (crash) {
              Failpoints.arm("staged.commit")
              intercept[IllegalStateException] {
                IncrementalMaterialization.run(spark, t, batch.toDF("k", "v"), cfg)
              }
              assert(tableNow() === model, s"trial=$trial step=$step crash touched target")
              intercept[IllegalStateException] { // retry refuses over the artifact
                IncrementalMaterialization.run(spark, t, batch.toDF("k", "v"), cfg)
              }
              Staging.recoverStagedCommit(spark, t)
            } else
              IncrementalMaterialization.run(spark, t, batch.toDF("k", "v"), cfg)
            model = model ++ batch
          case 1 => // ERASE one key (present or not)
            val k = rnd.nextInt(12).toLong + 1
            if (crash) {
              Failpoints.arm("erase.overwrite")
              intercept[IllegalStateException] {
                Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
              } // target may be mid-overwrite here — only recovery restores it
              intercept[IllegalStateException] { // retry must not rebuild the stage
                Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
              }
              Governance.recoverErasure(spark, t)
            } else
              Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
            model = model - k
          case _ => // RELAYOUT (compact): contents-neutral, auto-rollback
            if (crash) {
              Failpoints.arm("relayout.rebuild")
              intercept[Failpoints.Injected] { RelationOps.compact(spark, t) }
            } else RelationOps.compact(spark, t)
        }
        Failpoints.disarmAll()
        assert(tableNow() === model, s"trial=$trial step=$step post-state")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("SCD2 crash machine: random snapshot/erase/relayout sequences track the history model") {
    // The merge machine above drives a flat upsert table; this drives the
    // OTHER stateful materialization — SCD2 history — through the same
    // coin-flip crash discipline, interleaved with erasure (which must
    // remove a key's WHOLE history, open and closed) and contents-neutral
    // relayout. The model is the plain SCD2 fold (HardDeletes.Ignore,
    // ByCheck on the value column); the table must equal it after every
    // step, and scd_id must stay unique across the whole history whatever
    // the crash/recovery interleaving did.
    import scala.util.Random
    import java.sql.Timestamp
    val rnd = new Random(31543)
    val trials = sys.env.get("SPARK_GRAFT_MACHINE_TRIALS").map(_.toInt).getOrElse(2)
    val steps = sys.env.get("SPARK_GRAFT_MACHINE_STEPS").map(_.toInt).getOrElse(10)
    case class V(k: Long, v: String, from: Long, to: Option[Long])
    def cfgAt(now: Long) = SnapshotConfig(Seq("k"),
      SnapshotStrategy.ByCheck(Seq("v")), clock = () => new Timestamp(now))
    (1 to trials).foreach { trial =>
      val t = fresh(s"scd2_rand_$trial")
      val t0 = 86400000L
      val init = (1 to 4).map(i => (i.toLong, s"v$i"))
      SnapshotMaterialization.run(spark, t, init.toDF("k", "v"), cfgAt(t0))
      var model: Vector[V] = init.toVector.map { case (k, v) => V(k, v, t0, None) }
      def tableNow(): Vector[V] = spark.table(t).collect().map { r =>
        V(r.getAs[Long]("k"), r.getAs[String]("v"),
          r.getAs[Timestamp]("dbt_valid_from").getTime,
          Option(r.getAs[Timestamp]("dbt_valid_to")).map(_.getTime))
      }.toVector
      def sorted(vs: Vector[V]) = vs.sortBy(_.toString)
      def applySnapshot(src: Map[Long, String], now: Long): Unit = {
        val opens = model.filter(_.to.isEmpty).map(v => v.k -> v).toMap
        var next = model
        src.foreach { case (k, v) =>
          opens.get(k) match {
            case None => next = next :+ V(k, v, now, None)
            case Some(o) if o.v != v =>
              next = next.map(x => if (x eq o) x.copy(to = Some(now)) else x) :+
                V(k, v, now, None)
            case _ =>
          }
        } // HardDeletes.Ignore: vanished keys stay open
        model = next
      }
      (1 to steps).foreach { step =>
        val now = t0 * (step + 1)
        val crash = rnd.nextBoolean()
        rnd.nextInt(3) match {
          case 0 => // SNAPSHOT a random batch
            val src = (1 to 8).filter(_ => rnd.nextBoolean())
              .map(k => k.toLong -> s"s${step}_${rnd.nextInt(3)}").toMap
            val srcDf = src.toSeq.toDF("k", "v")
            if (crash) {
              Failpoints.arm("staged.commit")
              intercept[IllegalStateException] {
                SnapshotMaterialization.run(spark, t, srcDf, cfgAt(now))
              }
              assert(sorted(tableNow()) === sorted(model),
                s"trial=$trial step=$step crash touched history")
              intercept[IllegalStateException] { // artifact blocks the retry
                SnapshotMaterialization.run(spark, t, srcDf, cfgAt(now))
              }
              Staging.recoverStagedCommit(spark, t)
            } else SnapshotMaterialization.run(spark, t, srcDf, cfgAt(now))
            applySnapshot(src, now)
          case 1 => // ERASE one key's whole history
            val k = rnd.nextInt(8).toLong + 1
            if (crash) {
              Failpoints.arm("erase.overwrite")
              intercept[IllegalStateException] {
                Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
              }
              intercept[IllegalStateException] {
                Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
              }
              Governance.recoverErasure(spark, t)
            } else Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
            model = model.filterNot(_.k == k)
          case _ => // RELAYOUT: contents-neutral, auto-rollback on crash
            if (crash) {
              Failpoints.arm("relayout.rebuild")
              intercept[Failpoints.Injected] { RelationOps.compact(spark, t) }
            } else RelationOps.compact(spark, t)
        }
        Failpoints.disarmAll()
        assert(sorted(tableNow()) === sorted(model),
          s"trial=$trial step=$step post-state")
        val ids = spark.table(t).select("dbt_scd_id").collect().map(_.getString(0))
        assert(ids.forall(_ != null) && ids.distinct.length == ids.length,
          s"trial=$trial step=$step scd_id uniqueness")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("microbatch crash machine: partial-run prefixes, merge corrections, erase, relayout track the per-window model") {
    // The third stateful writer (r14 verdict item 3): Microbatch's windows
    // commit through Spark's dynamic-overwrite protocol (no staged
    // artifact), so its crash shape is DIFFERENT from merge/SCD2 — a
    // driver death between windows leaves a committed PREFIX of the run,
    // and the documented recovery is re-running the range (each window
    // idempotently overwrites its own partition). The machine drives
    // random interleavings of (microbatch sub-range over a mutating
    // source | partition-scoped merge correction | erase | relayout) with
    // coin-flip crashes and asserts the table equals the per-window truth
    // after every step, plus the partition-identity invariant
    // batch_start == date(ts) on every row.
    import scala.util.Random
    import java.sql.{Date, Timestamp}
    import graft.materialize.Microbatch
    val rnd = new Random(41519)
    val trials = sys.env.get("SPARK_GRAFT_MACHINE_TRIALS").map(_.toInt).getOrElse(2)
    val steps = sys.env.get("SPARK_GRAFT_MACHINE_STEPS").map(_.toInt).getOrElse(12)
    val nDays = 4
    def dayDate(i: Int) = Date.valueOf(f"2024-01-${i + 1}%02d")
    def dayTs(i: Int) = Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00")
    def boundary(i: Int) = Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    val mergeCfg = IncrementalConfig(IncrementalStrategy.Merge,
      uniqueKey = Seq("k", "ts"), partitionBy = Seq("batch_start"))
    (1 to trials).foreach { trial =>
      val t = fresh(s"micro_rand_$trial")
      // Source of record for the microbatch stream: at most one event per
      // (key, day) so a window rebuild is deterministic.
      var source: Map[(Long, Int), String] =
        (for (k <- 1 to 4; d <- 0 to 1) yield (k.toLong, d) -> s"init${k}_$d").toMap
      def sourceDf() = source.toSeq
        .map { case ((k, d), v) => (k, dayTs(d), v) }.toDF("k", "ts", "v")
      // Initial full-range run creates the table (CTAS path, off-machine).
      Microbatch.run(spark, t, sourceDf(), "ts", boundary(0), boundary(nDays))
      var model: Map[(Long, Int), String] = source
      def applyWindows(from: Int, until: Int): Unit =
        (from until until).foreach { d =>
          model = model.filterNot(_._1._2 == d) ++
            source.collect { case ((k, `d`), v) => (k, d) -> v }
        }
      def tableNow(): Map[(Long, Int), String] = spark.table(t).collect().map {
        r =>
          val ts = r.getAs[Timestamp]("ts")
          val d = ts.toLocalDateTime.getDayOfMonth - 1
          assert(r.getAs[Date]("batch_start") === dayDate(d),
            s"trial=$trial partition identity: batch_start != date(ts)")
          (r.getAs[Long]("k"), d) -> r.getAs[String]("v")
      }.toMap
      (1 to steps).foreach { step =>
        val crash = rnd.nextBoolean()
        rnd.nextInt(4) match {
          case 0 => // MICROBATCH a sub-range over a mutated source
            (1 to (1 + rnd.nextInt(3))).foreach { _ =>
              val key = (rnd.nextInt(5).toLong + 1, rnd.nextInt(nDays))
              if (rnd.nextBoolean()) source += key -> s"m${step}_${rnd.nextInt(99)}"
              else source -= key
            }
            val a = rnd.nextInt(nDays)
            val b = a + 1 + rnd.nextInt(nDays - a)
            if (crash) {
              // Dies BETWEEN windows: exactly window `a` committed.
              Failpoints.arm("microbatch.window")
              intercept[Failpoints.Injected] {
                Microbatch.run(spark, t, sourceDf(), "ts",
                  boundary(a), boundary(b))
              }
              applyWindows(a, a + 1)
              assert(tableNow() === model,
                s"trial=$trial step=$step crashed run must leave exactly " +
                  "the committed prefix")
              // Documented recovery: re-run the range (idempotent windows).
              Microbatch.run(spark, t, sourceDf(), "ts",
                boundary(a), boundary(b))
            } else
              Microbatch.run(spark, t, sourceDf(), "ts",
                boundary(a), boundary(b))
            applyWindows(a, b)
          case 1 => // MERGE correction (partition-scoped → staged commit)
            val batch = (1 to (1 + rnd.nextInt(3)))
              .map(_ => ((rnd.nextInt(5).toLong + 1, rnd.nextInt(nDays)),
                s"c${step}_${rnd.nextInt(99)}"))
              .distinctBy(_._1)
            val batchDf = batch
              .map { case ((k, d), v) => (k, dayTs(d), v, dayDate(d)) }
              .toDF("k", "ts", "v", "batch_start")
            if (crash) {
              Failpoints.arm("staged.commit")
              intercept[IllegalStateException] {
                IncrementalMaterialization.run(spark, t, batchDf, mergeCfg)
              }
              assert(tableNow() === model,
                s"trial=$trial step=$step merge crash touched target")
              intercept[IllegalStateException] { // artifact blocks the retry
                IncrementalMaterialization.run(spark, t, batchDf, mergeCfg)
              }
              Staging.recoverStagedCommit(spark, t)
            } else
              IncrementalMaterialization.run(spark, t, batchDf, mergeCfg)
            model = model ++ batch
          case 2 => // ERASE one key's rows across every partition
            val k = rnd.nextInt(5).toLong + 1
            if (crash) {
              Failpoints.arm("erase.overwrite")
              intercept[IllegalStateException] {
                Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
              }
              intercept[IllegalStateException] { // retry must not touch stage
                Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
              }
              Governance.recoverErasure(spark, t)
            } else Governance.eraseKeys(spark, t, "k", Seq(k).toDF("key"))
            model = model.filterNot(_._1._1 == k)
          case _ => // RELAYOUT: contents-neutral, auto-rollback on crash
            if (crash) {
              Failpoints.arm("relayout.rebuild")
              intercept[Failpoints.Injected] { RelationOps.compact(spark, t) }
            } else RelationOps.compact(spark, t)
        }
        Failpoints.disarmAll()
        assert(tableNow() === model, s"trial=$trial step=$step post-state")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("scratchTempDir: a library session without SPARK_GRAFT_LOCAL_DIR " +
      "keeps per-gate scratch off /dev/shm") {
    import java.nio.file.Paths
    val e = graft.core.Engine
    // What Engine.builder chooses without the env var: no spark.local.dir.
    val library = e.scratchLocalDir(Map.empty, autoFallback = false)
    assert(library === None)
    // Only SPARK_GRAFT_LOCAL_DIR=auto opts a library session into the probe.
    assert(e.scratchLocalDir(Map("SPARK_GRAFT_LOCAL_DIR" -> "auto"),
      autoFallback = false) === e.scratchLocalDir(Map.empty))
    // The test session is built the same way, without spark.local.dir.
    assert(e.sessionLocalDir(spark) === None)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val shm = Paths.get("/dev/shm")
    val dirs = Seq(e.scratchTempDir("graft-library-spec-", library),
      e.scratchTempDir("graft-library-spec-"))
    for (d <- dirs) {
      assert(d.getParent.toAbsolutePath === tmp)
      // Outside /dev/shm unless the JVM's own temp dir is there.
      assert(!d.startsWith(shm) || tmp.startsWith(shm), d)
    }
    // A session that chose a scratch dir gets its scratch data there.
    val chosen = java.nio.file.Files.createTempDirectory("graft-chosen-spec-")
    val inChosen = e.scratchTempDir("graft-library-spec-", Some(chosen.toString))
    assert(inChosen.getParent === chosen)
    (dirs :+ inChosen :+ chosen).foreach(java.nio.file.Files.delete)
  }

  test("a connected-components round that throws leaves no storage after " +
      "the gate-scoped release") {
    spark.catalog.clearCache()
    ScopedStorage.releaseAll(blocking = true)
    // Round 2 of a 40-node path: the edge cache and three checkpoints live.
    Failpoints.arm("cc.round", after = 1)
    intercept[Failpoints.Injected](graft.dedup.Clusters.connectedComponents(
      (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")))
    ScopedStorage.releaseAll(blocking = true) // no clearCache(): the edge cache too
    org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    assert(spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum === 0L)
  }
}
