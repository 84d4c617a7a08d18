package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.streaming.EventStreams

/** Structured Streaming twin of the batch event queries: the same tumbling
  * aggregation over the events table, run as a watermarked stream into a
  * memory sink, must agree with the batch answer on every window it emits.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("streaming tumbling counts agree with the batch aggregation") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file stream source needs a directory; stage the single parquet
    // file into one.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    // Normalize ts inside the stream with the same schema dispatch as
    // Tables.events (the parquet generation decides nanos-long vs NTZ).
    val schema = spark.read.parquet(srcDir.toString).schema
    val transform: DataFrame => DataFrame = df =>
      EventStreams.tumblingCounts(Tables.normalizeEventTs(df))
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "tumbling_sink")

    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

    // Append mode withholds windows still above the watermark, so the
    // streamed result is a prefix subset of the batch result — but every
    // emitted window must match the batch answer exactly.
    assert(streamed.count() > 0)
    val mismatched = streamed.alias("s")
      .join(batch.alias("b"), Seq("window_start", "event_type"), "left")
      .filter(col("b.n").isNull ||
        col("s.n") =!= col("b.n") ||
        abs(col("s.total_value") - col("b.total_value")) > 1e-6)
    assert(mismatched.count() === 0)
    assert(streamed.count() <= batch.count())
  }

  test("stateful streaming sessionizer agrees with the batch sessionizer") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    val schema = spark.read.parquet(srcDir.toString).schema
    val transform: DataFrame => DataFrame = df =>
      EventStreams.sessionize(Tables.normalizeEventTs(df)).toDF()
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "session_sink")

    // Batch truth, reduced to the same (user, start, end, n) shape. The
    // batch query keeps sub-second precision in min/max(ts); the stateful
    // sessionizer folds on floor-seconds (its gap arithmetic), so compare
    // on second-floored bounds.
    val batch = graft.queries.EventQueries.evtSessionize(spark, sf)
      .select(col("user_id"),
        expr("timestamp_seconds(CAST(session_start AS LONG))").as("session_start"),
        expr("timestamp_seconds(CAST(session_end AS LONG))").as("session_end"),
        col("n_events"))

    assert(streamed.count() > 0)
    // Every emitted session must exist identically in the batch answer
    // (append mode withholds sessions still above the watermark).
    assert(streamed.select("user_id", "session_start", "session_end", "n_events")
      .except(batch).count() === 0)
  }

  test("streaming interval join emits exactly the batch containment pairs") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_ij")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    val schema = spark.read.parquet(srcDir.toString).schema
    // Two branches of ONE streaming source (a supported self-join shape):
    // clicks joined to view-anchored 1-hour windows.
    val transform: DataFrame => DataFrame = df => {
      val ev = Tables.normalizeEventTs(df)
      EventStreams.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
    }
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "interval_sink")

    // Batch truth through the bucketed range-join operator — the two
    // runtimes must produce the identical pair set.
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val windows = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val batch = graft.operators.RangeJoin.rangeJoin(clicks, windows,
      Seq("user_id"), "ts", "w_start", "w_end", bucketWidthSec = 3600L)
      .select("user_id", "view_id", "click_id")

    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.select("user_id", "view_id", "click_id")
      .except(batch).count() === 0)
  }

  test("streaming exact dedup keeps one row per distinct content, same set as batch") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_dedup")
    // Documents plus planted exact duplicates under fresh ids: the stream
    // must admit each distinct text once and drop every duplicate, leaving
    // the same CONTENT SET as the batch operator (the representative ROW
    // may differ — batch picks min-by-tiebreak, the stream keeps the
    // first arrival; that contract difference is documented on the op).
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 25).withColumn("doc_id", col("doc_id") + 900000L))
      .withColumn("ts", expr("timestamp_seconds(1700000000 + doc_id % 1000)"))
    planted.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val transform: DataFrame => DataFrame = df =>
      graft.streaming.StreamingDedup.dropExactDuplicates(
        df.withWatermark("ts", "10 minutes"), Seq("text"))
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "dedup_sink")

    val batchKept = graft.dedup.Dedup.exact(
      planted, Seq("text"), Seq(col("doc_id")))
    assert(streamed.count() === batchKept.count())
    // One row per distinct text, and exactly the batch's distinct contents.
    assert(streamed.groupBy("text").count().filter(col("count") > 1).count() === 0)
    assert(streamed.select("text").except(batchKept.select("text")).count() === 0)
  }

  test("streaming cross-corpus dedup keeps exactly the batch survivor rows") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_xdedup")
    // Stream = the documents corpus; static reference = docs 0-99's text
    // (an eval set being scrubbed at ingest). Stateless stream-static
    // anti-join ⇒ the stream must keep EXACTLY the rows the batch operator
    // keeps, row-for-row — no arrival-order caveat applies here.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    docs.write.mode("overwrite").parquet(srcDir.toString)
    val reference = docs.filter(col("doc_id") < 100).select(col("text"))
    val schema = spark.read.parquet(srcDir.toString).schema
    val transform: DataFrame => DataFrame = df =>
      graft.streaming.StreamingDedup.dropExactAgainst(
        df, Seq("text"), reference, Seq("text"))
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "xdedup_sink")

    val batchKept = graft.dedup.Dedup.exactAgainst(
      docs, Seq("text"), reference, Seq("text"))
    assert(streamed.count() === batchKept.count())
    assert(streamed.select("doc_id", "text")
      .except(batchKept.select("doc_id", "text")).count() === 0)
    assert(batchKept.select("doc_id", "text")
      .except(streamed.select("doc_id", "text")).count() === 0)
  }

  test("streaming weighted sample keeps exactly the batch membership") {
    import graft.operators.Sampling
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_wsample")
    // Content-addressed membership is a pure row-local function of
    // (key, weight, salt), so it applies to a stream unchanged and must
    // select EXACTLY the batch rows — the property that makes a sampled
    // stream resumable/replayable.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        least(col("n_chars") / 400.0, lit(1.0)).as("w"))
    docs.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val transform: DataFrame => DataFrame = df =>
      Sampling.weightedSample(df, "doc_id", "w", salt = 21L)
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "wsample_sink")
    val batchKept = Sampling.weightedSample(docs, "doc_id", "w", salt = 21L)
    assert(batchKept.count() > 0 && batchKept.count() < docs.count())
    assert(streamed.count() === batchKept.count())
    assert(streamed.select("doc_id").except(batchKept.select("doc_id")).count() === 0)
    assert(batchKept.select("doc_id").except(streamed.select("doc_id")).count() === 0)
  }

  test("streaming gopher filter keeps exactly the batch rule survivors") {
    import graft.text.QualityRules
    graft.functions.GraftFunctions.register(spark)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_gopher")
    // The rule filter is stateless and scan-local, so it applies to a
    // stream unchanged — at ingest time, before anything stateful. The
    // stream must keep EXACTLY the batch survivor rows.
    val docs = graft.queries.PipelineQueries.linedDocs(
      Tables.documents(spark, sf)).select(col("doc_id"), col("text"))
    docs.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val keep = (c: org.apache.spark.sql.Column) =>
      QualityRules.gopherQualityKeep(c) && QualityRules.gopherRepetitionKeep(c)
    val transform: DataFrame => DataFrame = df => df.filter(keep(col("text")))
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, transform, "gopher_sink")

    val batchKept = docs.filter(keep(col("text")))
    assert(batchKept.count() > 0 && batchKept.count() < docs.count(),
      "rule set must actually discriminate on this corpus")
    assert(streamed.count() === batchKept.count())
    assert(streamed.select("doc_id").except(batchKept.select("doc_id")).count() === 0)
    assert(batchKept.select("doc_id").except(streamed.select("doc_id")).count() === 0)
  }

  test("streaming C4 cleaner emits exactly the batch clean texts") {
    import graft.text.C4Rules
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_c4")
    // C4 is a stateless per-row TRANSFORM (line filter → cleaned text →
    // page verdict), so it runs at stream ingest unchanged; unlike the
    // boolean gopher filter this pins the rewritten PAYLOAD too — every
    // (doc_id, clean_text) the stream emits must equal the batch rewrite.
    val docs = graft.queries.PipelineQueries.c4Docs(
      graft.queries.PipelineQueries.linedDocs(Tables.documents(spark, sf)))
      .select(col("doc_id"), col("text"))
      .localCheckpoint() // one corpus construction for source + truth
    docs.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val clean = (df: DataFrame) =>
      C4Rules.withC4Columns(df, "text")
        .filter(col("c4_keep"))
        .select(col("doc_id"), col("clean_text"))
    val streamed = EventStreams.runBoundedToMemory(
      spark, srcDir.toString, schema, clean, "c4_sink")

    val batchKept = clean(docs)
    assert(batchKept.count() > 0 && batchKept.count() < docs.count(),
      "C4 rules must actually discriminate on this corpus")
    assert(streamed.count() === batchKept.count())
    assert(streamed.except(batchKept).count() === 0)
    assert(batchKept.except(streamed).count() === 0)
  }

  test("streaming ledger ingestion survives the same content set as one-shot dedup") {
    import graft.dedup.Dedup
    val db = "graft_stream_ledger"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.ledger"
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_ldg")
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_ldg_out")
    // Write the corpus as MULTIPLE files so AvailableNow splits it into
    // micro-batches; per micro-batch, foreachBatch runs the SAME rolling
    // ledgerIngest a production ingestion loop runs. Whatever the
    // batching, the union of survivors must carry exactly one row per
    // distinct text — the one-shot dedup's content set (winner IDS may
    // legitimately differ with arrival order; content coverage may not).
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    docs.repartition(4).write.mode("overwrite").parquet(srcDir.toString)
    try {
      val schema = spark.read.parquet(srcDir.toString).schema
      val streamed = EventStreams.runBoundedForeachBatch(
        spark, srcDir.toString, schema,
        df => Dedup.ledgerIngest(t, df, Seq("text"), Seq(col("doc_id"))),
        outDir.toString, readOptions = Map("maxFilesPerTrigger" -> "1"))
      val oneShot = Dedup.exact(docs, Seq("text"), Seq(col("doc_id")))
      assert(streamed.count() === oneShot.count(),
        "one survivor per distinct content, regardless of batching")
      assert(streamed.select("text").except(oneShot.select("text")).count() === 0)
      assert(oneShot.select("text").except(streamed.select("text")).count() === 0)
      assert(spark.table(t).count() === oneShot.count(),
        "ledger cardinality = distinct contents ever ingested")
    } finally {
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }

  test("streaming MG candidate accumulation settles to the batch top-k") {
    import graft.text.HeavyHitters
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_hh")
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_hh_out")
    // Per micro-batch, run ONLY the bounded MG candidate pass and append
    // the survivors (the streaming half of the accumulate-then-settle
    // shape); the pigeonhole bound guarantees the union retains every
    // global heavy hitter no matter how the files batch. The settle step
    // recounts ONCE over the full corpus — the result must equal the
    // one-shot batch operator's top-k exactly.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    docs.repartition(4).write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val accumulated = EventStreams.runBoundedForeachBatch(
      spark, srcDir.toString, schema,
      df => HeavyHitters.candidates(df, "text", capacity = 64),
      outDir.toString, readOptions = Map("maxFilesPerTrigger" -> "1"))
    val settled = HeavyHitters.recount(docs, "text", accumulated, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val oneShot = HeavyHitters.topTokens(docs, "text", k = 10, capacity = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(settled === oneShot,
      "accumulated candidates + one settle recount = batch top-k")
  }

  test("streaming NB scoring with a batch-trained model equals batch predictions") {
    import graft.text.NbClassifier
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_nb")
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_nb_out")
    // Train once on the batch corpus (the production shape: the model is
    // a small persisted table), then score the SAME documents arriving as
    // a stream. Scoring is stateless per document, but its plan needs a
    // window argmax + distinct — batch-only shapes — so it runs per
    // micro-batch via foreachBatch; predictions must be row-identical to
    // the batch path regardless of how the source split into batches.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    docs.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val model = NbClassifier.train(
      Tables.documents(spark, sf), "text", "lang", vocabSize = 200)
    val streamed = EventStreams.runBoundedForeachBatch(
      spark, srcDir.toString, schema,
      df => NbClassifier.predict(model, df, "doc_id", "text"),
      outDir.toString)
    val batch = NbClassifier.predict(model, docs, "doc_id", "text")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("sessionize fold: cross-batch stragglers match batch semantics") {
    import EventStreams.{SessionState, foldBatch}
    val held = Some(SessionState(10000, 10000, 1))
    // Straggler beyond the gap BEFORE the held session: its own closed
    // session; the held state is untouched (the old fold merged it in —
    // wrong start, wrong count, one session lost).
    val (s1, c1) = foldBatch(held, Array(9000L), gapSeconds = 500)
    assert(c1 === Seq(SessionState(9000, 9000, 1)))
    assert(s1 === held)
    // Straggler chain plus a within-reach event: [9000] chains alone
    // (emitted closed), 9800 lowers the held start — exactly the batch
    // sessions over {9000, 9800, 10000} at gap 500.
    val (s2, c2) = foldBatch(held, Array(9000L, 9800L), gapSeconds = 500)
    assert(c2 === Seq(SessionState(9000, 9000, 1)))
    assert(s2 === Some(SessionState(9800, 10000, 2)))
    // Two stragglers chain into ONE earlier session when within gap of
    // each other.
    val (s3, c3) = foldBatch(held, Array(5000L, 5100L), gapSeconds = 600)
    assert(c3 === Seq(SessionState(5000, 5100, 2)))
    assert(s3 === held)
    // BRIDGING: a within-reach straggler lowers the held start to within
    // gap of the early chain — batch semantics over {9400, 9600, 10000}
    // at gap 500 is ONE session; the chain is absorbed, nothing closes.
    val (sb, cb) = foldBatch(held, Array(9400L, 9600L), gapSeconds = 500)
    assert(cb === Seq.empty)
    assert(sb === Some(SessionState(9400, 10000, 3)))
    // Multi-member chain bridges too: {9000, 9400, 9600, 10000} gaps
    // 400/200/400 ≤ 500 → one session of 4.
    val (sm, cm) = foldBatch(held, Array(9000L, 9400L, 9600L), gapSeconds = 500)
    assert(cm === Seq.empty)
    assert(sm === Some(SessionState(9000, 10000, 4)))
    // Non-bridging chain still closes: 8000 is > gap below the lowered
    // start 9600, so it remains its own session.
    val (sn, cn) = foldBatch(held, Array(8000L, 9600L), gapSeconds = 500)
    assert(cn === Seq(SessionState(8000, 8000, 1)))
    assert(sn === Some(SessionState(9600, 10000, 2)))
    // Plain forward flow unchanged: close on gap, open the next.
    val (s4, c4) = foldBatch(None, Array(1L, 2L, 1000L), gapSeconds = 100)
    assert(c4 === Seq(SessionState(1, 2, 2)))
    assert(s4 === Some(SessionState(1000, 1000, 1)))
  }

  test("interval join: random multi-batch streams emit exactly the brute-force pairs") {
    // The fixed-corpus agreement test above checks stream ≡ RangeJoin in
    // one micro-batch; this drives RANDOM events through several
    // micro-batches (time-ordered slice files, maxFilesPerTrigger=1 —
    // the incremental-arrival shape: cross-slice matches must survive
    // join-state retention, and contiguous time slices keep every event
    // inside the 30-minute watermark, so nothing is legitimately dropped)
    // against a THIRD implementation — plain-Scala brute-force
    // containment — with planted exact-boundary deltas (0 s and exactly
    // 3600 s, both inclusive by contract). A first draft of this test fed
    // randomly-split files and lost pairs to WATERMARK EVICTION — correct
    // streaming semantics worth remembering: unordered replay of a
    // watermarked stream is lossy by design.
    import scala.util.Random
    val rnd = new Random(2401)
    (1 to 2).foreach { trial =>
      val base = 1700000000L
      val rows = (1 to 120).map { i =>
        val ty = if (rnd.nextBoolean()) "click" else "view"
        // Second-aligned grid spanning ~2 h: boundary deltas occur often.
        (i.toLong, s"u${rnd.nextInt(4)}", ty,
          new java.sql.Timestamp((base + rnd.nextInt(24) * 300L) * 1000L))
      }
      val srcDir = java.nio.file.Files
        .createTempDirectory(s"graft_ij_rand_$trial")
      // Three contiguous TIME slices, one single-file parquet each, mtimes
      // sequenced so the file source replays them oldest-first.
      val sorted = rows.sortBy(_._4.getTime)
      val slices = sorted.grouped((sorted.length + 2) / 3).toSeq
      slices.zipWithIndex.foreach { case (slice, i) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"ij_slice_$i")
        slice.toDF("event_id", "user_id", "event_type", "ts")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        val partFile = {
          var found: java.nio.file.Path = null
          while (part.hasNext) {
            val p = part.next()
            if (p.getFileName.toString.endsWith(".parquet")) found = p
          }
          found
        }
        val dest = srcDir.resolve(f"slice_$i%02d.parquet")
        java.nio.file.Files.copy(partFile, dest)
        dest.toFile.setLastModified(1000000000000L + i * 60000L)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      val schema = spark.read.parquet(srcDir.toString).schema
      val transform: DataFrame => DataFrame = df =>
        EventStreams.intervalJoin(
          df.filter(col("event_type") === "click"),
          df.filter(col("event_type") === "view"))
      val got = EventStreams.runBoundedToMemory(
        spark, srcDir.toString, schema, transform,
        s"ij_rand_${trial}_" + java.util.UUID.randomUUID.toString.take(8),
        readOptions = Map("maxFilesPerTrigger" -> "1"),
        statePartitions = Some(4), noDataBatch = false)
        .select("user_id", "view_id", "click_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val clicks = rows.filter(_._3 == "click")
      val views = rows.filter(_._3 == "view")
      val want = (for {
        c <- clicks; v <- views
        if c._2 == v._2
        delta = c._4.getTime - v._4.getTime
        if delta >= 0L && delta <= 3600000L // inclusive both ends
      } yield (c._2, v._1, c._1)).toSet
      assert(got === want, s"trial=$trial")
      assert(want.exists { case (_, vid, cid) =>
        rows(vid.toInt - 1)._4.getTime + 3600000L ==
          rows(cid.toInt - 1)._4.getTime },
        s"trial=$trial vacuous: no exact-3600s boundary pair landed")
      org.apache.commons.io.FileUtils.deleteDirectory(srcDir.toFile)
    }
  }

  test("sessionize fold: randomized ordered-batch splits equal batch sessionize") {
    import EventStreams.{SessionState, foldBatch}
    // When batch boundaries respect global event order (no cross-batch
    // stragglers), folding batch-by-batch MUST reproduce the one-shot
    // batch sessionization exactly, for ANY split — the cross-batch
    // continuation logic (open state extended, closed, re-opened across
    // arbitrarily many batches) has no legal divergence there. Straggler
    // branches are pinned by the example cases above.
    val rnd = new scala.util.Random(733)
    def batchSessions(evs: Seq[Long], gap: Long): Seq[SessionState] =
      if (evs.isEmpty) Nil
      else {
        val sorted = evs.sorted
        val out = Seq.newBuilder[SessionState]
        var start = sorted.head; var end = sorted.head; var n = 1L
        sorted.tail.foreach { sec =>
          if (sec - end > gap) { out += SessionState(start, end, n)
            start = sec; end = sec; n = 1 }
          else { end = sec; n += 1 }
        }
        out += SessionState(start, end, n)
        out.result()
      }
    (1 to 30).foreach { trial =>
      val gap = 1 + rnd.nextInt(50)
      val n = 1 + rnd.nextInt(60)
      // Clustered timestamps so multi-event sessions actually form.
      var t = 0L
      val evs = (1 to n).map { _ =>
        t += (if (rnd.nextInt(3) == 0) gap + 1 + rnd.nextInt(3 * gap)
              else rnd.nextInt(gap.toInt + 1))
        t
      }
      // Random ORDERED split into 1..6 batches (a batch may be empty —
      // the runtime never calls foldBatch with an empty batch, so skip).
      val cuts = Seq.fill(rnd.nextInt(5))(rnd.nextInt(n + 1)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(n)).sliding(2)
        .map { case Seq(a, b) => evs.slice(a, b) }
        .filter(_.nonEmpty).toSeq
      var open: Option[SessionState] = None
      val closed = Seq.newBuilder[SessionState]
      batches.foreach { b =>
        val (o, c) = foldBatch(open, b.toArray.sorted, gap)
        open = o; closed ++= c
      }
      val got = (closed.result() ++ open.toSeq).sortBy(s => (s.start, s.end))
      val want = batchSessions(evs, gap).sortBy(s => (s.start, s.end))
      assert(got === want,
        s"trial=$trial gap=$gap batches=${batches.map(_.length)}")
    }
  }
}
