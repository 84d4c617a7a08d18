package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Clusters
import graft.operators.{AsofJoin, Packing}
import graft.text.TextAnalysis

class OperatorsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Every message in a throwable's cause chain (Spark wraps the
    * raise_error payload several causes deep). */
  private def causeMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq

  test("asof join: backward match, <= visibility, tolerance, no-match null") {
    val trades = Seq(
      ("A", 1L, ts("2024-01-01 10:00:05")),
      ("A", 2L, ts("2024-01-01 10:00:10")), // equal-ts quote visible (<=)
      ("A", 3L, ts("2024-01-01 12:00:00")), // only stale quotes → tolerance nulls
      ("B", 4L, ts("2024-01-01 09:00:00")) // no quote at or before → null
    ).toDF("sym", "trade_id", "ts")
    val quotes = Seq(
      ("A", 10L, ts("2024-01-01 10:00:00"), 99.0),
      ("A", 11L, ts("2024-01-01 10:00:10"), 101.0),
      ("B", 12L, ts("2024-01-01 09:30:00"), 50.0)
    ).toDF("sym", "quote_id", "ts", "price")

    val got = AsofJoin.asof(trades, quotes, Seq("sym"),
      leftTsCol = "ts", rightTsCol = "ts",
      rightValCols = Seq("quote_id", "price"), tieBreak = Seq("quote_id"),
      toleranceSec = Some(3600L))
      .select("trade_id", "quote_id_asof", "price_asof")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet

    assert(got === Set(
      (1L, 10L, 99.0), // last quote at or before 10:00:05
      (2L, 11L, 101.0), // equal timestamp is visible
      (3L, -1L, -1.0), // 10:00:10 quote is >1h old at 12:00
      (4L, -1L, -1.0))) // B has no quote before 09:00
  }

  test("asof join: greatest tieBreak wins among right rows tied on (key, ts)") {
    val l = Seq(("k", ts("2024-01-01 00:00:01"))).toDF("k", "ts")
    val r = Seq(
      ("k", ts("2024-01-01 00:00:00"), 7L),
      ("k", ts("2024-01-01 00:00:00"), 9L),
      ("k", ts("2024-01-01 00:00:00"), 8L)).toDF("k", "ts", "rid")
    val got = AsofJoin.asof(l, r, Seq("k"), "ts", "ts", Seq("rid"),
      tieBreak = Seq("rid")).select("rid_asof").head().getLong(0)
    assert(got === 9L)
  }

  test("asof with tolerance: window partitions by (key, time bucket)") {
    // The scale contract: a tolerance-bounded as-of must not funnel a hot
    // key's whole history through one sort — the window partition spec has
    // to include the tolerance-wide time bucket alongside the key.
    val l = Seq(("k", ts("2024-01-01 00:00:01"))).toDF("k", "ts")
    val r = Seq(("k", ts("2024-01-01 00:00:00"), 1L)).toDF("k", "ts", "rid")
    val bounded = AsofJoin.asof(l, r, Seq("k"), "ts", "ts", Seq("rid"),
      toleranceSec = Some(3600L))
    val plan = bounded.queryExecution.optimizedPlan.toString
    assert(plan.contains("__bkt"), s"no time bucket in bounded asof plan:\n$plan")
    val unbounded = AsofJoin.asof(l, r, Seq("k"), "ts", "ts", Seq("rid"))
    assert(!unbounded.queryExecution.optimizedPlan.toString.contains("__bkt"))
    // Hot-key smoke: 100k left rows on ONE key complete through the
    // bucketed path (each bucket's sort sees only its tolerance window).
    val spark2 = spark
    import spark2.implicits._
    val hotL = spark.range(100000).select(lit("k").as("k"),
      expr("timestamp_seconds(1700000000 + id)").as("ts"), col("id"))
    val hotR = spark.range(1000).select(lit("k").as("k"),
      expr("timestamp_seconds(1700000000 + id * 100)").as("ts"),
      col("id").as("rid"))
    val n = AsofJoin.asof(hotL, hotR, Seq("k"), "ts", "ts", Seq("rid"),
      tieBreak = Seq("rid"), toleranceSec = Some(60L)).count()
    assert(n === 100000L)
  }

  test("asof nearest: sub-second distances compared exactly, not truncated") {
    // Left at 10.9s: backward candidate at 10.0s (0.9 away), forward at
    // 11.0s (0.1 away) — truncated-long distances would call them 0 and 1
    // and wrongly pick the backward row.
    val l = Seq(("k", new java.sql.Timestamp(10900L))).toDF("k", "ts")
    val r = Seq(("k", new java.sql.Timestamp(10000L), 1L),
      ("k", new java.sql.Timestamp(11000L), 2L)).toDF("k", "ts", "rid")
    val picked = AsofJoin.asof(l, r, Seq("k"), "ts", "ts", Seq("rid"),
      tieBreak = Seq("rid"), direction = "nearest")
      .select("rid_asof").head().getLong(0)
    assert(picked === 2L)
    // Tolerance is exact too: the 0.9s-away backward row must NOT pass a
    // 0-second... use 0.5s? tolerance is whole seconds; 0.9s > 0 requires
    // tol >= 1 — with tol = 1 both pass; with the forward row excluded the
    // backward 0.9s match must survive tol = 1 (0.9 <= 1).
    val backOnly = AsofJoin.asof(l,
      Seq(("k", new java.sql.Timestamp(10000L), 1L)).toDF("k", "ts", "rid"),
      Seq("k"), "ts", "ts", Seq("rid"), tieBreak = Seq("rid"),
      toleranceSec = Some(1L), direction = "nearest")
      .select("rid_asof").head()
    assert(!backOnly.isNullAt(0) && backOnly.getLong(0) === 1L)
  }

  test("range join: sentinel-wide interval fails fast with a clear error") {
    val l = Seq((1L, "k", 100L)).toDF("pid", "k", "p")
    val r = Seq((9L, "k", 0L, 253402300799L)).toDF("iid", "k", "s", "e")
    val ex = intercept[Exception] {
      graft.operators.RangeJoin.rangeJoin(l, r, Seq("k"), "p", "s", "e",
        bucketWidthSec = 3600L).count()
    }
    assert(causeMessages(ex).exists(m => m != null && m.contains("rangeJoin")),
      s"unexpected error: ${ex.getMessage}")
  }

  test("range join: colliding right-side column names come back suffixed") {
    // Both sides carry a non-key `ts` payload column — the right one must
    // surface as ts_range, not as a second ambiguous `ts`.
    val l = Seq((1L, "k", 5L, 100L)).toDF("pid", "k", "p", "ts")
    val r = Seq((9L, "k", 0L, 10L, 200L)).toDF("iid", "k", "s", "e", "ts")
    val out = graft.operators.RangeJoin.rangeJoin(l, r, Seq("k"),
      "p", "s", "e", bucketWidthSec = 10L)
    assert(out.columns.toSeq === Seq("pid", "k", "p", "ts", "iid", "s", "e", "ts_range"))
    val row = out.head()
    assert(row.getAs[Long]("ts") === 100L && row.getAs[Long]("ts_range") === 200L)
  }

  test("connected components: transitive chains merge, components stay apart") {
    // chain 1-2, 2-3, 3-4 plus separate pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    val surv = Clusters.survivors(pairs).as[Long].collect().toSet
    assert(surv === Set(1L, 10L))
  }

  test("connected components: long path converges (diameter > 2)") {
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs).collect()
    assert(got.length === 20)
    assert(got.forall(_.getLong(1) === 1L))
  }

  test("connected components: empty edge set yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clusters.connectedComponents(empty).isEmpty)
  }

  test("connected components: 1000-node path converges in <= 2*log2(n) rounds") {
    // The adversarial case for plain min-label propagation (diameter 999
    // would need 999 rounds); pointer jumping must square the diameter
    // away. maxRounds is a convergence ASSERTION — the call throws if the
    // fixed point isn't reached within the bound. 2*ceil(log2(1000)) = 20.
    val n = 1000L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs, maxRounds = 20).collect()
    assert(got.length === n)
    assert(got.forall(_.getLong(1) === 0L))
  }

  test("connected components: planted giant component (hot jump label) stays correct") {
    // A 20k-leaf star converges its label immediately, so every jump round
    // probes ONE hot label — the exact shape the distinct-labels parent
    // map exists for (partial agg collapses the hot key map-side; the map
    // is component-count-sized and broadcastable). Mixed with a path so
    // extra rounds still run after the star has converged.
    val star = (1L to 20000L).map(i => (0L, i))
    val path = (100001L until 100020L).map(i => (i, i + 1))
    val got = Clusters.connectedComponents((star ++ path).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 20001 + 20)
    assert(got.filter(_._1 <= 20000L).forall(_._2 === 0L))
    assert(got.filter(_._1 > 20000L).forall(_._2 === 100001L))
  }

  test("connected components: exhaustion diagnoses unstable edges; returnPartial never over-merges") {
    // A 16-node path cannot converge in one round; the failure must name
    // the still-spanning edges rather than aborting bare, and the partial
    // escape must return a clustering that splits but never merges across
    // true components.
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Clusters.connectedComponents(pairs, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge in 1 rounds"))
    assert("""(\d+) edge\(s\) still span""".r.findFirstMatchIn(ex.getMessage)
      .exists(_.group(1).toLong > 0), s"no unstable-edge count in: ${ex.getMessage}")
    assert(ex.getMessage.contains("sample:"))

    // Two true components: path 0..15 and pair 100-101. Partial labels may
    // split the path into several provisional clusters but every label must
    // stay inside the node's own true component.
    val twoComp = pairs.unionByName(Seq((100L, 101L)).toDF("id_a", "id_b"))
    val partial = Clusters.connectedComponents(twoComp, maxRounds = 1,
      returnPartial = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(partial.length === 18)
    partial.foreach { case (id, cluster) =>
      val sameSide = (id <= 15L) === (cluster <= 15L)
      assert(sameSide, s"label $cluster crossed components for node $id")
      assert(cluster <= id)
    }
  }

  test("iterative graph ops: the static cached side rides no per-round exchange or sort") {
    // PageRank's adjacency frame and CC's doubled edge list are persisted
    // pre-partitioned AND pre-sorted on the join key precisely so each
    // round's sort-merge join pays nothing for the big static side (a
    // localCheckpoint under AQE records UnknownPartitioning and would
    // re-shuffle it every round — the regression this pins out). Captured
    // via PlanProbe: the operators checkpoint each round, so the per-round
    // join shape is invisible from the returned frame.
    import graft.core.{Engine, PlanProbe}
    PlanProbe.enable()
    try {
      Engine.withConf(spark, Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
        val pairs = (1L to 400L).map(i => (i, i % 20 + 1000L)).toDF("id_a", "id_b")
        Clusters.connectedComponents(pairs).count()
        val edges = (1L to 400L).map(i => (i % 50, i % 31))
          .filter(p => p._1 != p._2).toDF("s", "d")
        graft.operators.PageRank.run(edges, "s", "d", iterations = 2).count()
      }
      // The InMemoryRelation node renders the CACHE-BUILD plan (one shuffle
      // + one sort, paid once at materialization) nested beneath it; only
      // lines OUTSIDE that subtree describe per-round work, so strip the
      // deeper-indented block under each InMemoryRelation before counting.
      def perRoundLines(plan: String): Seq[String] = {
        var skipBeyond = -1
        plan.linesIterator.filter { l =>
          val payload = l.indexWhere(_.isLetter)
          // A letterless line (blank, tree-art only) carries no payload:
          // keep it WITHOUT touching the skip state — treating its -1 as
          // an indent would end an InMemoryRelation skip mid-subtree and
          // leak cache-build Exchange/Sort lines into the per-round count.
          if (payload < 0) true
          else if (skipBeyond >= 0 && payload > skipBeyond) false
          else {
            skipBeyond = if (l.contains("InMemoryRelation"))
              l.indexOf("InMemoryRelation") else -1
            true
          }
        }.toSeq
      }
      for (point <- Seq("cc_neighbor", "pagerank_contrib")) {
        val plan = PlanProbe.get(point)
          .getOrElse(fail(s"$point was never offered to the probe"))
        assert(plan.contains("InMemoryTableScan"),
          s"$point must read the cached static frame:\n$plan")
        val outer = perRoundLines(plan)
        // Exactly two exchanges may remain: the evolving labels/ranks side
        // of the join and the dst-keyed aggregation. The static side must
        // contribute NONE (pre-fix this plan carried its re-shuffle too).
        val exchanges = outer.count(_.contains("Exchange hashpartitioning"))
        assert(exchanges <= 2,
          s"$point: expected <= 2 per-round hash exchanges, got $exchanges:\n$plan")
        // The cached side is pre-sorted, so at most the evolving side sorts.
        val sorts = outer.count(_.contains("Sort ["))
        assert(sorts <= 1,
          s"$point: expected <= 1 per-round sort (static side pre-sorted), got $sorts:\n$plan")
      }
    } finally PlanProbe.disable()
  }

  test("operators tolerate empty and degenerate inputs") {
    import graft.dedup.Dedup
    import graft.text.TfIdf
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")

    // Cross near-dup, every operator: empty reference → no pairs; empty
    // corpus → no pairs; both with the documented (id, ref_id, score)
    // schema. The drop wrappers give the whole corpus back, its schema
    // unchanged.
    def emptySides(some: DataFrame, empty: DataFrame) = Seq(
      (some, empty.withColumnRenamed(empty.columns.head, "ref_id")),
      (empty, some.withColumnRenamed(some.columns.head, "ref_id")))
    for ((c, r) <- emptySides(someDocs, emptyDocs)) {
      for ((pairs, score) <- Seq(
          Dedup.minhashNearDupPairsAgainst(c, "doc_id", "text", r, "ref_id", "text") -> "jaccard",
          Dedup.simhashNearDupPairsAgainst(c, "doc_id", "text", r, "ref_id", "text") -> "hamming")) {
        assert(pairs.columns.toSeq === Seq("id", "ref_id", score))
        assert(pairs.count() === 0)
      }
      val kept = Dedup.dropNearDupsAgainst(c, "doc_id", "text", r, "ref_id", "text")
      assert(kept.columns.toSeq === c.columns.toSeq)
      assert(kept.count() === c.count())
    }
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val someVecs = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    for ((c, r) <- emptySides(someVecs, emptyVecs)) {
      val pairs = Dedup.embeddingNearDupPairsAgainst(c, "vec_id", "embedding",
        r, "ref_id", "embedding")
      assert(pairs.columns.toSeq === Seq("id", "ref_id", "cosine"))
      assert(pairs.count() === 0)
      val kept = Dedup.dropEmbeddingNearDupsAgainst(c, "vec_id", "embedding",
        r, "ref_id", "embedding")
      assert(kept.columns.toSeq === c.columns.toSeq)
      assert(kept.count() === c.count())
    }

    // Range join: empty right side — inner empty, left keeps all points.
    val pts = Seq((1L, "k", 5L)).toDF("pid", "k", "p")
    val noIv = Seq.empty[(Long, String, Long, Long)].toDF("iid", "k", "s", "e")
    assert(graft.operators.RangeJoin.rangeJoin(pts, noIv, Seq("k"),
      "p", "s", "e", 10L).count() === 0)
    assert(graft.operators.RangeJoin.rangeJoin(pts, noIv, Seq("k"),
      "p", "s", "e", 10L, joinType = "left").count() === 1)

    // As-of: empty right side — every direction yields null matches.
    for (d <- Seq("backward", "forward", "nearest")) {
      val out = AsofJoin.asof(
        Seq(("k", ts("2024-01-01 00:00:00"))).toDF("k", "ts"),
        Seq.empty[(String, Timestamp, Long)].toDF("k", "ts", "rid"),
        Seq("k"), "ts", "ts", Seq("rid"), direction = d)
      assert(out.count() === 1 && out.select("rid_asof").head().isNullAt(0), d)
    }

    // TF-IDF: single doc — every term df=1, idf = ln(2/2)+1 = 1, ranks by
    // (count desc, term asc); empty corpus → empty output.
    val single = Seq((1L, "x x y")).toDF("doc_id", "text")
    val top = TfIdf.topTerms(single, "doc_id", "text", k = 2)
      .orderBy(col("rank")).collect()
    assert(top.map(r => (r.getString(1), r.getDouble(2))).toSeq ===
      Seq(("x", 2.0), ("y", 1.0)))
    assert(TfIdf.topTerms(emptyDocs, "doc_id", "text", k = 3).count() === 0)
  }

  test("pii: staged counts do not double-count emails/IPs as phones") {
    val df = Seq(
      "mail me at a.b+c@example.com or 12345678@qq.com",
      "server 10.0.0.1 and 192.168.1.255 up",
      "call +1 (415) 555-0134 today",
      "mixed a@b.co 1.2.3.4 555-123-4567",
      "no pii here at all").toDF("text")
    val got = df.select(
      TextAnalysis.piiEmails(col("text")).as("e"),
      TextAnalysis.piiIps(col("text")).as("i"),
      TextAnalysis.piiPhones(col("text")).as("p"),
      TextAnalysis.scrubPii(col("text")).as("s")).collect()

    assert(got(0).getInt(0) === 2 && got(0).getInt(1) === 0 && got(0).getInt(2) === 0)
    assert(got(1).getInt(0) === 0 && got(1).getInt(1) === 2 && got(1).getInt(2) === 0)
    assert(got(2).getInt(0) === 0 && got(2).getInt(1) === 0 && got(2).getInt(2) === 1)
    assert(got(3).getInt(0) === 1 && got(3).getInt(1) === 1 && got(3).getInt(2) === 1)
    assert(got(4).getInt(0) === 0 && got(4).getInt(1) === 0 && got(4).getInt(2) === 0)
    assert(got(3).getString(3) === "mixed <email> <ip> <phone>")
    assert(!got.map(_.getString(3)).mkString.contains("@"))
  }

  test("dup spans: hand-computed fractions, hashed == string path, short docs omitted") {
    import graft.text.DupSpans
    // 2-grams: doc 1 = [a b, b c, c d]; doc 2 = [a b, b c]; doc 3 = [x y];
    // doc 4 = [a b, a b] (within-doc repeat of a cross-doc gram);
    // doc 5 has 1 token -> no grams -> omitted.
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c"), (3L, "x y"),
      (4L, "a b a b"), (5L, "solo"))
      .toDF("doc_id", "text")
    def run(hashed: Boolean) =
      DupSpans.duplicatedSpanStats(df, "doc_id", "text", n = 2,
        minDocs = 2, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq

    val got = run(hashed = true)
    // doc 4's grams: [a b, b a, a b] -> "a b" in docs 1,2,4; "b a" only in 4.
    assert(got === Seq(
      (1L, 3L, 2L, 0.666667), // a b, b c shared; c d unique
      (2L, 2L, 2L, 1.0),
      (3L, 1L, 0L, 0.0),
      (4L, 3L, 2L, 0.666667)))
    assert(run(hashed = false) === got)

    val top = DupSpans.topDuplicatedSpans(df, "doc_id", "text", n = 2,
      k = 5, minDocs = 2).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq === Seq(("a b", 3L), ("b c", 2L)))
  }

  test("remove spans: kernel sweep and whole-operator hand-computed rewrite") {
    import graft.functions.{GraftFunctions, Kernels}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def toks(s: String) =
      ArrayData.toArrayData(s.split(" ").map(UTF8String.fromString))
    def starts(ps: Long*) = ArrayData.toArrayData(ps.toArray)
    def run(text: String, n: Int, ps: Long*) =
      Kernels.removeSpans(toks(text), starts(ps: _*), n).toString
    // Overlapping, unsorted, duplicate starts; spans clamp past the end.
    assert(run("a b c d e", 2, 3L, 1L, 1L) === "e")
    assert(run("a b c d e", 2, 4L) === "a b c")
    assert(run("a b c d e", 3, 5L) === "a b c d")
    assert(run("a b c", 1, 2L) === "a c")
    assert(run("a b c", 3, 1L) === "")
    assert(run("a b c", 2) === "a b c") // no spans -> identity

    import graft.text.DupSpans
    // Same corpus as the stats spec: "a b" dup in docs 1,2,4; "b c" in 1,2.
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c"), (3L, "x y"),
      (4L, "a b a b"), (5L, "solo"))
      .toDF("doc_id", "text")
    val got = DupSpans.removeDuplicatedSpans(df, "doc_id", "text",
      n = 2, minDocs = 2)
      .select("doc_id", "clean_text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "d"), (2L, ""), (3L, "x y"),
      (4L, ""), (5L, "solo")))
  }

  test("packing: contiguous per-shard layout, seq bounds, null/zero contracts") {
    val df = Seq[(java.lang.Long, Long)](
      (1L, 10L), (2L, 0L), (3L, 7L), (4L, 25L), (5L, 3L), (6L, 12L),
      (7L, 9L), (8L, 1L), (null, 99L))
      .toDF("id", "toks")
    val got = Packing.packSequences(df, "id", "toks",
      seqLen = 8L, nShards = 2, salt = 3L)
      .select("id", "toks", "shard", "off", "seq_first", "seq_last")
      .collect()

    assert(got.length === 8) // null key excluded
    // Within each shard, sorting by off must reproduce a contiguous
    // stream: each doc starts exactly where the previous one ended.
    got.groupBy(_.getInt(2)).foreach { case (_, rows) =>
      val laid = rows.sortBy(_.getLong(3))
      assert(laid.head.getLong(3) === 0L)
      laid.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(3) === a.getLong(3) + a.getLong(1))
        case _ =>
      }
    }
    got.foreach { r =>
      val (toks, off, f, l) =
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(f === off / 8)
      assert(l === (off + math.max(toks, 1L) - 1) / 8)
      assert(l >= f)
      if (toks == 0L) assert(l === f) // zero-width marker
    }
  }

  test("packing: duplicate keys fail loudly instead of multiplying rows") {
    // With the narrow-window + join-back plan, k copies of a key would
    // silently become k² output rows; the in-window lag guard must throw.
    val df = Seq((1L, 10L), (2L, 5L), (2L, 7L), (3L, 3L)).toDF("id", "toks")
    // count(), deliberately: it reads NO layout column, so an
    // output-column guard would be pruned away and count() would report
    // the k²-inflated cardinality silently (the hole the join-condition
    // guard closes). The guard must fire even here.
    val e = intercept[Exception] {
      Packing.packSequences(df, "id", "toks", seqLen = 8L, nShards = 2)
        .count()
    }
    assert(causeMessages(e).exists(_.contains("duplicate key")))
  }

  test("packing: layout is identical under repartition (determinism)") {
    val df = (1L to 60L).map(i => (i, i % 13)).toDF("id", "toks")
    def run(d: org.apache.spark.sql.DataFrame) =
      Packing.packSequences(d, "id", "toks", seqLen = 16L, nShards = 4,
        salt = 9L)
        .select("id", "shard", "off", "seq_first", "seq_last")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(run(df) === run(df.repartition(7)))
  }

  test("length buckets: pad ceiling, batch capacity, oversized-doc batch") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L), (6L, 8L), (7L, 9L),
      (8L, 0L), (9L, null), (10L, 100L), (null, 7L))
      .toDF("id", "toks")
    val got = Packing.lengthBuckets(df, "id", "toks",
      batchTokens = 16L, nShards = 1, salt = 5L)
      .select("id", "toks", "len_bucket", "padded_len", "batch_idx")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.size === 10, "null key excluded, null tokens kept as 0")
    // Bucket exponent = smallest b with 2^b >= toks (0 for toks <= 1).
    val expect = Map(1L -> (0, 1L), 2L -> (1, 2L), 3L -> (2, 4L),
      4L -> (2, 4L), 5L -> (3, 8L), 6L -> (3, 8L), 7L -> (4, 16L),
      8L -> (0, 1L), 9L -> (0, 1L), 10L -> (7, 128L))
    expect.foreach { case (id, (b, p)) =>
      assert((got(id)._1, got(id)._2) === ((b, p)), s"id=$id")
    }
    // Batch capacity: bucket 0 (padded 1) holds 16 rows per batch — the
    // three bucket-0 docs share batch 0. A doc padded past batchTokens
    // (id 10: 128 > 16) still gets a batch (alone) instead of vanishing.
    assert(Seq(1L, 8L, 9L).map(got(_)._3).distinct === Seq(0L))
    assert(got(10L)._3 === 0L)
    // Bucket 2 (padded 4): capacity 4 rows — both docs fit in batch 0.
    assert(got(3L)._3 === 0L && got(4L)._3 === 0L)
    // Determinism under repartition, same contract as packSequences.
    val again = Packing.lengthBuckets(df.repartition(5), "id", "toks",
      batchTokens = 16L, nShards = 1, salt = 5L)
      .select("id", "toks", "len_bucket", "padded_len", "batch_idx")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(again === got)
  }

  test("packing/length buckets: payload never enters the window (narrow-exchange plan shape)") {
    // The r08 pipe_clean_pack cliff: windowing the payload frame pushes
    // every column — full document text included — through the shard
    // exchange AND its sort buffer. Both layout operators must window
    // over (key, tokens) only and join positions back; this pins the
    // optimized plan's Window child to the narrow columns, so a
    // refactor that re-widens the sort fails here, not at 100 TB.
    val df = (1L to 30L).map(i => (i, i % 7, "x" * 1000))
      .toDF("id", "toks", "text")
    for (out <- Seq(
        Packing.packSequences(df, "id", "toks", seqLen = 8L, nShards = 2),
        Packing.lengthBuckets(df, "id", "toks", batchTokens = 8L, nShards = 2))) {
      val win = out.queryExecution.optimizedPlan.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(win.nonEmpty, "layout lost its window — plan shape changed")
      val winCols = win.get.child.output.map(_.name).toSet
      assert(!winCols.contains("text"),
        s"payload column rides the window exchange: $winCols")
    }
  }

  test("length buckets: batch splitting at capacity and duplicate-key guard") {
    // 40 single-token docs in one shard/bucket with capacity 8 → 5 batches
    // of exactly 8.
    val df = (1L to 40L).map(i => (i, 1L)).toDF("id", "toks")
    val got = Packing.lengthBuckets(df, "id", "toks",
      batchTokens = 8L, nShards = 1, salt = 2L)
      .groupBy("batch_idx").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 8L, 1L -> 8L, 2L -> 8L, 3L -> 8L, 4L -> 8L))
    val dup = Seq((1L, 3L), (1L, 3L), (2L, 5L)).toDF("id", "toks")
    // count() on purpose — the guard lives in the join condition, so even
    // an action that projects nothing must trip it (see the packSequences
    // duplicate-key test).
    val e = intercept[Exception] {
      Packing.lengthBuckets(dup, "id", "toks", batchTokens = 8L, nShards = 1)
        .count()
    }
    assert(causeMessages(e).exists(_.contains("duplicate key")))
    // The adversarial variant: duplicate keys whose token counts land in
    // DIFFERENT length buckets (5 → bucket 3, 9 → bucket 4). A guard
    // riding the batch window — partitioned by (shard, len_bucket) —
    // never sees them adjacent and silently fans the join-back out k²;
    // the shard-partitioned guard window must still catch them.
    val dupSplit = Seq((1L, 5L), (1L, 9L), (2L, 5L)).toDF("id", "toks")
    val e2 = intercept[Exception] {
      Packing.lengthBuckets(dupSplit, "id", "toks", batchTokens = 8L,
        nShards = 1).collect()
    }
    assert(causeMessages(e2).exists(_.contains("duplicate key")))
  }

  test("quantiles: hand-computed ranks, null exclusion, edge quantiles, singleton group") {
    import graft.operators.Quantiles
    // Group a: values 10..19 (n=10). Discrete ranks: p50 -> idx floor(4.5)+1
    // = rank 5 -> 14; p90 -> floor(8.1)+1 = 9 -> 18; p0 -> rank 1; p100 ->
    // rank 10. Group b: a single row, every quantile IS that value. Nulls
    // must not occupy ranks.
    val df = ((10 to 19).map(v => ("a", Some(v.toDouble), v.toLong)) ++
      Seq(("a", None, 99L), ("b", Some(7.0), 1L)))
      .toDF("g", "v", "id")
    val got = Quantiles.groupQuantiles(df, "g", "v", "id",
      Seq(("p0", 0, 1), ("p50", 1, 2), ("p90", 9, 10), ("p100", 1, 1)))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got("a") === ((10L, 10.0, 14.0, 18.0, 19.0)))
    assert(got("b") === ((1L, 7.0, 7.0, 7.0, 7.0)))
  }

  test("approx quantiles: rank contract holds, values are elements, no window/funnel") {
    import graft.operators.Quantiles
    val qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
    // Two groups with distinct sizes + a null that must not occupy a rank;
    // shuffled insertion order so partial sketches see unsorted data.
    val rnd = new scala.util.Random(1501)
    val rows = rnd.shuffle(
      (1 to 2000).map(v => ("a", Some(v.toDouble), v.toLong)) ++
        (1 to 333).map(v => ("b", Some((v * 7 % 333).toDouble), v + 5000L)) ++
        Seq(("a", None, 99999L)))
    val df = rows.toDF("g", "v", "id").repartition(8)
    val acc = 100 // coarse on purpose: tolerance = n/100+1 ranks
    val approx = Quantiles.approxGroupQuantiles(df, "g", "v", qs, acc)
    // (1) n_rows counts non-null values, like the exact path.
    val nRows = approx.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nRows === Map("a" -> 2000L, "b" -> 333L))
    // (2) every returned quantile is an ACTUAL element of its group (GK
    // retains samples — the property the winsorize/clip contract rides on).
    val elems = Map("a" -> (1 to 2000).map(_.toDouble).toSet,
      "b" -> (1 to 333).map(v => (v * 7 % 333).toDouble).toSet)
    approx.collect().foreach { r =>
      val g = r.getString(0)
      (2 to 4).foreach(i => assert(elems(g).contains(r.getDouble(i)),
        s"$g quantile ${r.getDouble(i)} is not an element of the group"))
    }
    // (3) the rank-error contract: every boolean the gate hashes is TRUE,
    //     and the checker is not vacuous — a value planted OUTSIDE the
    //     tolerance band must turn its boolean FALSE.
    val ok = Quantiles.rankWithin(df, approx, "g", "v", qs, acc)
    ok.collect().foreach { r =>
      (2 to 4).foreach(i => assert(r.getBoolean(i),
        s"rank contract violated for ${r.getString(0)} col $i"))
    }
    val planted = approx.withColumn("p90",
      when(col("g") === "a", lit(1.0)).otherwise(col("p90")))
    val bad = Quantiles.rankWithin(df, planted, "g", "v", qs, acc)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(!bad("a") && bad("b"),
      "an out-of-tolerance plant must fail exactly its own group's check")
    // (4) plan shape: the sketch path is ONE map-side-combinable
    //     aggregation — no Window node, a single shuffle exchange (pinned
    //     on a frame without the test harness's repartition, whose
    //     round-robin exchange is not the operator's).
    val pinned = Quantiles.approxGroupQuantiles(
      rows.toDF("g", "v", "id"), "g", "v", qs, acc)
    assert(PlanCheck.windows(pinned).isEmpty,
      "approx path must not plan a Window")
    assert(PlanCheck.shuffles(pinned).length === 1,
      s"approx path must shuffle once:\n${pinned.queryExecution.executedPlan}")
    // Degenerate args fail loudly.
    intercept[IllegalArgumentException](
      Quantiles.approxGroupQuantiles(df, "g", "v", qs, 0))
    intercept[IllegalArgumentException](
      Quantiles.approxGroupQuantiles(df, "g", "v", Nil, acc))
    // (5) group-set parity with the exact path (the scaladoc routes
    //     callers between the two): an all-NULL-values group is ABSENT on
    //     both; a NULL group KEY with values is a real group on both, and
    //     rankWithin's null-safe join must not drop it from the verdict.
    val edge = Seq((Some("a"), Some(1.0), 1L), (Some("a"), Some(2.0), 2L),
      (Some("allnull"), None, 3L),
      (None, Some(5.0), 4L), (None, Some(6.0), 5L))
      .toDF("g", "v", "id")
    val edgeApprox = Quantiles.approxGroupQuantiles(edge, "g", "v", qs, acc)
    val edgeExact = Quantiles.groupQuantiles(edge, "g", "v", "id", qs)
    def groupsOf(frame: org.apache.spark.sql.DataFrame) =
      frame.collect().map(r => Option(r.getString(0))).toSet
    assert(groupsOf(edgeApprox) === Set(Some("a"), None))
    assert(groupsOf(edgeApprox) === groupsOf(edgeExact),
      "sketch and exact paths must expose the identical group set")
    val edgeOk = Quantiles.rankWithin(edge, edgeApprox, "g", "v", qs, acc)
    assert(groupsOf(edgeOk) === Set(Some("a"), None),
      "rankWithin must keep the NULL group key")
    edgeOk.collect().foreach(r =>
      (2 to 4).foreach(i => assert(r.getBoolean(i),
        s"edge group ${Option(r.getString(0))} failed its rank check")))
  }

  test("approx quantiles: window-end bounds replay order statistics, BETWEEN verdicts match the rank contract") {
    import graft.operators.Quantiles
    // Same 50×1.0 / 50×2.0 frame as the pin spec: acc=10 → tol=11, windows
    // p0 → ranks [1,11] (lo=hi=1.0), p50 → [39,61] (lo=1.0, hi=2.0 — the
    // two-valued window a pin cannot cover but bounds CAN), p90 → [79,100]
    // (lo=hi=2.0), p100 → [89,100] (lo=hi=2.0).
    val qs = Seq(("p0", 0, 1), ("p50", 1, 2), ("p90", 9, 10), ("p100", 1, 1))
    val df = ((1 to 50).map(i => ("t", 1.0, i.toLong)) ++
      (51 to 100).map(i => ("t", 2.0, i.toLong)))
      .toDF("g", "v", "id").repartition(7)
    val acc = 10
    val approx = Quantiles.approxGroupQuantiles(df, "g", "v", qs, acc)
    val got = Quantiles.boundsWithin(df, approx, "g", "v", qs, acc)
    assert(got.columns.toSeq === Seq("g", "n_rows",
      "p0_lo", "p0_hi", "p0_ok", "p50_lo", "p50_hi", "p50_ok",
      "p90_lo", "p90_hi", "p90_ok", "p100_lo", "p100_hi", "p100_ok"))
    val row = got.collect()(0)
    assert(row.getLong(1) === 100L)
    assert((row.getDouble(2), row.getDouble(3)) === ((1.0, 1.0)), "p0 window")
    assert((row.getDouble(5), row.getDouble(6)) === ((1.0, 2.0)),
      "p50 straddles both values — bounds expose what a pin cannot")
    assert((row.getDouble(8), row.getDouble(9)) === ((2.0, 2.0)), "p90")
    assert((row.getDouble(11), row.getDouble(12)) === ((2.0, 2.0)), "p100")
    Seq(4, 7, 10, 13).foreach(i =>
      assert(row.getBoolean(i), s"BETWEEN verdict col $i"))
    // A planted out-of-tolerance element fails exactly its own verdict,
    // and the verdict must agree with rankWithin's counter check — the
    // two are provably equivalent for any element (boundsWithin scaladoc).
    val planted = approx.withColumn("p90", lit(1.0))
    val b = Quantiles.boundsWithin(df, planted, "g", "v", qs, acc).collect()(0)
    val r = Quantiles.rankWithin(df, planted, "g", "v", qs, acc).collect()(0)
    assert(!b.getBoolean(10) && !r.getBoolean(4), "planted p90 fails both")
    assert(b.getBoolean(4) === r.getBoolean(2))
    assert(b.getBoolean(7) === r.getBoolean(3))
    assert(b.getBoolean(13) === r.getBoolean(5))
    // NULL group key survives the null-safe join (real group on both paths).
    val edge = Seq((Some("a"), 1.0, 1L), (Some("a"), 2.0, 2L),
      (None, 5.0, 3L), (None, 6.0, 4L)).toDF("g", "v", "id")
    val edgeApprox = Quantiles.approxGroupQuantiles(edge, "g", "v", qs, acc)
    val edgeBounds = Quantiles.boundsWithin(edge, edgeApprox, "g", "v", qs, acc)
    assert(edgeBounds.collect().map(r2 => Option(r2.getString(0))).toSet
      === Set(Some("a"), None))
  }

  test("approx quantiles: pinned values surface exactly the single-valued windows") {
    import graft.operators.Quantiles
    // 50×1.0 then 50×2.0: value 1.0 owns ranks [1,50], 2.0 owns [51,100].
    // acc=10 → tol = 100/10+1 = 11. Window per quantile (target p·n ± tol,
    // clamped to [1,100]): p0 → [1,11] ⊆ 1.0 (low clamp), p50 → [39,61]
    // straddles BOTH values, p90 → [79,100] ⊆ 2.0, p100 → [89,100] ⊆ 2.0
    // (high clamp) — so the pins must be (1.0, NULL, 2.0, 2.0): a pinned
    // column is emitted exactly when any conforming sketch is FORCED to
    // one value, the property that makes it hashable against an exact
    // engine despite merge-order freedom.
    val qs = Seq(("p0", 0, 1), ("p50", 1, 2), ("p90", 9, 10), ("p100", 1, 1))
    val df = ((1 to 50).map(i => ("t", 1.0, i.toLong)) ++
      (51 to 100).map(i => ("t", 2.0, i.toLong)))
      .toDF("g", "v", "id").repartition(7)
    val acc = 10
    val approx = Quantiles.approxGroupQuantiles(df, "g", "v", qs, acc)
    val got = Quantiles.rankWithin(df, approx, "g", "v", qs, acc,
      pinValues = true).collect()(0)
    // Columns: g, n_rows, 4×_ok, 4×_val.
    assert(got.getLong(1) === 100L)
    (2 to 5).foreach(i => assert(got.getBoolean(i), s"contract col $i"))
    assert(got.getDouble(6) === 1.0, "p0 pins the low-clamped window")
    assert(got.isNullAt(7), "p50's window spans two values: no pin")
    assert(got.getDouble(8) === 2.0, "p90 pins")
    assert(got.getDouble(9) === 2.0, "p100 pins the high-clamped window")
    // pinValues=false keeps the legacy (group, n_rows, _ok...) shape.
    assert(Quantiles.rankWithin(df, approx, "g", "v", qs, acc)
      .columns.toSeq ===
      Seq("g", "n_rows", "p0_ok", "p50_ok", "p90_ok", "p100_ok"))
  }

  test("pagerank: hand-computed ranks, mass behavior, guards") {
    import graft.operators.PageRank
    // Directed triangle a→b→c→a: perfectly symmetric flow, so the uniform
    // vector is the exact fixed point — every iteration must return
    // 150000 + 85*1000000 div 100 = 1000000 for every node.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val triRanks = PageRank.run(tri, "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(triRanks === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))

    // Star 1→2, 1→3 plus return edges 2→1, 3→1 (symmetrized hub): after
    // one iteration hub = 150000 + 85*(500000·2… wait—spokes each send
    // their whole rank (outdeg 1), hub sends half to each spoke.
    //   hub_1   = 150000 + (85*(1000000+1000000)) div 100 = 1850000
    //   spoke_1 = 150000 + (85*(1000000 div 2)) div 100   = 575000
    val star = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("s", "d")
    val starRanks = PageRank.run(star, "s", "d", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starRanks === Map(1L -> 1850000L, 2L -> 575000L, 3L -> 575000L))

    // Self-loops and duplicate edges are dropped before degree counting:
    // with them removed this is the same symmetrized star.
    val noisy = star.union(Seq((1L, 1L), (1L, 2L)).toDF("s", "d"))
    val noisyRanks = PageRank.run(noisy, "s", "d", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noisyRanks === starRanks)

    // A pure sink (2 has no out-edges) evaporates mass but keeps its row
    // only if it ever appears as a SOURCE — node set = sources. 2 is
    // dangling → excluded from output; 1 keeps base rank only.
    val chain = Seq((1L, 2L)).toDF("s", "d")
    val chainRanks = PageRank.run(chain, "s", "d", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainRanks === Map(1L -> 150000L))

    intercept[IllegalArgumentException](PageRank.run(tri, "s", "d", 0))
    intercept[IllegalArgumentException](
      PageRank.run(tri, "s", "d", 1, dampNum = 101, dampDen = 100))
  }

  test("snapshot diff: all four statuses; multi-column separator") {
    import graft.operators.SnapshotDiff
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val cur = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "t")
    val got = SnapshotDiff.diff(old, cur, "id", Seq("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // NUL separator keeps shifted column boundaries distinct.
    val o2 = Seq((1L, "ab", "c")).toDF("id", "x", "y")
    val c2 = Seq((1L, "a", "bc")).toDF("id", "x", "y")
    val s2 = SnapshotDiff.diff(o2, c2, "id", Seq("x", "y")).collect()(0)
    assert(s2.getString(1) === "changed")
    intercept[IllegalArgumentException](SnapshotDiff.diff(old, cur, "id", Nil))
  }

  test("keepBest: quality winner, struct tie-break, min-id opposite") {
    import graft.dedup.Dedup
    val df = Seq(
      (1L, "k1", 5), (2L, "k1", 9), (3L, "k1", 9), // 9-tie → -id max = id 2
      (4L, "k2", 1)
    ).toDF("id", "key", "score")
    val best = Dedup.keepBest(df, Seq("key"),
      Seq(col("score"), negate(col("id"))))
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(best === Map("k1" -> 2L, "k2" -> 4L))
    // Same groups under exact() keep the min id — the policy difference.
    val first = Dedup.exact(df, Seq("key"), Seq(col("id")))
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(first === Map("k1" -> 1L, "k2" -> 4L))
    intercept[IllegalArgumentException](Dedup.keepBest(df, Seq("key"), Nil))
  }

  test("mad outliers: hand-computed medians, degenerate MAD, guard") {
    import graft.operators.Anomaly
    // g: values 1..7 + spike 100 → med of 8 = 4th element (rank (8-1)//2+1)
    // = 4; devs sorted: 0,1,1,2,2,3,3,96 → mad = rank 4 = 2; outliers:
    // dev > 6 → only the spike.
    val df = (Seq(1, 2, 3, 4, 5, 6, 7, 100).zipWithIndex.map {
      case (v, i) => ("g", v.toDouble, i.toLong)
    } ++ Seq(("h", 5.0, 90L), ("h", 5.0, 91L), ("h", 7.0, 92L)))
      .toDF("grp", "v", "id")
    val out = Anomaly.madOutliers(df, "grp", "v", "id", k = 3)
    val g = out.filter(col("grp") === "g")
    assert(g.select(max("__med"), max("__mad")).collect()(0)
      === org.apache.spark.sql.Row(4.0, 2.0))
    assert(g.filter(col("is_outlier")).select("v").collect()
      .map(_.getDouble(0)).toSeq === Seq(100.0))
    // Degenerate MAD = 0 (majority identical): ANY deviation flags.
    val h = out.filter(col("grp") === "h")
    assert(h.select(max("__mad")).collect()(0).getDouble(0) === 0.0)
    assert(h.filter(col("is_outlier")).select("v").collect()
      .map(_.getDouble(0)).toSeq === Seq(7.0))
    intercept[IllegalArgumentException](
      Anomaly.madOutliers(df, "grp", "v", "id", k = 0))
  }

  test("histogram: explicit buckets, clamped max, constant group, guards") {
    import graft.quality.Profiler
    val df = Seq(("a", 0.0), ("a", 2.5), ("a", 5.0), ("a", 10.0),
      ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    val got = Profiler.histogram(df, "v", 4, Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a: lo=0 hi=10 → buckets 0,1,2 (2.5→1, 5→2), 10 clamps to 3.
    assert(got === Map(("a", 0L) -> 1L, ("a", 1L) -> 1L, ("a", 2L) -> 1L,
      ("a", 3L) -> 1L, ("b", 0L) -> 2L))
    intercept[IllegalArgumentException](Profiler.histogram(df, "v", 0, Seq("g")))
    intercept[IllegalArgumentException](Profiler.histogram(df, "v", 4, Nil))
  }

  test("lineage closure: diamond, deep chain, cycle, convergence guard") {
    import graft.operators.Lineage
    def closure(edges: Seq[(String, String)], seeds: Seq[String],
        maxRounds: Int = 30) =
      Lineage.downstreamClosure(edges.toDF("p", "c"), seeds.toDF("n"),
        maxRounds).collect().map(_.getString(0)).toSet
    // Diamond: a → {b, c} → d; seed a reaches everything, seed b only d.
    val diamond = Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
    assert(closure(diamond, Seq("a")) === Set("a", "b", "c", "d"))
    assert(closure(diamond, Seq("b")) === Set("b", "d"))
    // Deep chain: 40 levels needs 40 frontier rounds > default? No —
    // rounds = depth; bound must trip when too small and pass when not.
    val chain = (0 until 20).map(i => s"n$i" -> s"n${i + 1}")
    assert(closure(chain, Seq("n0")).size === 21)
    intercept[IllegalStateException](closure(chain, Seq("n0"), maxRounds = 5))
    // A cycle must not loop forever: the anti-join stops re-reaching.
    val cyc = Seq("x" -> "y", "y" -> "z", "z" -> "x")
    assert(closure(cyc, Seq("y")) === Set("x", "y", "z"))
    // Seeds outside the graph are their own closure; empty edges too.
    assert(closure(diamond, Seq("zz")) === Set("zz"))
    assert(closure(Nil, Seq("q")) === Set("q"))
  }

  test("psi drift: identical zero, disjoint large, clamped out-of-range") {
    import graft.quality.Drift
    val base = (1 to 100).map(v => ("g", v.toDouble)).toDF("g", "v")
    // Identical distribution: every term is (p-p)·ln(1) = 0 exactly.
    val same = Drift.psi(base, base, "v", Seq("g"), 8).collect()(0)
    assert(same.getAs[Long]("psi_micro") === 0L &&
      !same.getAs[Boolean]("drifted"))
    // Disjoint mass (current far beyond the baseline range clamps into
    // the top bin): must flag loudly.
    val far = (1 to 100).map(v => ("g", v.toDouble + 1000)).toDF("g", "v")
    val moved = Drift.psi(base, far, "v", Seq("g"), 8).collect()(0)
    assert(moved.getAs[Boolean]("drifted") &&
      moved.getAs[Long]("psi_micro") > 1000000L)
    assert(moved.getAs[Long]("n_base") === 100L &&
      moved.getAs[Long]("n_cur") === 100L)
    intercept[IllegalArgumentException](Drift.psi(base, far, "v", Seq("g"), 1))
    intercept[IllegalArgumentException](Drift.psi(base, far, "v", Nil, 8))
    // Constant baseline (hi == lo): departures from the constant must
    // register — the old all-to-bin-0 rule reported psi = 0 for ANY
    // current distribution. Equality buckets to bin 0, departures to the
    // far edge bin.
    val const = (1 to 100).map(_ => ("g", 5.0)).toDF("g", "v")
    val constSame = Drift.psi(const, const, "v", Seq("g"), 8).collect()(0)
    assert(constSame.getAs[Long]("psi_micro") === 0L)
    val constMoved = Drift.psi(const, far, "v", Seq("g"), 8).collect()(0)
    assert(constMoved.getAs[Boolean]("drifted") &&
      constMoved.getAs[Long]("psi_micro") > 1000000L)
    // Mixed current: the matching half stays in bin 0, the departed half
    // lands in the edge bin — partial shift still registers.
    val mixed = ((1 to 50).map(_ => ("g", 5.0)) ++
      (1 to 50).map(_ => ("g", 9.0))).toDF("g", "v")
    val constMixed = Drift.psi(const, mixed, "v", Seq("g"), 8).collect()(0)
    assert(constMixed.getAs[Long]("psi_micro") > 0L)
    // A group present ONLY in the current slice — a brand-new population,
    // the strongest drift there is — must produce a flagged row, not
    // silently vanish from the report (the old baseline-only spine
    // dropped it and a monitor read "stable").
    val withNew = base.unionByName(
      (1 to 40).map(v => ("newgrp", v.toDouble)).toDF("g", "v"))
    val rows = Drift.psi(base, withNew, "v", Seq("g"), 8).collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(rows.contains("newgrp"), "current-only group must get a row")
    assert(rows("newgrp").getAs[Long]("n_base") === 0L)
    assert(rows("newgrp").getAs[Long]("n_cur") === 40L)
    assert(rows("newgrp").getAs[Boolean]("drifted"))
    // Pre-existing groups are untouched by the merged-range spine.
    assert(rows("g").getAs[Long]("psi_micro") === 0L)
  }

  test("eraseKeys: purges across partitions; fully-erased partition dies") {
    import graft.quality.Governance
    val t = s"default.erase_spec_${System.nanoTime()}"
    Seq((1L, "p1", "x"), (2L, "p1", "y"), (3L, "p2", "z"), (3L, "p3", "w"))
      .toDF("uid", "part", "payload")
      .write.partitionBy("part").saveAsTable(t)
    val (before, purged, after) = Governance.eraseKeys(spark, t, "uid",
      Seq(3L).toDF("k"))
    assert((before, purged, after) === ((4L, 2L, 2L)))
    // p2 and p3 lost ALL rows — under dynamic overwrite they would
    // silently survive; static mode must have removed them.
    val parts = spark.table(t).select("part").distinct()
      .collect().map(_.getString(0)).toSet
    assert(parts === Set("p1"))
    assert(spark.table(t).filter(col("uid") === 3L).count() === 0)
    // The durable survivor staging table is a rewrite-window artifact:
    // it must be gone after a successful erase (it is deliberately LEFT
    // in place only when the overwrite itself fails, as the recovery
    // copy).
    assert(!spark.catalog.tableExists(s"${t}__erase_stage"),
      "staging table must be dropped after a successful erase")
    spark.sql(s"DROP TABLE $t")
  }

  test("staged rewrites accept unqualified (current-database) table names") {
    // Relation.sibling must preserve parse semantics: a staging relation
    // derived with Relation(rel.schema, id + suffix) rendered an empty
    // schema as ``.`t__stage` and broke every unqualified-name caller.
    import graft.materialize.Contracts, Contracts.ColumnSpec
    import graft.quality.Governance
    val t = s"unqual_stage_spec_${System.nanoTime()}"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    Contracts.materialize(spark, t,
      df, Seq(ColumnSpec("k", "bigint", notNull = true),
        ColumnSpec("s", "string")))
    assert(spark.table(t).count() === 3)
    val (before, purged, after) =
      Governance.eraseKeys(spark, t, "k", Seq(2L).toDF("k"))
    assert((before, purged, after) === ((3L, 1L, 2L)))
    graft.materialize.RelationOps.evolvePartitioning(spark, t, Seq("s"))
    assert(spark.table(t).count() === 2)
    spark.sql(s"DROP TABLE $t")
  }

  test("contracts: staged build leaves no staging table on success or failure") {
    import graft.materialize.Contracts, Contracts.ColumnSpec
    val t = s"default.contract_stage_spec_${System.nanoTime()}"
    val stage = s"${t}__contract_stage"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val good = Seq(ColumnSpec("k", "bigint", notNull = true),
      ColumnSpec("s", "string"))
    Contracts.materialize(spark, t, df, good)
    assert(spark.table(t).count() === 2)
    assert(!spark.catalog.tableExists(stage),
      "staging table must be gone after a successful contracted build")
    // A constraint violation happens AFTER the staging write — the
    // staging table must still be cleaned up, and the (pre-existing)
    // target must survive untouched.
    val bad = Seq(ColumnSpec("k", "bigint", check = Some("k > 100")),
      ColumnSpec("s", "string"))
    intercept[IllegalStateException] {
      Contracts.materialize(spark, t, df, bad)
    }
    assert(!spark.catalog.tableExists(stage),
      "staging table must be gone after a failed contracted build")
    assert(spark.table(t).count() === 2, "failed rebuild must not touch the target")
    spark.sql(s"DROP TABLE $t")
    // A target currently bound to a VIEW must re-materialize cleanly
    // (the CTAS path drops both kinds; the staged path must too).
    val v = s"default.contract_view_spec_${System.nanoTime()}"
    spark.sql(s"CREATE VIEW $v AS SELECT 9L AS k, 'z' AS s")
    Contracts.materialize(spark, v, df, good)
    assert(spark.table(v).count() === 2)
    // The plain CTAS path shares the type-aware drop — a view-bound name
    // must re-materialize as a table there too (Spark 4's DROP TABLE
    // throws on views even with IF EXISTS, so the old drop pair failed).
    spark.sql(s"DROP TABLE $v")
    spark.sql(s"CREATE VIEW $v AS SELECT 9L AS k, 'z' AS s")
    graft.materialize.TableMaterialization.run(spark, v, df)
    assert(spark.table(v).count() === 2)
    spark.sql(s"DROP TABLE $v")
  }

  test("gap fill: an input column named `h` is not captured by the spine join") {
    import java.sql.Timestamp
    import graft.operators.EventAnalytics
    // `h` is an OUTPUT name; the internal spine↔hourly join key is
    // __graft_-prefixed, so an input that already carries `h` must gap-fill
    // exactly like the same frame without it (the collision previously
    // joined through the caller's column).
    val base = Seq(
      ("k", Timestamp.valueOf("2024-01-01 10:05:00")),
      ("k", Timestamp.valueOf("2024-01-01 12:10:00")))
      .toDF("g", "ts")
    val expected = EventAnalytics.gapFillHourly(base, "g", "ts")
      .orderBy("h").collect().toSeq
    val withH = EventAnalytics.gapFillHourly(
      base.withColumn("h", lit("landmine")), "g", "ts")
      .orderBy("h").collect().toSeq
    assert(withH === expected)
    assert(expected.map(r => (r.getLong(2), r.getBoolean(3))) ===
      Seq((1L, false), (0L, true), (1L, false)))
  }

  test("event analytics plans: no nested-loop joins; sessionize shuffles once") {
    import graft.operators.EventAnalytics
    val ev = graft.core.Tables.events(spark, sf)

    // The sessionizer's window and its (entity, session_idx) aggregation
    // share one hash partitioning on the entity — a second exchange here
    // would double the operator's shuffle cost at any scale.
    val sess = EventAnalytics.sessionize(ev, "user_id", "ts", "event_id")
    assert(PlanCheck.shuffles(sess).length === 1,
      s"sessionize must shuffle once:\n${sess.queryExecution.executedPlan}")

    // The fan-out/aggregation formulations exist precisely to avoid a
    // non-equi join: none of these plans may contain a nested-loop or
    // cartesian operator.
    val plans = Seq(
      "activeUsers" -> EventAnalytics.activeUsers(ev, "user_id", "ts"),
      "retention" -> EventAnalytics.retention(ev, "user_id", "ts"),
      "gapFill" -> EventAnalytics.gapFillHourly(ev, "event_type", "ts"),
      "funnel" -> EventAnalytics.funnelCounts(ev, "user_id", "event_type",
        "ts", Seq("view", "click", "purchase")),
      "winsorize" -> EventAnalytics.winsorize(ev, "event_type", "value",
        "event_id"))
    plans.foreach { case (name, df) =>
      assert(PlanCheck.nestedLoopJoins(df).isEmpty,
        s"$name plan contains a nested-loop join:\n" +
          df.queryExecution.executedPlan)
    }
    // Trending's rank window partitions by the day bucket (bounded by
    // group cardinality per day), never by nothing (a global sort): the
    // plan must contain a Window node with a NONEMPTY partition spec and
    // no single-partition exchange (the one-task funnel).
    val trend = EventAnalytics.trending(ev, "event_type", to_date(col("ts")))
    val windows = PlanCheck.windows(trend)
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"trending rank must partition by the bucket:\n" +
        trend.queryExecution.executedPlan)
    assert(PlanCheck.shuffles(trend).forall(e =>
        e.outputPartitioning.numPartitions > 1),
      s"trending must not funnel through one partition:\n" +
        trend.queryExecution.executedPlan)
    graft.core.ScopedStorage.releaseAll(blocking = true)
  }
}
