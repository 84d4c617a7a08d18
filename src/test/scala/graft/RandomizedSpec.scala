package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.operators.Sampling
import graft.text.TextAnalysis

/** Seeded randomized properties: each operator checked against a plain-Scala
  * reference implementation over many generated inputs (fixed seed —
  * deterministic, no flaky CI). Complements the example-based specs with
  * coverage of parameter corners no example test enumerates.
  */
class RandomizedSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("chunkTokens: covers every token in order for random (n, max, overlap)") {
    val rnd = new Random(42)
    (1 to 12).foreach { _ =>
      val n = rnd.nextInt(200)
      val maxT = 1 + rnd.nextInt(50)
      val ov = rnd.nextInt(maxT) // 0 <= ov < maxT
      val toks = (1 to n).map(i => s"t$i")
      val text = toks.mkString(" ")
      val chunks = Seq(text).toDF("text")
        .select(TextAnalysis.chunkTokens(col("text"), maxT, ov))
        .as[Seq[String]].head()
      // Reference: starts 1, 1+step, ... while <= max(n - ov, 1).
      val step = maxT - ov
      val expected = Iterator.iterate(1)(_ + step)
        .takeWhile(_ <= math.max(n - ov, 1)).toSeq
        .map(s => toks.slice(s - 1, s - 1 + maxT).mkString(" "))
      val want = if (n == 0) Seq("") else expected
      assert(chunks === want, s"n=$n maxT=$maxT ov=$ov")
      // Coverage + order: concatenating chunks with overlap removed
      // reconstructs the token sequence exactly.
      if (n > 0) {
        val rebuilt = chunks.head.split(" ").toSeq ++
          chunks.tail.flatMap(_.split(" ").toSeq.drop(ov))
        assert(rebuilt === toks, s"coverage n=$n maxT=$maxT ov=$ov")
      }
    }
  }

  test("withSplit: exhaustive, deterministic, salt-sensitive for random fractions") {
    val rnd = new Random(7)
    (1 to 5).foreach { _ =>
      val k = 2 + rnd.nextInt(3)
      val raw = Seq.fill(k)(0.05 + rnd.nextDouble())
      val fracs = raw.map(_ / raw.sum).zipWithIndex
        .map { case (f, i) => s"s$i" -> f }
      val keys = Seq.fill(300)(rnd.nextLong()).distinct.toDF("id")
      val a = Sampling.withSplit(keys, "id", fracs, salt = 1L)
      // Every non-null key gets exactly one label from the label set.
      assert(a.filter(col("split").isNull).count() === 0)
      assert(a.select("split").distinct().as[String].collect().toSet
        .subsetOf(fracs.map(_._1).toSet))
      // Deterministic: identical salt → identical assignment.
      val b = Sampling.withSplit(keys, "id", fracs, salt = 1L)
      assert(a.except(b).count() === 0 && b.except(a).count() === 0)
      // Salt-sensitive: a different salt moves at least one key (300 keys,
      // ≥2 splits — a fixed assignment across salts would be a hash bug).
      val c = Sampling.withSplit(keys, "id", fracs, salt = 2L)
      assert(a.except(c).count() > 0)
    }
  }

  test("exact dedup: equals brute-force group-min over random dup-heavy data") {
    val rnd = new Random(13)
    (1 to 4).foreach { _ =>
      val rows = (1 to 200).map { i =>
        val a = if (rnd.nextInt(5) == 0) null else s"a${rnd.nextInt(8)}"
        val b = if (rnd.nextInt(5) == 0) null else s"b${rnd.nextInt(4)}"
        (i.toLong, a, b)
      }
      val df = rows.toDF("id", "a", "b")
      val got = Dedup.exact(df, Seq("a", "b"), Seq(col("id")))
        .select("id").as[Long].collect().toSet
      // Reference: group by the (a, b) VALUE pair (nulls included — the
      // documented grouping semantics), keep the min id.
      val want = rows.groupBy(r => (r._2, r._3)).values.map(_.map(_._1).min).toSet
      assert(got === want)
    }
  }

  test("asof with tolerance: bucketed window equals brute force across boundaries, all directions") {
    // The tolerance path partitions by (key, tolerance-wide time bucket)
    // with right rows replicated into the adjacent bucket(s) the direction
    // consults; over random timestamps (including matches that straddle
    // bucket boundaries and matches farther than the tolerance) every
    // direction's output must equal its brute-force reference.
    val rnd = new Random(21)
    val tol = 100L
    val leftRows = (1 to 150).map(i =>
      (i.toLong, s"k${rnd.nextInt(4)}",
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(2000) * 1000L)))
    val rightRows = (1 to 150).map(i =>
      (i.toLong, s"k${rnd.nextInt(4)}",
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(2000) * 1000L)))
    val l = leftRows.toDF("lid", "k", "ts")
    val r = rightRows.toDF("rid", "k", "ts")

    // Brute-force winner per direction: filter candidates, then pick.
    // Backward: latest ≤; forward: earliest ≥; ties on ts → greatest rid.
    def brute(direction: String): Map[Long, Long] = leftRows.map {
      case (lid, lk, lts) =>
        def within(rts: java.sql.Timestamp) =
          math.abs(lts.getTime - rts.getTime) / 1000L <= tol
        val sameKey = rightRows.filter { case (_, rk, rts) =>
          rk == lk && within(rts)
        }
        val back = sameKey.filter(!_._3.after(lts))
          .sortBy(c => (c._3.getTime, c._1)).lastOption
        val fwd = sameKey.filter(!_._3.before(lts))
          .sortBy(c => (-c._3.getTime, c._1)).lastOption
        val winner = direction match {
          case "backward" => back
          case "forward"  => fwd
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              val db = lts.getTime - b._3.getTime
              val df = f._3.getTime - lts.getTime
              if (df < db) Some(f) else Some(b) // tie → backward
            case (b, f) => b.orElse(f)
          }
        }
        lid -> winner.map(_._1).getOrElse(-1L)
    }.toMap

    for (direction <- Seq("backward", "forward", "nearest")) {
      val got = graft.operators.AsofJoin.asof(l, r, Seq("k"),
        leftTsCol = "ts", rightTsCol = "ts", rightValCols = Seq("rid"),
        tieBreak = Seq("rid"), toleranceSec = Some(tol),
        direction = direction)
        .select("lid", "rid_asof")
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) -1L else row.getLong(1))).toMap
      assert(got === brute(direction), s"direction=$direction (bucketed)")
      // Unbounded (no tolerance) path: same winners ignoring the age cut.
      val gotU = graft.operators.AsofJoin.asof(l, r, Seq("k"),
        leftTsCol = "ts", rightTsCol = "ts", rightValCols = Seq("rid"),
        tieBreak = Seq("rid"), direction = direction)
        .select("lid", "rid_asof")
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) -1L else row.getLong(1))).toMap
      val bruteU = {
        // Reuse brute with an effectively-infinite tolerance by inlining:
        leftRows.map { case (lid, lk, lts) =>
          val sameKey = rightRows.filter { case (_, rk, _) => rk == lk }
          val back = sameKey.filter(!_._3.after(lts))
            .sortBy(c => (c._3.getTime, c._1)).lastOption
          val fwd = sameKey.filter(!_._3.before(lts))
            .sortBy(c => (-c._3.getTime, c._1)).lastOption
          val winner = direction match {
            case "backward" => back
            case "forward"  => fwd
            case "nearest" => (back, fwd) match {
              case (Some(b), Some(f)) =>
                if (f._3.getTime - lts.getTime < lts.getTime - b._3.getTime)
                  Some(f)
                else Some(b)
              case (b, f) => b.orElse(f)
            }
          }
          lid -> winner.map(_._1).getOrElse(-1L)
        }.toMap
      }
      assert(gotU === bruteU, s"direction=$direction (unbounded)")
    }
  }

  test("range join: bucketed containment equals brute force, inner and left") {
    // Random points and intervals (spans from sub-bucket to several
    // buckets wide, some inverted/empty, boundary hits included): the
    // bucketed equi-join must equal the brute-force containment join
    // exactly — each matching pair exactly once, inclusive boundaries,
    // inverted intervals dropped.
    val rnd = new Random(37)
    val width = 50L
    val points = (1 to 120).map(i =>
      (i.toLong, s"k${rnd.nextInt(3)}", (rnd.nextInt(1000) * 1L)))
    val intervals = (1 to 80).map { i =>
      val s = rnd.nextInt(1000).toLong
      // ~1/8 inverted (end < start) — must produce no matches
      val e = if (rnd.nextInt(8) == 0) s - 1 - rnd.nextInt(50)
        else s + rnd.nextInt(200)
      (i.toLong + 1000, s"k${rnd.nextInt(3)}", s, e)
    }
    val l = points.toDF("pid", "k", "p")
    val r = intervals.toDF("iid", "k", "s", "e")
    val want = (for {
      (pid, pk, p) <- points
      (iid, ik, s, e) <- intervals
      if pk == ik && p >= s && p <= e
    } yield (pid, iid)).toSet
    val gotInner = graft.operators.RangeJoin.rangeJoin(l, r, Seq("k"),
      "p", "s", "e", bucketWidthSec = width)
      .select("pid", "iid")
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(gotInner.length === gotInner.distinct.length, "duplicate pairs")
    assert(gotInner.toSet === want)
    // The whole point of bucketing: the physical plan must be an EQUI-join
    // (hash/sort-merge on (key, bucket)), never a nested-loop.
    val bucketed = graft.operators.RangeJoin.rangeJoin(l, r, Seq("k"),
      "p", "s", "e", bucketWidthSec = width)
    assert(PlanCheck.nestedLoopJoins(bucketed).isEmpty,
      s"non-equi join shape:\n${bucketed.queryExecution.executedPlan}")
    // Left join: every point appears; unmatched points carry null iid.
    val gotLeft = graft.operators.RangeJoin.rangeJoin(l, r, Seq("k"),
      "p", "s", "e", bucketWidthSec = width, joinType = "left")
      .select("pid", "iid").collect()
    val matchedPids = want.map(_._1)
    assert(gotLeft.count(_.isNullAt(1)) === points.size - matchedPids.size)
    assert(gotLeft.filterNot(_.isNullAt(1))
      .map(row => (row.getLong(0), row.getLong(1))).toSet === want)
  }

  test("token-budget mixture: budget respected in expectation, uncapped groups kept whole") {
    val rnd = new Random(71)
    val rows = (1 to 4000).map(i =>
      (i.toLong, if (rnd.nextInt(3) == 0) "code" else "web",
        50L + rnd.nextInt(200)))
    val df = rows.toDF("id", "src", "tok")
    val webTotal = rows.filter(_._2 == "web").map(_._3).sum
    val budget = webTotal / 4
    val kept = Sampling.tokenBudgetMixture(df, "id", "src", "tok",
      budgets = Map("web" -> budget), salt = 9L)
    // Uncapped source: every row survives.
    assert(kept.filter(col("src") === "code").count() ===
      rows.count(_._2 == "code"))
    // Capped source: realized volume concentrates around the budget
    // (hash membership is independent; ±20% is many sigma at this n).
    val keptWeb = kept.filter(col("src") === "web")
      .agg(sum(col("tok"))).head().getLong(0)
    assert(math.abs(keptWeb - budget).toDouble / budget < 0.2,
      s"kept $keptWeb vs budget $budget")
    // Deterministic and repartition-stable.
    val again = Sampling.tokenBudgetMixture(df.repartition(7), "id", "src",
      "tok", budgets = Map("web" -> budget), salt = 9L)
      .select("id").as[Long].collect().toSet
    assert(again === kept.select("id").as[Long].collect().toSet)
    // A budgeted source whose token column is entirely NULL has zero
    // measurable volume — it must be kept whole, not silently dropped.
    val nullTok = Seq((1L, "web", null.asInstanceOf[java.lang.Long]),
      (2L, "web", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "src", "tok")
    assert(Sampling.tokenBudgetMixture(nullTok, "id", "src", "tok",
      budgets = Map("web" -> 100L)).count() === 2)
  }

  test("temperature mixture: alpha flattens shares toward the tail, stable and bounded") {
    val rnd = new Random(83)
    // Heavily skewed corpus: 'en' ~ 8× the volume of each tail language.
    val rows = (1 to 6000).map { i =>
      val src = rnd.nextInt(10) match {
        case 0 => "fr"; case 1 => "de"; case _ => "en"
      }
      (i.toLong, src, 50L + rnd.nextInt(200))
    }
    val df = rows.toDF("id", "src", "tok")
    val total = rows.map(_._3).sum
    val kept = Sampling.temperatureMixture(df, "id", "src", "tok",
      totalBudget = total / 2, alpha = 0.5, salt = 13L)
    val keptBySrc = kept.groupBy("src").agg(sum(col("tok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totBySrc = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // Flattening: the head's kept SHARE of its own volume is strictly
    // below each tail language's kept share (sqrt weights boost the tail).
    val keepRate = (s: String) => keptBySrc(s).toDouble / totBySrc(s)
    assert(keepRate("en") < keepRate("fr"), s"en ${keepRate("en")} fr ${keepRate("fr")}")
    assert(keepRate("en") < keepRate("de"))
    // Single-pass contract: realized volume never exceeds the budget by
    // more than sampling noise (and is below it whenever a source caps).
    assert(keptBySrc.values.sum < total / 2 * 1.1)
    // α = 1 reproduces natural proportions: every source keeps ~budget
    // share uniformly.
    val natural = Sampling.temperatureMixture(df, "id", "src", "tok",
      totalBudget = total / 2, alpha = 1.0, salt = 13L)
    val natBySrc = natural.groupBy("src").agg(sum(col("tok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Seq("en", "fr", "de")) {
      val r = natBySrc(s).toDouble / totBySrc(s)
      assert(math.abs(r - 0.5) < 0.1, s"alpha=1 rate for $s was $r")
    }
    // Deterministic and repartition-stable.
    val again = Sampling.temperatureMixture(df.repartition(7), "id", "src",
      "tok", totalBudget = total / 2, alpha = 0.5, salt = 13L)
      .select("id").as[Long].collect().toSet
    assert(again === kept.select("id").as[Long].collect().toSet)
  }

  test("cross-corpus near-dup: equals brute-force cross Jaccard on random corpora") {
    // Random word-soup corpora with planted exact and near copies across
    // the corpus/reference boundary: the operator's pair set (corpus doc,
    // distinct-content reference rep) must equal the brute-force cross
    // Jaccard at the default threshold.
    val rnd = new Random(53)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    def doc(): String =
      Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpusRows = (1 to 60).map(i => (i.toLong, doc()))
    val refRows =
      // 10 exact copies of corpus docs, 10 near copies, 10 fresh docs —
      // plus one duplicated reference content (collapse check).
      corpusRows.take(10).zipWithIndex.map { case ((_, t), j) => (100L + j, t) } ++
      corpusRows.slice(10, 20).zipWithIndex.map { case ((_, t), j) =>
        (200L + j, t + " omega") } ++
      (0 until 10).map(j => (300L + j, doc())) :+
      (400L, corpusRows.head._2)

    def shingles3(t: String): Set[String] = {
      val toks = t.trim.split("\\s+")
      (if (toks.length <= 3) Seq(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSeq).toSet
    }
    // Reference reps: min ref id per distinct text (the operator contract).
    val reps = refRows.groupBy(_._2).map { case (_, g) => g.minBy(_._1) }.toSeq
    val want = (for {
      (cid, ct) <- corpusRows
      (rid, rt) <- reps
      inter = (shingles3(ct) & shingles3(rt)).size
      union = (shingles3(ct) ++ shingles3(rt)).size
      if union > 0 && inter.toDouble / union >= 0.7
    } yield (cid, rid)).toSet

    val got = Dedup.minhashNearDupPairsAgainst(
      corpusRows.toDF("doc_id", "text"), "doc_id", "text",
      refRows.toDF("ref_id", "text"), "ref_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Candidates-then-verify: found ⊆ true always; on this corpus shape
    // the sketch's recall is complete, so the sets must be EQUAL.
    assert(got === want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("collectMinK: equals sort-take for random values and k") {
    GraftFunctions.register(spark)
    val rnd = new Random(99)
    (1 to 5).foreach { _ =>
      val k = 1 + rnd.nextInt(10)
      val values = Seq.fill(500)(rnd.nextInt(100).toLong)
      val got = values.toDF("v")
        .agg(GraftFunctions.collectMinK(col("v"), k))
        .as[Seq[Long]].head()
      assert(got === values.sorted.take(k), s"k=$k")
    }
  }

  test("packing: equals a plain-Scala layout reference for random corpora") {
    val rnd = new Random(21)
    (1 to 4).foreach { _ =>
      val nDocs = 50 + rnd.nextInt(200)
      val seqLen = 1L + rnd.nextInt(100)
      val nShards = 1 + rnd.nextInt(6)
      val salt = rnd.nextLong()
      val docs = (1 to nDocs)
        .map(i => (i.toLong, rnd.nextInt(200).toLong))
      val got = graft.operators.Packing.packSequences(
        docs.toDF("id", "toks"), "id", "toks", seqLen, nShards, salt)
        .select("id", "shard", "off", "seq_first", "seq_last")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // Reference: bucket each key exactly like Sampling (Spark replays
      // the md5 arithmetic), then lay out per shard in (bucket, id) order.
      val bucketOf = docs.map { case (id, _) =>
        id -> Sampling.Space.min(java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$id:$salt".getBytes("UTF-8"))
            .take(4).map(b => f"$b%02x").mkString, 16))
      }.toMap
      val want = docs
        .groupBy { case (id, _) => (bucketOf(id) % nShards).toInt }
        .flatMap { case (shard, members) =>
          var off = 0L
          members.sortBy { case (id, _) => (bucketOf(id), id) }
            .map { case (id, toks) =>
              val first = off / seqLen
              val last = (off + math.max(toks, 1L) - 1L) / seqLen
              val row = id -> (shard, off, first, last)
              off += toks
              row
            }
        }
      assert(got === want, s"n=$nDocs seqLen=$seqLen shards=$nShards")
    }
  }

  test("dup spans: stats and rewrite equal brute force on random corpora") {
    import graft.text.DupSpans
    val rnd = new Random(33)
    (1 to 4).foreach { _ =>
      val n = 2 + rnd.nextInt(3)
      val vocab = Vector("a", "b", "c", "d")
      val docs = (1 to 60).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val df = docs.toDF("id", "text")
      // Brute-force reference over gram strings.
      val grams = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toSeq.sliding(n)
          .filter(_.size == n).map(_.mkString(" ")).toSeq
      }.toMap
      val docFreq = grams.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val wantStats = grams.collect { case (id, gs) if gs.nonEmpty =>
        id -> (gs.size.toLong, gs.count(g => docFreq(g) >= 2).toLong)
      }
      val gotStats = DupSpans.duplicatedSpanStats(df, "id", "text", n, 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(gotStats === wantStats, s"n=$n")

      val wantClean = docs.map { case (id, t) =>
        val toks = t.split(" ").filter(_.nonEmpty).toSeq
        val dupStarts = grams(id).zipWithIndex
          .collect { case (g, i) if docFreq(g) >= 2 => i }
        val covered = dupStarts.flatMap(s => s until s + n).toSet
        id -> toks.zipWithIndex.collect {
          case (tok, i) if !covered(i) => tok }.mkString(" ")
      }.toMap
      val gotClean = DupSpans.removeDuplicatedSpans(df, "id", "text", n, 2)
        .select("id", "clean_text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(gotClean === wantClean, s"rewrite n=$n")
    }
  }

  test("line dedup: removal and stats equal brute force on random corpora") {
    import graft.text.LineDedup
    val rnd = new Random(271)
    (1 to 6).foreach { trial =>
      // Small shared line pool forces cross-doc duplicates; blanks and
      // space-only lines exercise the exemption.
      val pool = (1 to (3 + rnd.nextInt(8))).map(i => s"line$i words here")
      val docs = (0 until (2 + rnd.nextInt(10))).map { id =>
        val nLines = 1 + rnd.nextInt(8)
        val lines = (1 to nLines).map { _ =>
          rnd.nextInt(4) match {
            case 0     => ""
            case 1     => "  "
            case _     => pool(rnd.nextInt(pool.length))
          }
        }
        (id.toLong, lines.mkString("\n"))
      }
      val minDocs = 2 + rnd.nextInt(2)
      val df = docs.toDF("id", "text")
      // Reference: lines occurring (non-blank) in >= minDocs distinct docs.
      val lineDocs = docs.flatMap { case (id, t) =>
        t.split("\n", -1).filter(_.trim.nonEmpty).distinct.map(_ -> id) }
      val dup = lineDocs.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= minDocs).keySet
      val wantClean = docs.map { case (id, t) =>
        id -> t.split("\n", -1).filter(l => l.trim.isEmpty || !dup(l)).mkString("\n")
      }.toMap
      for (hash <- Seq(true, false)) {
        val got = LineDedup.removeDuplicateLines(df, "id", "text", minDocs, hash)
          .select("id", "clean_text")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got === wantClean, s"trial=$trial minDocs=$minDocs hash=$hash")
      }
      val wantStats = docs.flatMap { case (id, t) =>
        val nb = t.split("\n", -1).filter(_.trim.nonEmpty)
        if (nb.isEmpty) None
        else Some(id -> ((nb.length.toLong, nb.count(dup).toLong)))
      }.toMap
      val gotStats = LineDedup.duplicatedLineStats(df, "id", "text", minDocs)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(gotStats === wantStats, s"stats trial=$trial minDocs=$minDocs")
    }
  }

  test("LM scoring: unigram and bigram equal a plain-Scala reference") {
    import graft.text.UnigramLm
    val rnd = new Random(911)
    def q(x: Double): Long = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    (1 to 4).foreach { trial =>
      val words = (1 to (3 + rnd.nextInt(6))).map(i => s"w$i")
      val docs = (0 until (3 + rnd.nextInt(8))).map { id =>
        (id.toLong,
          (1 to (1 + rnd.nextInt(12)))
            .map(_ => words(rnd.nextInt(words.length))).mkString(" "))
      }
      val df = docs.toDF("id", "text")
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val cnt = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = cnt.values.sum
      val vSize = 1 + rnd.nextInt(words.length + 2)
      val vocab = cnt.toSeq.sortBy { case (w, c) => (-c, w) }.take(vSize)
        .map { case (w, c) => w -> q(math.log(c.toDouble / n)) }.toMap
      val floor = q(math.log(0.5 / n))
      val microMean = SparkTestSession.microMeanRef _
      // Unigram reference.
      val wantUni = toks.map { case (id, ts) =>
        id -> microMean(ts.map(t => vocab.getOrElse(t, floor)))
      }.toMap
      val gotUni = UnigramLm.scoreDocs(df, "id", "text", vSize)
        .select(col("id"), col("avg_logprob")).as[(Long, Double)]
        .collect().toMap
      assert(gotUni.keySet === wantUni.keySet, s"uni keys trial=$trial")
      wantUni.foreach { case (id, w) =>
        assert(math.abs(gotUni(id) - w) < 1e-9, s"uni trial=$trial id=$id") }
      // Bigram reference (stupid backoff).
      val bSize = 1 + rnd.nextInt(10)
      val pairCnt = toks.flatMap { case (_, ts) => ts.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))) }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val biv = pairCnt.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(bSize)
        .map { case ((a, b), c) => (a, b) -> q(math.log(c.toDouble / cnt(a))) }.toMap
      val bo = q(math.log(0.4))
      val wantBi = toks.map { case (id, ts) =>
        val first = vocab.getOrElse(ts.head, floor)
        val rest = ts.sliding(2).filter(_.size == 2).map { p =>
          biv.getOrElse((p(0), p(1)),
            bo + vocab.getOrElse(p(1), floor))
        }.toSeq
        id -> microMean(first +: rest)
      }.toMap
      val gotBi = UnigramLm.scoreDocsBigram(df, "id", "text", vSize, bSize)
        .select(col("id"), col("avg_logprob")).as[(Long, Double)]
        .collect().toMap
      assert(gotBi.keySet === wantBi.keySet, s"bi keys trial=$trial")
      wantBi.foreach { case (id, w) =>
        assert(math.abs(gotBi(id) - w) < 1e-9,
          s"bi trial=$trial id=$id vSize=$vSize bSize=$bSize") }
    }
  }

  test("topKByGroup: equals sort-take per group for random scores and k") {
    val rnd = new Random(137)
    (1 to 6).foreach { trial =>
      val k = 1 + rnd.nextInt(4)
      val rows = (0 until (5 + rnd.nextInt(60))).map { i =>
        (i.toLong, s"g${rnd.nextInt(4)}",
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(8).toDouble))
      }
      val df = rows.toDF("id", "g", "score")
      val got = Sampling.topKByGroup(df, "id", "g", "score", k)
        .select("id").as[Long].collect().toSet
      val want = rows.collect { case (id, g, Some(s)) => (id, g, s) }
        .groupBy(_._2).values.flatMap { grp =>
          grp.sortBy { case (id, _, s) => (-s, id) }.take(k).map(_._1)
        }.toSet
      assert(got === want, s"trial=$trial k=$k")
    }
  }

  test("group quantiles: equals sort-index reference for random groups and rationals") {
    import graft.operators.Quantiles
    val rnd = new Random(11)
    (1 to 8).foreach { trial =>
      val nGroups = 1 + rnd.nextInt(4)
      val rows = (0 until 30 + rnd.nextInt(120)).map { i =>
        val g = s"g${rnd.nextInt(nGroups)}"
        val v = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40).toDouble)
        (g, v, i.toLong)
      }
      val qs = Seq(("q0", 0, 1), ("qa", 1 + rnd.nextInt(9), 10),
        ("qb", 1 + rnd.nextInt(99), 100), ("q1", 1, 1))
      val got = Quantiles.groupQuantiles(
        rows.toDF("g", "v", "id"), "g", "v", "id", qs)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5))).toMap
      // Reference: per group, sort non-null values (tie by id) and pick
      // index floor(num*(n-1)/den) — duplicates of a value make the tie
      // order irrelevant to the SELECTED value.
      val ref = rows.collect { case (g, Some(v), id) => (g, v, id) }
        .groupBy(_._1).map { case (g, grp) =>
          val sorted = grp.sortBy { case (_, v, id) => (v, id) }.map(_._2)
          def pick(num: Int, den: Int) =
            sorted((num.toLong * (sorted.size - 1) / den).toInt)
          g -> (sorted.size.toLong, pick(qs(0)._2, qs(0)._3),
            pick(qs(1)._2, qs(1)._3), pick(qs(2)._2, qs(2)._3),
            pick(qs(3)._2, qs(3)._3))
        }
      assert(got === ref, s"trial=$trial qs=$qs")
    }
  }

  test("approx quantiles: rank contract holds and rankWithin equals a plain-Scala checker") {
    import graft.operators.Quantiles
    val rnd = new Random(1537)
    (1 to 6).foreach { trial =>
      val nGroups = 1 + rnd.nextInt(3)
      val acc = 50 + rnd.nextInt(2000)
      val rows = (0 until 80 + rnd.nextInt(400)).map { i =>
        val g = s"g${rnd.nextInt(nGroups)}"
        val v = if (rnd.nextInt(12) == 0) None
          else Some(rnd.nextInt(500).toDouble)
        (g, v, i.toLong)
      }
      val qs = Seq(("qa", 1 + rnd.nextInt(9), 10),
        ("qb", 1 + rnd.nextInt(99), 100))
      val df = rows.toDF("g", "v", "id").repartition(1 + rnd.nextInt(6))
      val approx = Quantiles.approxGroupQuantiles(df, "g", "v", qs, acc)
      val approxRows = approx.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toMap
      val byGroup = rows.collect { case (g, Some(v), _) => g -> v }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // (1) every returned quantile is an actual element of its group (GK
      //     retains samples), and n_rows counts non-nulls.
      approxRows.foreach { case (g, (n, qa, qb)) =>
        assert(n === byGroup(g).size.toLong, s"trial=$trial $g n_rows")
        assert(byGroup(g).contains(qa) && byGroup(g).contains(qb),
          s"trial=$trial $g returned non-elements")
      }
      // (2) rankWithin's Spark-side verdicts equal a plain-Scala checker
      //     of the same integer law, and (3) the documented GK rank bound
      //     actually holds at this random accuracy.
      val got = Quantiles.rankWithin(df, approx, "g", "v", qs, acc)
        .collect().map(r => r.getString(0) ->
          (r.getBoolean(2), r.getBoolean(3))).toMap
      val ref = approxRows.map { case (g, (n, qa, qb)) =>
        val vs = byGroup(g)
        val tol = n / acc + 1
        def ok(q: Double, num: Int, den: Int): Boolean = {
          val lo = vs.count(_ < q).toLong
          val hi = vs.count(_ <= q).toLong
          (lo + 1 - tol) * den <= num * n && (hi + tol) * den >= num * n
        }
        g -> (ok(qa, qs(0)._2, qs(0)._3), ok(qb, qs(1)._2, qs(1)._3))
      }
      assert(got === ref, s"trial=$trial acc=$acc checker mismatch")
      assert(ref.values.forall(p => p._1 && p._2),
        s"trial=$trial acc=$acc GK rank bound violated")
    }
  }

  test("approx quantile pins: equal a plain-Scala single-valued-window oracle") {
    // The pinValues contract (r16): a `<q>_val` column is non-null exactly
    // when the rank-tolerance window [p·n − tol, p·n + tol] ∩ [1, n] holds
    // ONE distinct value, and then it IS that value — for any conforming
    // sketch, any merge order. Random heavily-tied data (small value
    // domains) exercises both pinned and straddling windows at random
    // accuracies; the oracle recomputes the window ends with the same
    // integer arithmetic from the sorted values.
    import graft.operators.Quantiles
    val rnd = new Random(1601)
    (1 to 8).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      val domain = 2 + rnd.nextInt(12)
      val acc = Seq(10, 25, 100, 1000)(rnd.nextInt(4))
      val vals = Seq.fill(n)(rnd.nextInt(domain).toDouble)
      val qs = Seq(("q25", 1, 4), ("q50", 1, 2), ("q75", 3, 4),
        ("q90", 9, 10))
      val df = vals.zipWithIndex
        .map { case (v, i) => ("g", v, i.toLong) }.toDF("g", "v", "id")
        .repartition(1 + rnd.nextInt(6))
      val approx = Quantiles.approxGroupQuantiles(df, "g", "v", qs, acc)
      val got = Quantiles.rankWithin(df, approx, "g", "v", qs, acc,
        pinValues = true).collect()(0)
      val sorted = vals.sorted.toIndexedSeq
      val tol = (n / acc + 1).toLong
      qs.zipWithIndex.foreach { case ((name, num, den), qi) =>
        // Contract leg must hold (GK conforms at every tested accuracy) —
        // the pin equivalence theorem assumes a conforming sketch.
        assert(got.getBoolean(2 + qi), s"trial=$trial $name contract")
        val a = num.toLong * n - tol * den
        val rmin = (math.max(a, den.toLong) + den - 1) / den
        val rmax = math.min((num.toLong * n + tol * den) / den, n.toLong)
        val (vLo, vHi) = (sorted((rmin - 1).toInt), sorted((rmax - 1).toInt))
        val want = if (vLo == vHi) Some(vLo) else None
        val gotPin = if (got.isNullAt(2 + qs.size + qi)) None
          else Some(got.getDouble(2 + qs.size + qi))
        assert(gotPin === want,
          s"trial=$trial $name acc=$acc n=$n domain=$domain pin mismatch")
      }
    }
  }

  test("approx quantile bounds: replay order statistics; BETWEEN equals the rank law for ANY element") {
    // The boundsWithin contract (r17): `<q>_lo`/`<q>_hi` are the exact
    // order statistics at the clamped rank-window ends — replayable by an
    // exact engine from sorted values — and the BETWEEN verdict equals
    // rankWithin's counter check for ANY planted group element (the
    // equivalence claim covers non-conforming plants too, so the two
    // formulations can never split a gate's verdict).
    import graft.operators.Quantiles
    val rnd = new Random(1733)
    (1 to 8).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      val domain = 2 + rnd.nextInt(40) // heavy-tie through sparse regimes
      val acc = Seq(10, 25, 100, 1000)(rnd.nextInt(4))
      val vals = Seq.fill(n)(rnd.nextInt(domain).toDouble)
      val qs = Seq(("q25", 1, 4), ("q50", 1, 2), ("q90", 9, 10))
      val df = (vals.zipWithIndex
        .map { case (v, i) => ("g", Some(v), i.toLong) } ++
        Seq(("g", None, 9001L), ("g", None, 9002L))) // null rows filter out
        .toDF("g", "v", "id").repartition(1 + rnd.nextInt(6))
      // Plant ARBITRARY elements as the sketch frame — in or out of
      // tolerance at random.
      val plant = qs.map(_ => vals(rnd.nextInt(n)))
      val plantedDf = Seq((("g"), n.toLong, plant(0), plant(1), plant(2)))
        .toDF("g", "n_rows", "q25", "q50", "q90")
      val b = Quantiles.boundsWithin(df, plantedDf, "g", "v", qs, acc)
        .collect()(0)
      val r = Quantiles.rankWithin(df, plantedDf, "g", "v", qs, acc)
        .collect()(0)
      assert(b.getLong(1) === n.toLong)
      val sorted = vals.sorted.toIndexedSeq
      val tol = (n / acc + 1).toLong
      qs.zipWithIndex.foreach { case ((name, num, den), qi) =>
        val a = num.toLong * n - tol * den
        val rmin = (math.max(a, den.toLong) + den - 1) / den
        val rmax = math.min((num.toLong * n + tol * den) / den, n.toLong)
        val (vLo, vHi) = (sorted((rmin - 1).toInt), sorted((rmax - 1).toInt))
        assert(b.getDouble(2 + 3 * qi) === vLo,
          s"trial=$trial $name acc=$acc lo bound")
        assert(b.getDouble(3 + 3 * qi) === vHi,
          s"trial=$trial $name acc=$acc hi bound")
        val between = plant(qi) >= vLo && plant(qi) <= vHi
        assert(b.getBoolean(4 + 3 * qi) === between,
          s"trial=$trial $name BETWEEN verdict")
        assert(r.getBoolean(2 + qi) === between,
          s"trial=$trial $name acc=$acc n=$n plant=${plant(qi)} — " +
            "rank law and value interval split")
      }
    }
  }

  test("bm25: equals a plain-Scala reference on random corpora and queries") {
    import graft.text.Bm25
    val rnd = new Random(19)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    (1 to 6).foreach { trial =>
      val docs = (0 until 20 + rnd.nextInt(30)).map { i =>
        (i.toLong, (0 until 1 + rnd.nextInt(12))
          .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
      }
      val qs = (0 until 2).map(qi =>
        (qi.toLong, (0 until 1 + rnd.nextInt(3))
          .map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
      val k = 1 + rnd.nextInt(6)
      val got = Bm25.search(docs.toDF("doc_id", "text"), "doc_id", "text",
        qs.toDF("qid", "qt"), "qid", "qt", k, k1 = 1.5, b = 0.75)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
      // Reference: the BM25 formula verbatim; the micro-quantized per-term
      // sum is compared through ranks (both sides order by score desc, id).
      val tf = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty)
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
      }.toMap
      val lens = tf.view.mapValues(_.values.sum).toMap
      val withToks = lens.filter(_._2 > 0)
      val nDocs = withToks.size
      val avgdl = withToks.values.sum.toDouble / nDocs
      def idf(t: String) = {
        val df = tf.count(_._2.contains(t))
        math.log(1.0 + ((nDocs.toDouble - df) + 0.5) / (df + 0.5))
      }
      val want = qs.flatMap { case (qid, qt) =>
        val terms = qt.split("\\s+").filter(_.nonEmpty).distinct
        val scored = tf.toSeq.flatMap { case (id, m) =>
          val s = terms.collect {
            case t if m.contains(t) =>
              val f = m(t).toDouble
              math.round(idf(t) * ((f * 2.5) /
                (f + 1.5 * (0.25 + (0.75 * lens(id)) / avgdl))) * 1e6)
          }.sum
          if (s == 0L && !terms.exists(m.contains)) None else Some((id, s))
        }
        scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
          .map { case ((id, _), r) => (qid, r + 1) -> id }
      }.toMap
      assert(got === want, s"trial=$trial k=$k")
    }
  }

  test("nb classifier: equals an exact integer-arithmetic reference on random data") {
    import graft.text.NbClassifier
    val rnd = new Random(23)
    val words = Vector("w0", "w1", "w2", "w3", "w4", "w5")
    def quant(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    (1 to 6).foreach { trial =>
      val classes = Seq("p", "q", "r").take(2 + rnd.nextInt(2))
      val labeled = (0 until 20 + rnd.nextInt(20)).map { i =>
        (i.toLong, (0 until 1 + rnd.nextInt(8))
          .map(_ => words(rnd.nextInt(words.size))).mkString(" "),
          classes(rnd.nextInt(classes.size)))
      }
      val vocabSize = 1 + rnd.nextInt(words.size + 2)
      val got = NbClassifier.trainPredict(
        labeled.toDF("doc_id", "text", "cls"),
        labeled.toDF("doc_id", "text", "cls"), "doc_id", "text", "cls",
        vocabSize)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // Reference replays training exactly: counts, the (tot desc, term
      // asc) vocab cut, Laplace micro-nats, priors, argmax (class asc).
      val toks = labeled.map { case (id, t, c) =>
        (id, t.split("\\s+").filter(_.nonEmpty).toSeq, c) }
      val classTok = toks.flatMap { case (_, ts, c) => ts.map(c -> _) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val vocab = classTok.groupBy(_._1._2).view.mapValues(_.values.sum)
        .toSeq.sortBy { case (t, n) => (-n, t) }.take(vocabSize).map(_._1).toSet
      val classTotals = classTok.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val nDocs = labeled.size
      val priors = labeled.groupBy(_._3).view
        .mapValues(g => quant(math.log(g.size.toDouble / nDocs))).toMap
      def lp(c: String, t: String) =
        quant(math.log((classTok.getOrElse((c, t), 0L) + 1).toDouble /
          (classTotals(c) + vocab.size).toDouble))
      val want = toks.map { case (id, ts, _) =>
        val best = priors.keys.toSeq.map { c =>
          c -> (priors(c) + ts.filter(vocab).map(t =>
            lp(c, t)).sum)
        }.sortBy { case (c, s) => (-s, c) }.head._1
        id -> best
      }.toMap
      assert(got === want, s"trial=$trial vocabSize=$vocabSize classes=$classes")
    }
  }

  test("lineage closure: equals driver-side BFS on random digraphs") {
    import graft.operators.Lineage
    val rnd = new Random(47)
    for (trial <- 1 to 3) {
      val n = 8 + rnd.nextInt(20)
      val edges = (for {
        s <- 0 until n; d <- 0 until n
        if s != d && rnd.nextDouble() < 0.12
      } yield (s.toLong, d.toLong)).distinct
      val seeds = (0 until n).filter(_ => rnd.nextDouble() < 0.2)
        .map(_.toLong) match { case Nil => Seq(0L); case s => s }
      // Reference BFS.
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val want = scala.collection.mutable.Set(seeds: _*)
      var frontier = seeds.toSet
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Nil)) -- want
        want ++= next
        frontier = next
      }
      val got = Lineage.downstreamClosure(
        edges.toDF("p", "c"), seeds.toDF("n"))
        .collect().map(_.getLong(0)).toSet
      assert(got === want.toSet, s"trial=$trial n=$n seeds=$seeds")
    }
  }

  test("heavy hitters: equals exact top-k under the MG retention bound") {
    import graft.text.HeavyHitters
    val rnd = new Random(83)
    for (trial <- 1 to 3) {
      // Zipf-ish corpus: token t has weight ~ 1/(rank+1).
      val vocab = (0 until 40).map(i => s"w$i")
      val docs = (0 until 200).map { d =>
        val words = (0 until 20).map { _ =>
          val r = math.min((1.0 / (rnd.nextDouble() + 0.03)).toInt, 39)
          vocab(r)
        }
        (d.toLong, words.mkString(" "))
      }.toDF("doc_id", "text").repartition(7)
      // Exact truth.
      val exact = docs.selectExpr("explode(split(trim(text), '\\\\s+')) AS t")
        .groupBy("t").count()
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .sortBy { case (t, c) => (-c, t) }
      val k = 5
      // capacity ≥ vocab → MG retention total → top-k must be exact.
      val got = HeavyHitters.topTokens(docs, "text", k, capacity = 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(got === exact.take(k).toSeq, s"trial=$trial")
    }
  }

  test("epoch repeat: instance counts equal the per-row reference") {
    import graft.operators.Sampling
    val rnd = new Random(29)
    for (trial <- 1 to 3) {
      val rows = (0 until 150).map { i =>
        val e = rnd.nextInt(4) match {
          case 0 => 0.0
          case 1 => rnd.nextInt(3) + 1.0           // whole epochs
          case 2 => rnd.nextInt(3) + rnd.nextDouble() // fractional
          case 3 => rnd.nextDouble()               // sub-epoch
        }
        (i.toLong, e)
      }
      val df = rows.toDF("id", "e")
      val salt = 100L + trial
      val got = Sampling.epochRepeat(df, "id", col("e"), salt = salt)
        .groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Reference: replicate the md5-bucket draw per (id, epoch) exactly.
      def bucket(key: String): Long =
        java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$key:$salt".getBytes("UTF-8"))
            .take(4).map("%02x".format(_)).mkString, 16)
      rows.foreach { case (id, e) =>
        val full = math.floor(e).toLong
        val frac = e - math.floor(e)
        val extra =
          if (frac > 0 &&
            bucket(s"$id#${full + 1}") < math.round(frac * Sampling.Space)) 1L
          else 0L
        val want = full + extra
        assert(got.getOrElse(id, 0L) === want,
          s"trial=$trial id=$id e=$e")
      }
    }
  }

  test("mad outliers: flags equal a sort-based driver reference") {
    import graft.operators.Anomaly
    val rnd = new Random(59)
    for (trial <- 1 to 3) {
      val data = (0 until 120).map { i =>
        val g = s"g${i % 3}"
        val v = if (rnd.nextDouble() < 0.1) rnd.nextDouble() * 1000
                else rnd.nextDouble() * 10
        (g, v, i.toLong)
      }
      val got = Anomaly.madOutliers(data.toDF("g", "v", "id"),
        "g", "v", "id", k = 3)
        .select("g", "id", "is_outlier").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(2)).toMap
      // Reference: discrete type-1 median via sorted index, same rule.
      data.groupBy(_._1).foreach { case (g, rows) =>
        val vs = rows.map(_._2).sorted
        def med(xs: Seq[Double]) = xs((xs.size - 1) / 2)
        val m = med(vs)
        val mad = med(rows.map(r => math.abs(r._2 - m)).sorted)
        rows.foreach { case (_, v, id) =>
          assert(got((g, id)) === (math.abs(v - m) > 3 * mad),
            s"trial=$trial g=$g id=$id")
        }
      }
    }
  }

  test("connected components: equals driver-side union-find on random graphs") {
    import graft.dedup.Clusters
    val rnd = new Random(47)
    for (trial <- 1 to 4) {
      // Density swings from many small components to one giant; duplicate
      // edges, reversed duplicates, and self-loops are all legal input.
      val nNodes = 20 + rnd.nextInt(60)
      val density = Seq(0.02, 0.05, 0.15, 0.6)(trial - 1)
      val edges = (for {
        _ <- 1 to (nNodes * nNodes * density).toInt.max(1)
      } yield {
        val a = rnd.nextInt(nNodes).toLong
        val b = if (rnd.nextInt(20) == 0) a else rnd.nextInt(nNodes).toLong
        (a, b)
      })
      // Reference: plain union-find, cluster = min id per component.
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = members.map { n =>
        val root = find(n)
        n -> members.filter(m => find(m) == root).min
      }.toMap
      val got = Clusters.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial=$trial nodes=$nNodes density=$density")
    }
  }

  test("pagerank: equals a driver-side reference on random graphs") {
    import graft.operators.PageRank
    val rnd = new Random(91)
    for (trial <- 1 to 3) {
      val nNodes = 6 + rnd.nextInt(12)
      val edges = (for {
        s <- 0 until nNodes; d <- 0 until nNodes
        if s != d && rnd.nextDouble() < 0.25
      } yield (s.toLong, d.toLong)).distinct
      if (edges.nonEmpty) {
        val iters = 1 + rnd.nextInt(4)
        // Reference: same integer recurrence, plain Scala maps.
        val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val nodes = edges.map(_._1).distinct
        var ranks = nodes.map(_ -> 1000000L).toMap
        for (_ <- 1 to iters) {
          val in = scala.collection.mutable.Map.empty[Long, Long]
            .withDefaultValue(0L)
          edges.foreach { case (s, d) =>
            if (ranks.contains(s))
              in(d) += ranks(s) / outdeg(s)
          }
          ranks = nodes.map(n => n -> (150000L + 85L * in(n) / 100L)).toMap
        }
        val got = PageRank.run(edges.toDF("s", "d"), "s", "d", iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === ranks, s"trial=$trial nodes=$nNodes iters=$iters")
      }
    }
  }

  test("psi drift: equals a plain-Scala PSI reference, incl. constant baselines") {
    import graft.quality.Drift
    val rnd = new Random(131)
    for (trial <- 1 to 3) {
      val nBins = 4 + rnd.nextInt(8)
      val groups = Seq("a", "b", "const")
      def draw(g: String, side: Int): Seq[Double] = g match {
        // One genuinely constant-baseline group per trial: the current
        // side shifts half its mass away, exercising the equality rule.
        case "const" =>
          if (side == 0) Seq.fill(30)(5.0)
          else Seq.fill(15)(5.0) ++ Seq.fill(15)(5.0 + rnd.nextInt(9) + 1)
        case _ =>
          val shift = if (side == 0) 0.0 else rnd.nextDouble() * 40
          (1 to 40).map(_ => rnd.nextDouble() * 100 + shift)
      }
      val base = groups.flatMap(g => draw(g, 0).map(v => (g, v)))
      val cur = groups.flatMap(g => draw(g, 1).map(v => (g, v)))
      // Plain-Scala reference replaying the operator's exact arithmetic:
      // explicit IEEE bucket over the BASELINE range, clamp, equality
      // rule for constant baselines, Laplace +1, micro-quantized terms.
      def ref(g: String): Long = {
        val b = base.filter(_._1 == g).map(_._2)
        val c = cur.filter(_._1 == g).map(_._2)
        val (lo, hi) = (b.min, b.max)
        def bin(v: Double): Long =
          if (hi == lo) { if (v == lo) 0L else (nBins - 1).toLong }
          else math.max(0L, math.min((nBins - 1).toLong,
            math.floor(((v - lo) * nBins) / (hi - lo)).toLong))
        val cb = b.groupBy(bin).view.mapValues(_.size.toLong).toMap
        val cc = c.groupBy(bin).view.mapValues(_.size.toLong).toMap
        (0L until nBins.toLong).map { i =>
          val p = (cb.getOrElse(i, 0L) + 1L).toDouble / (b.size + nBins)
          val q = (cc.getOrElse(i, 0L) + 1L).toDouble / (c.size + nBins)
          math.round((p - q) * math.log(p / q) * 1e6)
        }.sum
      }
      val got = Drift.psi(base.toDF("g", "v"), cur.toDF("g", "v"), "v",
        Seq("g"), nBins).collect()
        .map(r => r.getAs[String]("g") -> r.getAs[Long]("psi_micro")).toMap
      groups.foreach { g =>
        assert(got(g) === ref(g), s"trial=$trial g=$g nBins=$nBins")
      }
      // The shifted constant-baseline group must actually register.
      assert(got("const") > 0L, s"trial=$trial constant-baseline shift invisible")
    }
  }

  test("eraseKeys: equals a plain filter for random tables and key sets") {
    import graft.quality.Governance
    val rnd = new Random(167)
    for (trial <- 1 to 2) {
      val t = s"default.erase_rand_${trial}_${System.nanoTime()}"
      val parts = Seq("p0", "p1", "p2")
      val rows = (1 to 60).map { i =>
        (rnd.nextInt(20).toLong, parts(rnd.nextInt(3)), rnd.nextInt(1000))
      }
      val partitioned = rnd.nextBoolean()
      val df = rows.toDF("uid", "part", "v")
      if (partitioned) df.write.partitionBy("part").saveAsTable(t)
      else df.write.saveAsTable(t)
      val victims = (0 until 20).filter(_ => rnd.nextDouble() < 0.3)
        .map(_.toLong)
      val (before, purged, after) = Governance.eraseKeys(spark, t, "uid",
        victims.toDF("k"))
      val want = rows.filterNot(r => victims.contains(r._1))
      assert(before === rows.size.toLong && after === want.size.toLong &&
        purged === (rows.size - want.size).toLong,
        s"trial=$trial partitioned=$partitioned")
      val got = spark.table(t).select("uid", "part", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      assert(got.sorted === want.sorted, s"trial=$trial content")
      assert(!spark.catalog.tableExists(s"${t}__erase_stage"))
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("microbatch: random event sets split to per-window truth; retries idempotent") {
    import java.sql.Timestamp
    import graft.materialize.Microbatch
    val rnd = new Random(211)
    for (trial <- 1 to 2) {
      val t = s"default.micro_rand_${trial}_${System.nanoTime()}"
      // Random events across 5 days, some OUTSIDE the covered range.
      val rows = (1 to 80).map { i =>
        val day = rnd.nextInt(5) // day 0..4; range covers [1, 4)
        val ts = Timestamp.valueOf(f"2024-03-0${day + 1}%s " +
          f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")
        (i.toLong, ts, rnd.nextInt(100))
      }
      val src = rows.toDF("id", "ts", "v")
      val begin = Timestamp.valueOf("2024-03-02 00:00:00")
      val end = Timestamp.valueOf("2024-03-04 00:00:00")
      val n = Microbatch.run(spark, t, src, "ts", begin, end, "day")
      assert(n === 2, s"trial=$trial expected 2 daily batches")
      val want = rows.filter(r => !r._2.before(begin) && r._2.before(end))
        .map(r => (r._1, r._3, r._2.toLocalDateTime.toLocalDate.toString))
        .sorted
      def contents() = spark.table(t)
        .selectExpr("id", "v", "CAST(batch_start AS STRING)")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq.sorted
      assert(contents() === want, s"trial=$trial split")
      // Retry a random covered window from the SAME source: idempotent.
      val day = 2 + rnd.nextInt(2) // day 2 or 3
      Microbatch.run(spark, t, src, "ts",
        Timestamp.valueOf(f"2024-03-0$day%s 00:00:00"),
        Timestamp.valueOf(f"2024-03-0${day + 1}%s 00:00:00"), "day")
      assert(contents() === want, s"trial=$trial retry changed contents")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("microbatch: period alignment across all four granularities equals a window model") {
    // The month/year truncation paths (withDayOfMonth/withDayOfYear) had
    // no coverage before this: random mid-period [begin, end) ranges per
    // granularity, checked against a plain-Scala period model. Pins the
    // contract corners: a mid-period begin processes its FULL period
    // (rows before `begin` but inside its period ARE included), the run
    // covers whole periods until `end` (rows past `end` inside the last
    // period included), out-of-range rows excluded, batch identity =
    // the truncated period start (DATE for day+, TIMESTAMP for hourly).
    import java.sql.Timestamp
    import java.time.LocalDateTime
    import java.time.temporal.ChronoUnit
    import graft.materialize.Microbatch
    val rnd = new Random(1553)
    val base = LocalDateTime.of(2023, 1, 1, 0, 0, 0)
    val cases = Seq(
      ("hour", ChronoUnit.HOURS, 6, 80 * 60),     // events across ~3.3 days
      ("day", ChronoUnit.DAYS, 5, 20 * 1440),     // ~20 days
      ("month", ChronoUnit.MONTHS, 4, 200 * 1440), // ~6.5 months
      ("year", ChronoUnit.YEARS, 2, 1100 * 1440))  // ~3 years
    for (((unit, chrono, maxSpan, spanMinutes), ci) <- cases.zipWithIndex) {
      val t = s"default.micro_align_${ci}_${System.nanoTime()}"
      def trunc(c: LocalDateTime): LocalDateTime = unit match {
        case "hour" => c.truncatedTo(ChronoUnit.HOURS)
        case "day" => c.truncatedTo(ChronoUnit.DAYS)
        case "month" => c.truncatedTo(ChronoUnit.DAYS).withDayOfMonth(1)
        case _ => c.truncatedTo(ChronoUnit.DAYS).withDayOfYear(1)
      }
      val rows = (1 to 60).map { i =>
        (i.toLong, Timestamp.valueOf(
          base.plusMinutes(rnd.nextInt(spanMinutes).toLong)), rnd.nextInt(100))
      }
      val beginLdt = base.plusMinutes(rnd.nextInt(spanMinutes / 2).toLong)
      val endLdt = beginLdt.plus(1 + rnd.nextInt(maxSpan).toLong, chrono)
        .plusMinutes(rnd.nextInt(spanMinutes / 8).toLong) // mid-period end
      val n = Microbatch.run(spark, t, rows.toDF("id", "ts", "v"), "ts",
        Timestamp.valueOf(beginLdt), Timestamp.valueOf(endLdt), unit)
      // Model: whole periods from trunc(begin) until end is covered.
      var cursor = trunc(beginLdt)
      var periods = 0
      while (cursor.isBefore(endLdt)) { periods += 1; cursor = cursor.plus(1, chrono) }
      assert(n === periods, s"$unit window count")
      val lo = trunc(beginLdt)
      val want = rows.filter { case (_, ts, _) =>
        val l = ts.toLocalDateTime
        !l.isBefore(lo) && l.isBefore(cursor) // cursor = last period's END
      }.map { case (id, ts, v) =>
        val p = trunc(ts.toLocalDateTime)
        val bs = if (unit == "hour")
          Timestamp.valueOf(p).toString.stripSuffix(".0")
        else p.toLocalDate.toString
        (id, v, bs)
      }.sorted
      val got = spark.table(t)
        .selectExpr("id", "v", "CAST(batch_start AS STRING)")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq.sorted
      assert(got === want, s"$unit alignment")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("merge: equals a plain-Scala MERGE reference over random configs") {
    import graft.materialize.MergeOps
    val rnd = new Random(271)
    def randRow(keySpace: Int): (Option[Long], Option[Long], Option[String]) = (
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(keySpace).toLong),
      if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(50).toLong),
      if (rnd.nextInt(6) == 0) None else Some(s"v${rnd.nextInt(5)}"))
    (1 to 12).foreach { trial =>
      val keySpace = 5 + rnd.nextInt(20)
      // Target: random rows, possibly with duplicate and null keys (a
      // MERGE target with duplicate keys legally updates each copy; the
      // guard counts SOURCE duplicates only).
      val target = Seq.fill(5 + rnd.nextInt(30))(randRow(keySpace))
      // Source: at most ONE row per non-null key that exists in the
      // target (else merge correctly raises — pinned example-side);
      // duplicate keys among strictly-new keys are legal inserts, and
      // null-key source rows always insert.
      val tgtKeys = target.flatMap(_._1).toSet
      val raw = Seq.fill(5 + rnd.nextInt(30))(randRow(keySpace))
      val source = raw
        .groupBy(_._1)
        .flatMap { case (k, rows) =>
          if (k.exists(tgtKeys.contains)) rows.take(1) else rows
        }.toSeq
      val upd: Seq[String] = rnd.nextInt(3) match {
        case 0 => Nil // default: every non-key column
        case 1 => Seq("a")
        case _ => Seq("a", "b")
      }
      val excl: Seq[String] = if (rnd.nextBoolean()) Seq("b") else Nil
      val usePred = rnd.nextBoolean()
      val pred =
        if (usePred) Some(MergeOps.src("a") > MergeOps.tgt("a")) else None

      val got = MergeOps.merge(
          target.toDF("k", "a", "b"), source.toDF("k", "a", "b"),
          keys = Seq("k"), updateColumns = upd, excludeColumns = excl,
          matchedPredicate = pred)
        .as[(Option[Long], Option[Long], Option[String])]
        .collect().toSeq.sortBy(_.toString)

      // Plain-Scala reference of the documented semantics.
      val updatable = (if (upd.nonEmpty) upd.toSet else Set("a", "b")) --
        excl - "k"
      def fires(t: (Option[Long], Option[Long], Option[String]),
          s: (Option[Long], Option[Long], Option[String])): Boolean =
        !usePred || ((s._2, t._2) match {
          case (Some(sa), (Some(ta))) => sa > ta // SQL: null > x is null ⇒ no fire
          case _ => false
        })
      val updated = target.map { tr =>
        val ms = tr._1.toSeq.flatMap(k =>
          source.filter(_._1.contains(k)))
        ms match {
          case Seq() => tr
          case Seq(sr) =>
            val f = fires(tr, sr)
            (tr._1,
              if (updatable("a") && f) sr._2 else tr._2,
              if (updatable("b") && f) sr._3 else tr._3)
          case _ => fail(s"trial=$trial generator produced a matched dup")
        }
      }
      val inserts = source.filter(sr => !sr._1.exists(tgtKeys.contains))
      val want = (updated ++ inserts).sortBy(_.toString)
      assert(got === want,
        s"trial=$trial upd=$upd excl=$excl pred=$usePred")
    }
  }

  test("SCD2 snapshot: multi-run history equals a plain-Scala state machine") {
    import java.sql.Timestamp
    import graft.materialize.{HardDeletes, SnapshotConfig, SnapshotMaterialization, SnapshotStrategy}
    val rnd = new Random(1013)
    // Model version: (key, a, b, validFromMs, validToMs(None=open), deleted)
    case class V(k: Long, a: Option[Long], b: Option[String],
        from: Long, to: Option[Long], del: Boolean)
    val sentinel = Timestamp.valueOf("9999-12-31 00:00:00")
    val modes = Seq(HardDeletes.Ignore, HardDeletes.Invalidate,
      HardDeletes.NewRecord)
    (1 to 12).foreach { trial =>
      val mode = modes((trial - 1) % 3)
      val useSentinel = ((trial - 1) / 3) % 2 == 1
      // Trials 7-12 run the history-PARTITIONED variant (the
      // O(current + churn) scale path — change detection reads only the
      // open partition); same model, same invariants.
      val usePartition = trial > 6
      val cfgBase = SnapshotConfig(keys = Seq("k"),
        strategy = SnapshotStrategy.ByCheckAll, hardDeletes = mode,
        partitionHistory = usePartition,
        validToCurrent = if (useSentinel) Some(sentinel) else None)
      val t = s"default.rs_scd2_${trial}"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val keySpace = 4 + rnd.nextInt(8)
      var state = Vector.empty[V]
      // Per-key sticky values so "unchanged" rows actually recur.
      val sticky = scala.collection.mutable.Map.empty[Long, (Option[Long], Option[String])]
      def randVals(): (Option[Long], Option[String]) = (
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(5).toLong),
        if (rnd.nextInt(6) == 0) None else Some(s"s${rnd.nextInt(3)}"))
      (1 to 4).foreach { run =>
        val now = 86400000L * run // day `run` since epoch, strictly increasing
        // Random source batch: unique keys; each key keeps its sticky
        // values (no change) or rolls new ones (a change).
        val src: Map[Long, (Option[Long], Option[String])] =
          (0 until keySpace).filter(_ => rnd.nextBoolean()).map { k =>
            val vals =
              if (rnd.nextBoolean()) sticky.getOrElseUpdate(k.toLong, randVals())
              else { val v = randVals(); sticky(k.toLong) = v; v }
            k.toLong -> vals
          }.toMap
        val cfg = cfgBase.copy(clock = () => new Timestamp(now))
        val srcDf = src.toSeq.map { case (k, (a, b)) => (k, a, b) }
          .toDF("k", "a", "b")
        SnapshotMaterialization.run(spark, t, srcDf, cfg)
        // ----- reference state machine (dbt SCD2 semantics) -----
        if (state.isEmpty && run == 1) {
          state = src.toVector.map { case (k, (a, b)) =>
            V(k, a, b, now, None, del = false) }
        } else {
          val opens = state.filter(_.to.isEmpty).map(v => v.k -> v).toMap
          var next = state
          def close(v: V): Unit =
            next = next.map(x => if (x eq v) x.copy(to = Some(now)) else x)
          src.foreach { case (k, (a, b)) =>
            opens.get(k) match {
              case None =>
                next = next :+ V(k, a, b, now, None, del = false)
              case Some(o) =>
                val changed = o.a != a || o.b != b ||
                  (mode == HardDeletes.NewRecord && o.del)
                if (changed) {
                  close(o)
                  next = next :+ V(k, a, b, now, None, del = false)
                }
            }
          }
          opens.values.filterNot(o => src.contains(o.k)).foreach { o =>
            mode match {
              case HardDeletes.Ignore =>
              case HardDeletes.Invalidate => close(o)
              case HardDeletes.NewRecord => if (!o.del) {
                close(o)
                next = next :+ V(o.k, o.a, o.b, now, None, del = true)
              }
            }
          }
          state = next
        }
        // ----- compare the full history -----
        val hasDel = mode == HardDeletes.NewRecord
        val rows = spark.table(t).collect().map { r =>
          val validTo = Option(r.getAs[Timestamp]("dbt_valid_to"))
            .filterNot(ts => useSentinel && ts == sentinel).map(_.getTime)
          V(r.getAs[Long]("k"),
            Option(r.getAs[java.lang.Long]("a")).map(_.longValue),
            Option(r.getAs[String]("b")),
            r.getAs[Timestamp]("dbt_valid_from").getTime, validTo,
            hasDel && r.getAs[String]("dbt_is_deleted") == "True")
        }.toVector
        val sortKey = (v: V) => v.toString
        assert(rows.sortBy(sortKey) === state.sortBy(sortKey),
          s"trial=$trial mode=$mode sentinel=$useSentinel run=$run")
        // scd_id integrity: unique and non-null across the whole history.
        val ids = spark.table(t).select("dbt_scd_id").collect().map(_.getString(0))
        assert(ids.forall(_ != null) && ids.distinct.length == ids.length,
          s"trial=$trial run=$run scd_id not unique")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("SCD2 ByTimestamp: stale rows never apply; history equals the reference") {
    import java.sql.Timestamp
    import graft.materialize.{HardDeletes, SnapshotConfig, SnapshotMaterialization, SnapshotStrategy}
    val rnd = new Random(1621)
    // Model: (key, a, updatedAtMs, validFromMs, validToMs(None=open))
    case class V(k: Long, a: Option[Long], upd: Long, from: Long, to: Option[Long])
    val day = 86400000L
    (1 to 4).foreach { trial =>
      val mode = if (trial % 2 == 0) HardDeletes.Invalidate else HardDeletes.Ignore
      val t = s"default.rs_scd2_ts_$trial"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val keySpace = 4 + rnd.nextInt(6)
      var state = Vector.empty[V]
      (1 to 4).foreach { run =>
        val now = day * 100 * run // snapshot clock, far above any updated_at
        // updated_at is a random day up to `run` — so some arriving rows
        // are STALE (updated_at <= the stored version's) and must NOT
        // create a new version, even when values differ.
        val src: Map[Long, (Option[Long], Long)] =
          (0 until keySpace).filter(_ => rnd.nextBoolean()).map { k =>
            k.toLong -> (
              (if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4).toLong)),
              day * (1 + rnd.nextInt(4 * run)))
          }.toMap
        val cfg = SnapshotConfig(keys = Seq("k"),
          strategy = SnapshotStrategy.ByTimestamp("updated_at"),
          hardDeletes = mode, clock = () => new Timestamp(now))
        val srcDf = src.toSeq
          .map { case (k, (a, u)) => (k, a, new Timestamp(u)) }
          .toDF("k", "a", "updated_at")
        SnapshotMaterialization.run(spark, t, srcDf, cfg)
        // ----- reference -----
        if (state.isEmpty && run == 1) {
          state = src.toVector.map { case (k, (a, u)) => V(k, a, u, u, None) }
        } else {
          val opens = state.filter(_.to.isEmpty).map(v => v.k -> v).toMap
          var next = state
          src.foreach { case (k, (a, u)) =>
            opens.get(k) match {
              case None =>
                next = next :+ V(k, a, u, u, None)
              case Some(o) if u > o.upd =>
                // New version opens AND the old closes at the ROW's
                // updated_at, not the snapshot clock.
                next = next.map(x =>
                  if (x eq o) x.copy(to = Some(u)) else x) :+ V(k, a, u, u, None)
              case Some(_) => // stale or equal timestamp: no change
            }
          }
          if (mode == HardDeletes.Invalidate)
            opens.values.filterNot(o => src.contains(o.k)).foreach { o =>
              next = next.map(x =>
                if (x eq o) x.copy(to = Some(now)) else x) // clock closes deletes
            }
          state = next
        }
        val rows = spark.table(t).collect().map { r =>
          V(r.getAs[Long]("k"),
            Option(r.getAs[java.lang.Long]("a")).map(_.longValue),
            r.getAs[Timestamp]("updated_at").getTime,
            r.getAs[Timestamp]("dbt_valid_from").getTime,
            Option(r.getAs[Timestamp]("dbt_valid_to")).map(_.getTime))
        }.toVector
        val sortKey = (v: V) => v.toString
        assert(rows.sortBy(sortKey) === state.sortBy(sortKey),
          s"trial=$trial mode=$mode run=$run")
        // dbt_updated_at must mirror the row's own updated_at under
        // ByTimestamp (it IS the strategy's comparison column).
        val mism = spark.table(t)
          .filter(col("dbt_updated_at") =!= col("updated_at")).count()
        assert(mism === 0, s"trial=$trial run=$run dbt_updated_at drift")
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("insert_overwrite: multi-run partition replacement equals a map reference") {
    import graft.materialize.{IncrementalConfig, IncrementalMaterialization, IncrementalStrategy}
    val rnd = new Random(1511)
    // Model: partition value (None = the null partition) -> rows. Each run
    // replaces EXACTLY the partitions present in the batch (dynamic mode,
    // strategies.sql:1-19); every other partition survives untouched.
    (1 to 3).foreach { trial =>
      val t = s"default.rs_iow_$trial"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val parts: Seq[Option[String]] =
        (0 until 4).map(i => Some(s"p$i")) :+ None
      var state = Map.empty[Option[String], Seq[(Long, Long)]]
      val cfg = IncrementalConfig(IncrementalStrategy.InsertOverwrite,
        partitionBy = Seq("p"))
      (1 to 4).foreach { run =>
        // Random batch over a random non-empty subset of partitions;
        // occasionally an empty-batch run (must be a no-op past run 1).
        val touched = parts.filter(_ => rnd.nextBoolean()) match {
          case Nil => Seq(parts(rnd.nextInt(parts.size)))
          case ps  => ps
        }
        val emptyRun = run > 1 && rnd.nextInt(6) == 0
        val rows =
          if (emptyRun) Nil
          else touched.flatMap { p =>
            (1 to 1 + rnd.nextInt(5)).map(_ =>
              (rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong, p))
          }
        val batch = rows.map { case (id, v, p) => (id, v, p.orNull) }
          .toDF("id", "v", "p")
        IncrementalMaterialization.run(spark, t, batch, cfg)
        state =
          if (run == 1) rows.groupBy(_._3).view
            .mapValues(_.map(r => (r._1, r._2))).toMap
          else state ++ rows.groupBy(_._3).view
            .mapValues(_.map(r => (r._1, r._2))).toMap
        val got = spark.table(t).collect()
          .map(r => (Option(r.getAs[String]("p")),
            (r.getAs[Long]("id"), r.getAs[Long]("v"))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
        val want = state.view.mapValues(_.sorted).toMap
          .filter(_._2.nonEmpty)
        assert(got === want, s"trial=$trial run=$run touched=$touched")
      }
      spark.sql(s"DROP TABLE $t")
      // Unpartitioned target: every run is a whole-table replacement.
      val tu = s"default.rs_iow_flat_$trial"
      spark.sql(s"DROP TABLE IF EXISTS $tu")
      var last = Seq.empty[(Long, Long)]
      (1 to 3).foreach { run =>
        last = (1 to 1 + rnd.nextInt(8))
          .map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong))
        IncrementalMaterialization.run(spark, tu, last.toDF("id", "v"),
          IncrementalConfig(IncrementalStrategy.InsertOverwrite))
        val got = spark.table(tu).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        assert(got === last.sorted, s"trial=$trial flat run=$run")
      }
      spark.sql(s"DROP TABLE $tu")
    }
  }

  test("schema evolution: policies equal a column-set reference over random batches") {
    import graft.materialize.{IncrementalConfig, IncrementalMaterialization, IncrementalStrategy, SchemaChangePolicy}
    val rnd = new Random(1733)
    // Column pool beyond the key; random batches carry a random subset.
    // Policy semantics under append (incremental.sql + adapters.sql:17-26):
    //   Ignore  — incoming extras dropped, missing dest columns null-filled;
    //   Append/Sync — extras ALTER TABLE ADD COLUMNS'd (sync never drops:
    //   dropping is rejected on every reference platform), prior rows null.
    val pool = Seq("c1", "c2", "c3")
    val policies = Seq(SchemaChangePolicy.Ignore,
      SchemaChangePolicy.AppendNewColumns, SchemaChangePolicy.SyncAllColumns)
    (1 to 6).foreach { trial =>
      val policy = policies((trial - 1) % 3)
      val t = s"default.rs_sevo_$trial"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // Expected table: column order (id + first-seen order of adds) and
      // row contents as maps (None = null).
      var tableCols = Seq.empty[String]
      var rows = Seq.empty[Map[String, Option[Long]]]
      var nextId = 0L
      (1 to 5).foreach { run =>
        val batchCols = "id" +: pool.filter(_ => rnd.nextBoolean())
        val batch = (1 to 1 + rnd.nextInt(6)).map { _ =>
          nextId += 1
          ("id" -> nextId) +: pool.map(c => c -> (100 * nextId + rnd.nextInt(9)))
        }
        val df = batch.map(r => (r(0)._2, r(1)._2, r(2)._2, r(3)._2))
          .toDF("id", "c1", "c2", "c3")
          .select(batchCols.map(col): _*)
        IncrementalMaterialization.run(spark, t, df,
          IncrementalConfig(IncrementalStrategy.Append, onSchemaChange = policy))
        if (run == 1) tableCols = batchCols
        else policy match {
          case SchemaChangePolicy.Ignore => ()
          case _ => tableCols = tableCols ++ batchCols.filterNot(tableCols.contains)
        }
        rows = rows ++ batch.map { r =>
          val m = r.toMap
          tableCols.map(c =>
            c -> (if (batchCols.contains(c)) Some(m(c)) else None)).toMap
        }
        // Old rows never gain values for later-added columns.
        rows = rows.map(m => tableCols.map(c => c -> m.getOrElse(c, None)).toMap)
        assert(spark.table(t).columns.toSeq === tableCols,
          s"trial=$trial run=$run policy=$policy cols")
        val got = spark.table(t).collect().map { r =>
          tableCols.map(c =>
            c -> Option(r.getAs[java.lang.Long](c)).map(_.longValue)).toMap
        }.toSeq.sortBy(_("id"))
        assert(got === rows.sortBy(_("id")),
          s"trial=$trial run=$run policy=$policy")
      }
      spark.sql(s"DROP TABLE $t")
    }
    // Fail policy: any add OR removal raises; an identical schema appends.
    val t = "default.rs_sevo_fail"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val cfgFail = IncrementalConfig(IncrementalStrategy.Append,
      onSchemaChange = SchemaChangePolicy.Fail)
    IncrementalMaterialization.run(spark, t,
      Seq((1L, 10L)).toDF("id", "c1"), cfgFail)
    IncrementalMaterialization.run(spark, t,
      Seq((2L, 20L)).toDF("id", "c1"), cfgFail)
    assert(spark.table(t).count() === 2)
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t,
        Seq((3L, 30L, 7L)).toDF("id", "c1", "c2"), cfgFail)
    }
    intercept[IllegalStateException] {
      IncrementalMaterialization.run(spark, t, Seq(Tuple1(4L)).toDF("id"), cfgFail)
    }
    assert(spark.table(t).count() === 2, "failed runs must not write")
    spark.sql(s"DROP TABLE $t")
  }

  test("knn brute/filtered/range: equal a widened-double cosine reference") {
    import graft.similarity.Knn
    GraftFunctions.register(spark)
    val rnd = new Random(7529)
    def cosRef(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    (1 to 3).foreach { trial =>
      val dim = 4 + rnd.nextInt(5)
      val k = 1 + rnd.nextInt(4)
      val corpus = (1 to 60).map { i =>
        val v =
          if (rnd.nextInt(15) == 0) Array.fill(dim)(0.0f) // degenerate: cos 0
          else Array.fill(dim)(rnd.nextFloat() * 2 - 1)
        (i.toLong, v, if (rnd.nextBoolean()) "red" else "blue")
      }
      val queries = corpus.take(8).map { case (id, v, _) => (id, v) }
      val cdf = corpus.toDF("vec_id", "vec", "label")
      val qdf = queries.toDF("vec_id", "vec")
      // Reference: per query, neighbors (self excluded) by
      // (cosine desc, id asc), exactly the topK window's total order.
      def wantTopK(pool: Seq[(Long, Array[Float])]): Map[(Long, Int), Long] =
        queries.flatMap { case (qid, qv) =>
          pool.filter(_._1 != qid)
            .map { case (nid, nv) => (nid, cosRef(qv, nv)) }
            .sortBy { case (nid, c) => (-c, nid) }.take(k).zipWithIndex
            .map { case ((nid, _), r) => (qid, r + 1) -> nid }
        }.toMap
      val gotB = Knn.bruteForceTopK(qdf, cdf, "vec_id", "vec", k)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
      assert(gotB === wantTopK(corpus.map(c => (c._1, c._2))),
        s"trial=$trial brute k=$k dim=$dim")
      // Filtered: PRE-filter semantics — ranks computed over the red
      // subset only (post-filtering a plain top-k would return fewer).
      val gotF = Knn.filteredTopK(qdf, cdf, "vec_id", "vec", k,
        col("label") === "red")
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
      assert(gotF === wantTopK(corpus.filter(_._3 == "red")
        .map(c => (c._1, c._2))), s"trial=$trial filtered")
      // Range: exact threshold membership, self excluded.
      val minCos = rnd.nextDouble() * 0.6
      val gotR = Knn.rangeSearch(qdf, cdf, "vec_id", "vec", minCos)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantR = (for {
        (qid, qv) <- queries
        (nid, nv, _) <- corpus
        if nid != qid && cosRef(qv, nv) >= minCos
      } yield (qid, nid)).toSet
      assert(gotR === wantR, s"trial=$trial range minCos=$minCos")
    }
  }

  test("keepBest: quality-argmax winner per group equals a sort-based reference") {
    val rnd = new Random(7121)
    (1 to 5).foreach { trial =>
      // Dup-heavy (a, b) content groups (nulls included in identity);
      // score (quality desc, then -id so final ties prefer the SMALLER id
      // — the total-order discipline the scaladoc prescribes).
      val rows = (1 to 150).map { i =>
        (i.toLong,
          if (rnd.nextInt(5) == 0) null else s"a${rnd.nextInt(5)}",
          if (rnd.nextInt(5) == 0) null else s"b${rnd.nextInt(3)}",
          rnd.nextInt(4).toLong)
      }
      val got = Dedup.keepBest(rows.toDF("id", "a", "b", "q"),
        Seq("a", "b"), Seq(col("q"), -col("id")))
        .select("id").as[Long].collect().toSet
      val want = rows.groupBy(r => (r._2, r._3)).values
        .map(_.maxBy(r => (r._4, -r._1))).map(_._1).toSet
      assert(got === want, s"trial=$trial")
    }
  }

  test("decontamination: hits, fractions, and the clean set equal brute force") {
    import graft.text.Decontamination
    val rnd = new Random(6841)
    val vocab = Vector("q0", "q1", "q2", "q3", "q4", "q5")
    def sh(t: String, n: Int): Set[String] = {
      val toks = Option(t).getOrElse("").trim.split("\\s+").toSeq
      (if (toks.length <= n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq).toSet - ""
    }
    for (trial <- 1 to 3) {
      val n = 2 + rnd.nextInt(2)
      val minHits = 1 + rnd.nextInt(3)
      def doc(): String = rnd.nextInt(10) match {
        case 0 => ""          // blank: no meaningful grams, never scored
        case 1 => "   "       // whitespace-only: same
        case 2 => vocab(rnd.nextInt(vocab.size)) // single word: whole-text gram
        case _ => Seq.fill(2 + rnd.nextInt(10))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val corpus = (1 to 50).map(i => (i.toLong, doc()))
      val bench = (1 to 10).map(i => (i.toLong, doc())) ++
        corpus.slice(5, 10).map { case (i, t) => (100 + i, t) } // planted leaks
      val cdf = corpus.toDF("id", "text")
      val bdf = bench.map(_._2).map(Tuple1(_)).toDF("btext")
      val benchSet = bench.flatMap(b => sh(b._2, n)).toSet
      val hits = corpus.map { case (id, t) =>
        id -> (sh(t, n).size.toLong, (sh(t, n) & benchSet).size.toLong) }.toMap
      // contaminated: n_hits >= minHits only.
      val gotC = Decontamination.contaminated(cdf, bdf, "id", "text", "btext",
        n, minHits).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotC === hits.collect {
        case (id, (_, h)) if h >= minHits => id -> h }, s"trial=$trial hits")
      // score: every doc with >= 1 gram, zero hits included, frac rounded
      // half-up to 6 dp.
      val gotS = Decontamination.contaminationScore(cdf, bdf, "id", "text",
        "btext", n).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      val wantS = hits.collect { case (id, (g, h)) if g > 0 =>
        id -> (g, h, BigDecimal(h.toDouble / g)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      assert(gotS === wantS, s"trial=$trial score n=$n")
      // decontaminate: exactly the sub-threshold rows survive.
      assert(Decontamination.decontaminate(cdf, bdf, "id", "text", "btext",
        n, minHits).select("id").as[Long].collect().toSet ===
        corpus.map(_._1).filterNot(id => hits(id)._2 >= minHits).toSet,
        s"trial=$trial clean")
    }
  }

  test("ngram jaccard pairs: equals brute-force set similarity at every threshold") {
    // PPJoin prefix + position + size-ratio filters are COMPLETENESS-
    // preserving and verification is exact, so the operator's pair set
    // (and each pair's jaccard) must EQUAL brute force over the shingle
    // sets — including pairs landing exactly ON the threshold, the
    // boundary the epsilon guards exist for.
    val rnd = new Random(6427)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def sh(t: String, n: Int): Set[String] = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.length <= n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq).toSet
    }
    for ((n, tau) <- Seq((3, 0.8), (2, 0.6), (3, 0.5))) {
      def doc(): String =
        Seq.fill(1 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bases = (1 to 30).map(_ => doc())
      // Exact dups, one-word-appended near dups (J often exactly on a
      // sz/(sz+1)-style boundary), fresh docs.
      val texts = bases ++ bases.take(6) ++
        bases.slice(6, 14).map(_ + " " + vocab(rnd.nextInt(vocab.size))) ++
        (1 to 8).map(_ => doc())
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val groups = docs.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      val within = groups.filter(_.size > 1).flatMap(g =>
        g.combinations(2).map { case Seq(a, b) => (a, b, 1.0) })
      val reps = groups.map(g => g.min -> docs.find(d => d._1 == g.min).get._2)
      val cross = (for {
        Seq((ra, ta), (rb, tb)) <- reps.sortBy(_._1).combinations(2)
        if ta != tb
        inter = (sh(ta, n) & sh(tb, n)).size
        union = (sh(ta, n) ++ sh(tb, n)).size
        j = inter.toDouble / union
        if union > 0 && j >= tau
        ga = groups.find(_.contains(ra)).get
        gb = groups.find(_.contains(rb)).get
        a <- ga; b <- gb
      } yield (math.min(a, b), math.max(a, b), j)).toSeq
      val want = (within ++ cross).toSet
      val got = graft.dedup.Dedup.ngramJaccardPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", n, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want,
        s"n=$n tau=$tau missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("simhash pairs: equals brute force over signatures (pigeonhole recall)") {
    // With 4 × 16-bit bands, ANY pair within Hamming distance 3 shares a
    // band (pigeonhole) — so at the default maxDist = 3 and uncapped
    // buckets the operator's pair set must EQUAL the brute-force set over
    // the docs' signatures: within-group squares for exact dups (hamming
    // 0) plus all cross-content pairs at sig distance ≤ 3. This pins the
    // collapse → band → bucket-join → fan-out machinery, not the kernel
    // (the signature is read back through the SAME expression).
    GraftFunctions.register(spark)
    val rnd = new Random(6007)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (1 to 3).foreach { trial =>
      def doc(): String =
        Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bases = (1 to 25).map(_ => doc())
      // Exact dup groups + one-word edits (near in sig space, sometimes
      // within distance 3) + fresh docs.
      val texts = bases ++ bases.take(8) ++ bases.take(4) ++
        bases.slice(8, 16).map { t =>
          val ws = t.split(" "); ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
          ws.mkString(" ")
        } ++ (1 to 10).map(_ => doc())
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val sigs = df.select(col("doc_id"),
        GraftFunctions.simhash64(split(trim(col("text")), "\\s+")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
      val groups = docs.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      val within = groups.filter(_.size > 1).flatMap(g =>
        g.combinations(2).map { case Seq(a, b) => (a, b, 0) })
      val reps = groups.map(_.min)
      val cross = (for {
        Seq(ra, rb) <- reps.sorted.combinations(2)
        d = hamming(sigs(ra), sigs(rb))
        if d <= 3 && d > 0
        ga = groups.find(_.contains(ra)).get
        gb = groups.find(_.contains(rb)).get
        a <- ga; b <- gb
      } yield (math.min(a, b), math.max(a, b), d)).toSeq
      // Distinct texts CAN collide at hamming 0 (sig space, not text
      // space): those cross pairs carry d = 0 and the operator reports
      // them too — include them via a d == 0 branch on distinct content.
      val cross0 = (for {
        Seq(ra, rb) <- reps.sorted.combinations(2)
        if hamming(sigs(ra), sigs(rb)) == 0
        ga = groups.find(_.contains(ra)).get
        gb = groups.find(_.contains(rb)).get
        a <- ga; b <- gb
      } yield (math.min(a, b), math.max(a, b), 0)).toSeq
      val want = (within ++ cross ++ cross0).toSet
      val got = graft.dedup.Dedup.simhashNearDupPairs(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.get(2).asInstanceOf[Number].intValue)).toSet
      assert(got === want,
        s"trial=$trial missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("samplers: hash/weighted/mixture/rebalance equal the md5 membership reference") {
    val rnd = new Random(5003)
    def bucket(key: String, salt: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$key:$salt".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    def thr(f: Double): Long = math.round(f * Sampling.Space)
    (1 to 4).foreach { trial =>
      val salt = rnd.nextLong()
      val rows = (1 to 300).map { i =>
        (i.toLong, s"g${rnd.nextInt(4)}",
          rnd.nextInt(5) match {
            case 0 => null.asInstanceOf[java.lang.Double] // null weight drops
            case 1 => java.lang.Double.valueOf(0.0)
            case 2 => java.lang.Double.valueOf(1.0)
            case _ => java.lang.Double.valueOf(rnd.nextDouble())
          })
      }
      val df = rows.toDF("id", "g", "w")
      // hashSample: bucket < threshold(fraction), exact membership.
      val f = rnd.nextDouble()
      assert(Sampling.hashSample(df, "id", f, salt)
        .select("id").as[Long].collect().toSet ===
        rows.filter(r => bucket(r._1.toString, salt) < thr(f)).map(_._1).toSet,
        s"trial=$trial hashSample f=$f")
      // weightedSample: per-row acceptance ∝ weight; null/0 drop, 1 keeps.
      val gotW = Sampling.weightedSample(df, "id", "w", salt)
        .select("id").as[Long].collect().toSet
      val wantW = rows.filter { r =>
        val w = Option(r._3).map(_.doubleValue).getOrElse(0.0)
        bucket(r._1.toString, salt) < math.round(w * Sampling.Space)
      }.map(_._1).toSet
      assert(gotW === wantW, s"trial=$trial weightedSample")
      assert(rows.filter(r => r._3 != null && r._3.doubleValue == 1.0)
        .forall(r => gotW(r._1)), s"trial=$trial weight-1 must keep")
      // mixture: per-group rates with a default for unlisted groups.
      val rates = Map("g0" -> rnd.nextDouble(), "g2" -> rnd.nextDouble())
      val dflt = rnd.nextDouble()
      assert(Sampling.mixture(df, "id", "g", rates, dflt, salt)
        .select("id").as[Long].collect().toSet ===
        rows.filter(r => bucket(r._1.toString, salt) <
          thr(rates.getOrElse(r._2, dflt))).map(_._1).toSet,
        s"trial=$trial mixture rates=$rates dflt=$dflt")
      // rebalance: replay the documented three-step derivation exactly —
      // S = min_c floor(n_c / share_c), rate_c = S*share_c / n_c, then
      // md5 membership; untargeted classes drop entirely.
      val sharesRaw = Seq("g0" -> (0.2 + rnd.nextDouble()),
        "g1" -> (0.2 + rnd.nextDouble()), "g3" -> (0.2 + rnd.nextDouble()))
      val tot = sharesRaw.map(_._2).sum
      val shares = sharesRaw.map { case (c, s) => c -> s / tot }.toMap
      val counts = rows.filter(r => shares.contains(r._2))
        .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val s = shares.map { case (c, sh) =>
        math.floor(counts(c) / sh).toLong }.min
      val wantR = rows.filter { r =>
        shares.get(r._2).exists { sh =>
          val rate = math.min(s * sh / counts(r._2), 1.0)
          bucket(r._1.toString, salt) < thr(rate)
        }
      }.map(_._1).toSet
      assert(Sampling.rebalance(df, "id", "g", shares, salt)
        .select("id").as[Long].collect().toSet === wantR,
        s"trial=$trial rebalance shares=$shares")
    }
    // rebalance refuses a targeted class with zero rows.
    intercept[IllegalArgumentException] {
      Sampling.rebalance(Seq((1L, "a")).toDF("id", "g"), "id", "g",
        Map("a" -> 0.5, "ghost" -> 0.5))
    }
  }

  test("stratified: exact-k per group equals the md5-order reference") {
    val rnd = new Random(4201)
    def bucket(key: Long, salt: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$key:$salt".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    (1 to 4).foreach { trial =>
      val k = 1 + rnd.nextInt(5)
      val salt = rnd.nextLong()
      val rows = (1 to 60 + rnd.nextInt(100)).map(i =>
        (i.toLong, s"g${rnd.nextInt(4)}", rnd.nextInt(100)))
      val got = Sampling.stratified(rows.toDF("id", "g", "v"), "id", "g", k,
        salt).select("id").as[Long].collect().toSet
      // Reference: per group the k keys smallest by (bucket, key).
      val want = rows.groupBy(_._2).values.flatMap(grp =>
        grp.map(_._1).sortBy(id => (bucket(id, salt), id)).take(k)).toSet
      assert(got === want, s"trial=$trial k=$k")
      // Exactly min(k, |group|) members per group, and a different salt
      // moves at least one selection at this n.
      val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val gotByG = rows.filter(r => got(r._1)).groupBy(_._2).view
        .mapValues(_.size).toMap
      sizes.foreach { case (g, n) =>
        assert(gotByG.getOrElse(g, 0) === math.min(k, n), s"trial=$trial g=$g") }
      val other = Sampling.stratified(rows.toDF("id", "g", "v"), "id", "g", k,
        salt + 1).select("id").as[Long].collect().toSet
      assert(got !== other, s"trial=$trial salt-insensitive")
    }
  }

  test("salted aggregate and join: equal their unsalted twins on skewed data") {
    import graft.operators.Skew
    val rnd = new Random(4549)
    (1 to 3).foreach { trial =>
      val buckets = 2 + rnd.nextInt(7)
      // 60% of rows land on one hot key — the shape the salt exists for.
      val rows = (1 to 400).map { i =>
        val k = if (rnd.nextInt(5) < 3) "hot" else s"k${rnd.nextInt(6)}"
        (k, rnd.nextInt(50).toLong, i.toLong)
      }
      val df = rows.toDF("k", "v", "id")
      val got = Skew.saltedAggregate(df, Seq("k"), buckets,
        partials = Seq(count(lit(1)).as("c"), sum(col("v")).as("s")),
        finals = Seq(sum(col("c")).as("n"), sum(col("s")).as("total")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = rows.groupBy(_._1).view.mapValues(g =>
        (g.size.toLong, g.map(_._2).sum)).toMap
      assert(got === want, s"trial=$trial buckets=$buckets agg")
      // Salted join ≡ plain inner join, each matched pair exactly once.
      val right = (Seq("hot") ++ (0 until 6).map(i => s"k$i"))
        .filter(_ => rnd.nextBoolean()).map(k => (k, s"dim_$k"))
      val gotJ = Skew.saltedJoin(df, right.toDF("k", "d"), Seq("k"), buckets)
        .select("id", "d").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val rightMap = right.toMap
      val wantJ = rows.flatMap(r => rightMap.get(r._1).map(d => (r._3, d)))
        .sorted
      assert(gotJ === wantJ, s"trial=$trial buckets=$buckets join")
    }
  }

  test("snapshot diff: statuses equal a plain reference, separator-safe") {
    import graft.operators.SnapshotDiff
    val rnd = new Random(4801)
    (1 to 4).foreach { trial =>
      def content(): (String, String) =
        if (rnd.nextInt(8) == 0) ("ab", "c")       // vs ("a","bc") probe
        else if (rnd.nextInt(8) == 0) ("a", "bc")
        else (s"x${rnd.nextInt(4)}", if (rnd.nextInt(6) == 0) null else s"y${rnd.nextInt(3)}")
      val oldRows = (1 to 50).filter(_ => rnd.nextBoolean())
        .map(i => (i.toLong, content()))
      val curRows = (1 to 50).filter(_ => rnd.nextBoolean())
        .map(i => (i.toLong, content()))
      val got = SnapshotDiff.diff(
        oldRows.map { case (k, (a, b)) => (k, a, b) }.toDF("k", "a", "b"),
        curRows.map { case (k, (a, b)) => (k, a, b) }.toDF("k", "a", "b"),
        "k", Seq("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val o = oldRows.toMap
      val c = curRows.toMap
      // Reference replays the NUL-joined content identity (null → "").
      def ident(v: (String, String)) =
        s"${Option(v._1).getOrElse("")} ${Option(v._2).getOrElse("")}"
      val want = (o.keySet ++ c.keySet).map { k =>
        k -> ((o.get(k), c.get(k)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if ident(a) != ident(b) => "changed"
          case _ => "unchanged"
        })
      }.toMap
      assert(got === want, s"trial=$trial")
    }
  }

  test("generic tests: offenders and severity equal plain references") {
    import graft.quality.QualityChecks
    val rnd = new Random(3301)
    (1 to 6).foreach { trial =>
      // Dup-heavy, null-heavy child; parent overlaps child's fk space
      // partially so relationships has genuine orphans.
      val rows = (1 to 80).map { i =>
        (i.toLong,
          if (rnd.nextInt(4) == 0) null else s"v${rnd.nextInt(6)}",
          if (rnd.nextInt(5) == 0) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(rnd.nextInt(12).toLong),
          1L + rnd.nextInt(100))
      }
      val df = rows.toDF("id", "s", "fk", "fk_self")
      // not_null: exactly the null rows.
      assert(QualityChecks.notNull(df, "s").select("id").as[Long]
        .collect().toSet === rows.filter(_._2 == null).map(_._1).toSet,
        s"trial=$trial not_null")
      // unique: dbt-core contract — NON-NULL values occurring > once.
      val wantU = rows.filter(_._2 != null).groupBy(_._2)
        .collect { case (v, g) if g.size > 1 => v -> g.size.toLong }.toMap
      assert(QualityChecks.unique(df, "s").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap === wantU,
        s"trial=$trial unique")
      // accepted_values: distinct non-null values outside the list (null
      // is not_null's job — isin-negation drops the null group), counted.
      val allowed = (0 until 6).filter(_ => rnd.nextBoolean()).map(i => s"v$i")
      val wantAv = rows.filter(r => r._2 != null && !allowed.contains(r._2))
        .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(QualityChecks.acceptedValues(df, "s", allowed).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap === wantAv,
        s"trial=$trial accepted_values allowed=$allowed")
      // relationships: non-null child keys with no parent (parent nulls
      // never match), duplicates reported once per child ROW.
      val parentKeys = (0 until 20).filter(_ => rnd.nextBoolean())
        .map(_.toLong)
      val parent = (parentKeys.map(java.lang.Long.valueOf) ++
        Seq(null.asInstanceOf[java.lang.Long])).map(Tuple1(_)).toDF("pk")
      val wantRel = rows.filter(r =>
        r._3 != null && !parentKeys.contains(r._3.longValue)).map(_._1).toSet
      assert(QualityChecks.relationships(df, "fk", parent, "pk")
        .select("id").as[Long].collect().toSet === wantRel,
        s"trial=$trial relationships")
      // Self-referencing FK (employees.manager_id → employees.id): the
      // renamed build side must keep the self-join unambiguous.
      val ids = rows.map(_._1).toSet
      assert(QualityChecks.relationships(df, "fk_self", df, "id")
        .select("id").as[Long].collect().toSet ===
        rows.filter(r => !ids.contains(r._4)).map(_._1).toSet,
        s"trial=$trial self-relationships")
      // Severity contract over random thresholds on a real offender frame.
      val warnAbove = rnd.nextInt(4).toLong
      val errorAbove = warnAbove + rnd.nextInt(4).toLong
      val offending = QualityChecks.notNull(df, "s")
      val n = offending.count()
      val wantStatus =
        if (n > errorAbove) "error" else if (n > warnAbove) "warn" else "pass"
      val ev = QualityChecks.evaluate(offending,
        warnAbove = warnAbove, errorAbove = errorAbove).head()
      assert(ev.getLong(0) === n && ev.getString(1) === wantStatus,
        s"trial=$trial n=$n warn>$warnAbove error>$errorAbove")
    }
    // store_failures: offenders persist to the audit table and the count
    // reads the STORED rows (dbt's store-then-count order).
    val t = "default.rs_dq_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val df = Seq((1L, null), (2L, "x"), (3L, null))
      .toDF("id", "s")
    val ev = QualityChecks.evaluate(QualityChecks.notNull(df, "s"),
      storeFailuresTable = Some(t)).head()
    assert(ev.getLong(0) === 2L && ev.getString(1) === "error")
    assert(spark.table(t).select("id").as[Long].collect().toSet === Set(1L, 3L))
    spark.sql(s"DROP TABLE $t")
  }

  test("governance principal plane: grant churn and readFor equal a plain model") {
    import graft.quality.Governance
    import graft.quality.Governance.CellFilter
    val rnd = new Random(2027)
    val t = "default.rs_gov"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val rows = (1 to 60).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, s"g${rnd.nextInt(4)}"))
    rows.toDF("id", "v", "g").write.saveAsTable(t)
    // Named filters with a plain-Scala twin each (predicate, projection).
    val pool: Seq[(String, CellFilter, ((Long, Long, String)) => Boolean,
        ((Long, Long, String)) => Seq[Any])] = Seq(
      ("f1", CellFilter("v >= 5", Seq("id", "v")),
        r => r._2 >= 5, r => Seq(r._1, r._2)),
      ("f2", CellFilter("g = 'g1'", Nil),
        r => r._3 == "g1", r => Seq(r._1, r._2, r._3)),
      ("f3", CellFilter("true", Seq("id")),
        _ => true, r => Seq(r._1)),
      ("f4", CellFilter("v % 2 = 0 AND g != 'g0'", Seq("id", "g")),
        r => r._2 % 2 == 0 && r._3 != "g0", r => Seq(r._1, r._3)))
    pool.foreach { case (n, f, _, _) => Governance.defineFilter(spark, t, n, f) }
    pool.foreach { case (n, f, _, _) =>
      assert(Governance.filterDef(spark, t, n) === f, s"filter $n round-trip") }
    // Grant churn: applyGrants is diff-based — each run's added/revoked
    // must equal the model diff, the catalog must equal the model after,
    // and every principal's readFor must equal its filter's plain twin
    // (ungranted principals are denied). 'o''hara' exercises escaping.
    val principals = Seq("alice", "bob", "carol", "o'hara")
    var model = Map.empty[String, String]
    (1 to 5).foreach { run =>
      val desired = principals.filter(_ => rnd.nextBoolean())
        .map(p => p -> pool(rnd.nextInt(pool.size))._1).toMap
      val diff = Governance.applyGrants(spark, t, desired)
      val wantAdd = desired.filter { case (p, f) => !model.get(p).contains(f) }
      val wantRevoke = model.filter { case (p, _) => !desired.contains(p) }
      assert(diff.added === wantAdd && diff.revoked === wantRevoke, s"run=$run diff")
      model = desired
      assert(Governance.grants(spark, t) === model, s"run=$run grants")
      principals.foreach { p =>
        model.get(p) match {
          case None =>
            intercept[SecurityException] { Governance.readFor(spark, t, p) }
          case Some(fn) =>
            val (_, _, pred, proj) = pool.find(_._1 == fn).get
            val want = rows.filter(pred).map(proj).sortBy(_.toString)
            val got = Governance.readFor(spark, t, p)
              .collect().map(_.toSeq.toList: Seq[Any]).toSeq.sortBy(_.toString)
            assert(got === want, s"run=$run principal=$p filter=$fn")
        }
      }
    }
    spark.sql(s"DROP TABLE $t")
  }

  test("minhash pairs: equals signature-level band candidates verified by exact jaccard") {
    // LSH recall is probabilistic, but GIVEN the signatures the operator
    // is deterministic: candidates = rep pairs sharing at least one band
    // (read the signatures back through minhashSignatures itself, so the
    // kernel is common-moded out), verification = exact shingle-set
    // Jaccard ≥ threshold, exact-dup groups pre-routed at 1.0. The
    // operator's pair set must EQUAL that reference — this pins the
    // collapse → sign → band → bucket-join → verify → fan-out machinery
    // end-to-end, including the fan-out of a near-dup match to every
    // member of both exact-dup groups.
    import Dedup.MinHashConfig
    val rnd = new Random(8317)
    val vocab = Vector("ash", "birch", "cedar", "elm", "fir", "hazel",
      "larch", "maple", "oak", "pine")
    def shingleSet(t: String, n: Int): Set[String] = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.length <= n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq).toSet
    }
    for ((cfg, trial) <- Seq(
        MinHashConfig(numHashes = 32, bands = 16, shingleSize = 2, threshold = 0.6),
        MinHashConfig(numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5),
        MinHashConfig(numHashes = 24, bands = 12, shingleSize = 2, threshold = 0.8))
          .zipWithIndex) {
      def doc(): String =
        Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bases = (1 to 22).map(_ => doc())
      // Exact-dup groups (collapse + fan-out path), one-word edits (real
      // near-dups whose exact J straddles the threshold), fresh docs.
      val texts = bases ++ bases.take(7) ++ bases.take(3) ++
        bases.slice(7, 15).map { t =>
          val ws = t.split(" "); ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
          ws.mkString(" ")
        } ++ (1 to 8).map(_ => doc())
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val groups = docs.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      val reps = groups.map(g => g.min -> docs.find(_._1 == g.min).get._2)
      val sigs = Dedup.minhashSignatures(
          reps.toDF("id", "text"), "id", "text", cfg)
        .collect()
        .map(r => r.getLong(0) ->
          (0 until cfg.numHashes).map(i => r.getLong(i + 1)).toVector)
        .toMap
      def shareBand(a: Long, b: Long): Boolean = (0 until cfg.bands).exists { bd =>
        val lo = bd * cfg.rowsPerBand
        sigs(a).slice(lo, lo + cfg.rowsPerBand) ==
          sigs(b).slice(lo, lo + cfg.rowsPerBand)
      }
      val within = groups.filter(_.size > 1).flatMap(g =>
        g.combinations(2).map { case Seq(a, b) => (a, b, 1.0) })
      val cross = (for {
        Seq((ra, ta), (rb, tb)) <- reps.sortBy(_._1).combinations(2)
        if shareBand(ra, rb)
        sa = shingleSet(ta, cfg.shingleSize); sb = shingleSet(tb, cfg.shingleSize)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= cfg.threshold
        ga = groups.find(_.contains(ra)).get
        gb = groups.find(_.contains(rb)).get
        a <- ga; b <- gb
      } yield (math.min(a, b), math.max(a, b), j)).toSeq
      val want = (within ++ cross).toSet
      // Non-vacuity: the equality must be exercised on BOTH kinds of pair
      // (cross-content candidates and exact-dup fan-out), not pass empty.
      assert(within.nonEmpty && cross.nonEmpty, s"trial=$trial vacuous corpus")
      val got = Dedup.minhashNearDupPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want,
        s"trial=$trial missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("tfidf: idf table and per-doc top-k equal a plain-Scala reference") {
    // Same IEEE arithmetic on both sides (ln((N+1)/(df+1)) + 1 over
    // long-count inputs, tf·idf as long × double), so scores compare
    // EXACTLY — any drift means the operator changed its formula, its
    // tokenization, or its blank-document policy, not just its plan.
    import graft.text.TfIdf
    val rnd = new Random(9413)
    val vocab = Vector("sun", "moon", "star", "comet", "nova", "dust", "void")
    (1 to 3).foreach { trial =>
      val docs = (1 to (12 + rnd.nextInt(10))).map { i =>
        val t = rnd.nextInt(10) match {
          case 0 => null.asInstanceOf[String] // null text: omitted from pairs
          case 1 => "   "                     // blank: omitted from pairs
          case _ => Seq.fill(1 + rnd.nextInt(15))(
            vocab(rnd.nextInt(vocab.size))).mkString(" ")
        }
        (i.toLong, t)
      }
      val df = docs.toDF("doc_id", "text")
      val n = docs.size // idf's N counts ALL docs, null/blank included
      val toks = docs.collect { case (id, t) if t != null && t.trim.nonEmpty =>
        id -> t.trim.split("\\s+").toSeq }
      val dfCnt = toks.flatMap { case (_, ts) => ts.distinct }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      def idfOf(term: String): Double = // Spark's LOG is StrictMath.log
        StrictMath.log((n + 1).toDouble / (dfCnt(term) + 1)) + 1
      val wantIdf = dfCnt.map { case (t, c) => (t, c, idfOf(t)) }.toSet
      val gotIdf = TfIdf.idf(df, "doc_id", "text")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gotIdf === wantIdf, s"trial=$trial idf")
      val k = 1 + rnd.nextInt(4)
      val want = toks.flatMap { case (id, ts) =>
        val scored = ts.groupBy(identity).view.mapValues(_.size.toLong).toSeq
          .map { case (t, tf) => (t, tf * idfOf(t)) }
          .sortBy { case (t, s) => (-s, t) }
        scored.take(k).zipWithIndex.map { case ((t, s), i) => (id, t, s, i + 1) }
      }.toSet
      val got = TfIdf.topTerms(df, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getDouble(2), r.getInt(3))).toSet
      assert(got === want, s"trial=$trial k=$k " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("dsir: weights and gumbel-top-k resample equal an exact micro-nat reference") {
    // The whole path is integer-exact by design (micro-quantized log
    // ratios, content-addressed Gumbel noise), so the reference replays it
    // EXACTLY: vocab cut (target count desc, term asc), Laplace smoothing
    // over the vocab support, HALF_UP micro rounding, md5-bucket uniforms,
    // ties on doc id. Any inequality is a real semantic change.
    import graft.text.Dsir
    val rnd = new Random(10427)
    val vocab = Vector("Red", "blue", "GREEN", "teal", "plum", "gold", "rust")
    def q(x: Double): Long = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    def bucket(key: String, salt: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$key:$salt".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    (1 to 3).foreach { trial =>
      def doc(nMax: Int): String = Seq.fill(1 + rnd.nextInt(nMax))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val raw = (1 to (15 + rnd.nextInt(10))).map { i =>
        (i.toLong, if (rnd.nextInt(12) == 0) null.asInstanceOf[String] else doc(14))
      }
      val target = (1 to (4 + rnd.nextInt(4))).map(i => (100L + i, doc(10)))
      val vSize = 1 + rnd.nextInt(vocab.size + 2)
      def toks(t: String): Seq[String] =
        if (t == null) Nil
        else t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val tCnt = target.flatMap(d => toks(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val vcb = tCnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(vSize).map(_._1).toSet
      val rCnt = raw.flatMap(d => toks(d._2)).filter(vcb)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tTot = tCnt.filter { case (t, _) => vcb(t) }.values.sum
      val rTot = rCnt.values.sum
      val v = vcb.size
      val lr = vcb.map { t => // Spark's LOG is StrictMath.log
        t -> (q(StrictMath.log((tCnt.getOrElse(t, 0L) + 1).toDouble / (tTot + v))) -
          q(StrictMath.log((rCnt.getOrElse(t, 0L) + 1).toDouble / (rTot + v))))
      }.toMap
      val wantW = raw.collect { case (id, t) if toks(t).nonEmpty =>
        val ts = toks(t)
        id -> ((ts.size.toLong, ts.collect { case w if vcb(w) => lr(w) }.sum))
      }.toMap
      val gotW = Dsir.importanceWeights(
          raw.toDF("doc_id", "text"), target.toDF("doc_id", "text"),
          "doc_id", "text", vSize)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          math.round(r.getDouble(2) * 1e6))))
        .toMap
      assert(gotW === wantW, s"trial=$trial vSize=$vSize weights")
      // Resample: noise each micro weight with the content-addressed
      // Gumbel, take the k largest (id asc on ties).
      val salt = rnd.nextLong()
      val k = 1 + rnd.nextInt(math.max(1, wantW.size))
      def gumbel(id: Long): Long = {
        val u = (bucket(id.toString, salt) + 0.5) / 4294967296.0
        q(-StrictMath.log(-StrictMath.log(u)))
      }
      val wantSel = wantW.toSeq
        .map { case (id, (_, w)) => (id, w + gumbel(id)) }
        .sortBy { case (id, nz) => (-nz, id) }.take(k)
      val gotSel = Dsir.resample(
          raw.toDF("doc_id", "text"), target.toDF("doc_id", "text"),
          "doc_id", "text", k, salt, vSize)
        .collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(3) * 1e6)))
        .toSeq
      assert(gotSel === wantSel, s"trial=$trial k=$k salt=$salt resample")
    }
  }

  test("bpe apply: kernel equals sequential rank-order application on random text") {
    // The codegen'd kernel applies the LOWEST-RANK applicable pair first
    // (the GPT-2 loop); the reference here applies each merge exhaustively
    // IN RANK ORDER (the trainer's rewrite rule). For a trained table the
    // two are provably equivalent — a merge's operands are only ever
    // produced by strictly lower ranks, so exhausting ranks 0..r-1 first
    // can never be undone by a later merge. Equality over random corpora
    // AND random out-of-vocabulary query text (unseen chars → UNK ids)
    // pins the kernel against an algorithmically independent reference.
    import graft.text.Bpe
    GraftFunctions.register(spark)
    val rnd = new Random(11681)
    val chars = "abcde"
    def word(maxLen: Int): String =
      (1 to (1 + rnd.nextInt(maxLen))).map(_ => chars(rnd.nextInt(chars.length))).mkString
    (1 to 4).foreach { trial =>
      val corpus = (1 to (10 + rnd.nextInt(10))).map(_ =>
        (1 to (2 + rnd.nextInt(8))).map(_ => word(5)).mkString(" "))
      val model = Bpe.train(corpus.toDF("text"), "text", 1 + rnd.nextInt(12))
      def mergeAll(syms: Vector[String], a: String, b: String): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
      def refWord(w: String): Vector[String] =
        model.merges.foldLeft(w.map(String.valueOf(_)).toVector :+ "</w>") {
          case (syms, (a, b)) => mergeAll(syms, a, b)
        }
      def refTokens(text: String): Vector[String] =
        text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
          .toVector.flatMap(refWord)
      // Last-wins id table, mirroring the kernel's HashMap build order
      // (duplicate merged STRINGS are possible: (a, bc) and (ab, c) both
      // render "abc" — the id lookup must agree on which rank owns it).
      val idOf = model.vocabulary.zipWithIndex.toMap
      val unk = model.vocabulary.length
      // Query text: corpus words, fresh words, out-of-alphabet chars,
      // mixed case and ragged whitespace.
      val queries = (1 to 12).map { _ =>
        (1 to (1 + rnd.nextInt(8))).map(_ => rnd.nextInt(4) match {
          case 0 => word(6)
          case 1 => word(4).toUpperCase
          case 2 => word(3) + "xyz!".charAt(rnd.nextInt(4))
          case _ => corpus(rnd.nextInt(corpus.size)).split(" ").head
        }).mkString(if (rnd.nextBoolean()) " " else "   ")
      }
      val got = queries.toDF("text")
        .select(Bpe.tokens(model, col("text")).as("t"),
          Bpe.tokenIds(model, col("text")).as("i"))
        .as[(Seq[String], Seq[Int])].collect()
      queries.zip(got).foreach { case (q, (gotToks, gotIds)) =>
        val want = refTokens(q)
        assert(gotToks === want, s"trial=$trial tokens for '$q'")
        assert(gotIds === want.map(s => idOf.getOrElse(s, unk)),
          s"trial=$trial ids for '$q'")
      }
    }
  }

  test("gopher rule columns: every signal equals a plain-Scala reference") {
    // The rule expressions are scan-local SQL over split/trim/regex
    // primitives whose EDGES differ between engines — Spark's trim family
    // strips ASCII SPACES only (Scala's String.trim strips all control
    // whitespace), split keeps trailing empty fields, regexp_count is
    // non-overlapping. The reference replicates those exact semantics; the
    // generated docs plant tabs, trailing newlines, blank lines, bullets,
    // ellipses (both spellings), dup lines, and '#' runs to sit on them.
    import graft.text.QualityRules
    val rnd = new Random(12907)
    def spTrim(s: String): String = // Spark trim: 0x20 only
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.mkString
    def toks(s: String): Seq[String] = spTrim(s).split("\\s+", -1).toSeq
    def lines(s: String): Seq[String] = s.split("\n", -1).toSeq
    def countRe(s: String, re: String): Int =
      re.r.findAllMatchIn(s).size
    val stop = QualityRules.requiredStopwords
    val words = Vector("the", "and", "orbit", "flux", "##tag", "a.b...",
      "x1", "QUARTZ", "µon", "of\tthat", "...", "—")
    (1 to 3).foreach { trial =>
      val docs = (1 to 25).map { i =>
        val nLines = rnd.nextInt(8)
        val ls = (0 until nLines).map { _ =>
          rnd.nextInt(8) match {
            case 0 => ""
            case 1 => "   " // blank after trim
            case 2 => "  - " + words(rnd.nextInt(words.size))
            case 3 => words(rnd.nextInt(words.size)) + "...  "
            case 4 => words(rnd.nextInt(words.size)) + "…"
            case _ => (1 to (1 + rnd.nextInt(6)))
              .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
          }
        }
        // Duplicate a line sometimes; trailing newline sometimes.
        val withDup = if (ls.size >= 2 && rnd.nextBoolean())
          ls ++ Seq(ls(rnd.nextInt(ls.size))) else ls
        val t = withDup.mkString("\n") + (if (rnd.nextBoolean()) "\n" else "")
        (i.toLong, t)
      }
      val got = QualityRules.withRuleColumns(docs.toDF("id", "text"), "text")
        .collect().map(r => r.getLong(0) -> r).toMap
      docs.foreach { case (id, t) =>
        val r = got(id)
        val tk = toks(t); val ln = lines(t)
        val nW = tk.size
        assert(r.getAs[Int]("n_words") === nW, s"trial=$trial id=$id n_words")
        assert(r.getAs[Double]("mean_word_len") ===
          tk.map(_.length.toLong).sum.toDouble / nW, s"trial=$trial id=$id mwl")
        val symR = (countRe(t, "#") + countRe(t, "\\.\\.\\.")).toDouble / nW
        assert(r.getAs[Double]("symbol_ratio") === symR, s"trial=$trial id=$id sym")
        assert(r.getAs[Double]("bullet_frac") ===
          ln.count(l => "^[-*•]".r.findFirstIn(l.dropWhile(_ == ' ')).isDefined)
            .toDouble / ln.size, s"trial=$trial id=$id bullet")
        assert(r.getAs[Double]("ellipsis_frac") ===
          ln.count(l => "(\\.\\.\\.|…)$".r
              .findFirstIn(l.reverse.dropWhile(_ == ' ').reverse).isDefined)
            .toDouble / ln.size, s"trial=$trial id=$id ellipsis")
        assert(r.getAs[Double]("alpha_frac") ===
          tk.count(w => w.exists(c =>
            (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
            .toDouble / nW, s"trial=$trial id=$id alpha")
        val lowered = tk.map(_.toLowerCase).toSet
        assert(r.getAs[Int]("stopword_hits") === stop.count(lowered),
          s"trial=$trial id=$id stopwords")
        val nb = ln.filterNot(l => spTrim(l).isEmpty)
        val wantDupFrac = if (nb.isEmpty) 0.0
          else (nb.size - nb.distinct.size).toDouble / nb.size
        assert(r.getAs[Double]("dup_line_frac") === wantDupFrac,
          s"trial=$trial id=$id dupline")
        val srt = nb.sorted
        val dupChars = srt.zip(srt.drop(1)).collect {
          case (a, b) if a == b => b.length.toLong }.sum
        val totChars = srt.map(_.length.toLong).sum
        val wantCharFrac = if (srt.isEmpty || totChars == 0L) 0.0
          else dupChars.toDouble / totChars.toDouble
        assert(r.getAs[Double]("dup_line_char_frac") === wantCharFrac,
          s"trial=$trial id=$id dupchars")
        assert(r.getAs[Boolean]("repetition_keep") ===
          (wantDupFrac <= 0.3 && wantCharFrac <= 0.2),
          s"trial=$trial id=$id repetition_keep")
      }
    }
  }

  test("profiler: column stats and histogram buckets equal plain references") {
    import graft.quality.Profiler
    val rnd = new Random(13177)
    (1 to 3).foreach { trial =>
      val rows = (1 to (40 + rnd.nextInt(40))).map { i =>
        (i.toLong,
          if (rnd.nextInt(5) == 0) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(rnd.nextInt(20).toLong),
          if (rnd.nextInt(4) == 0) null.asInstanceOf[String]
          else s"v${rnd.nextInt(8)}",
          null.asInstanceOf[String]) // all-null column: min/max render ''
      }
      val df = rows.toDF("id", "k", "s", "z")
      val got = Profiler.profile(df)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3),
            r.getString(4), r.getString(5)))).toMap
      val n = rows.size.toLong
      def refCol[T](vs: Seq[T]): (Long, Long, Long, String, String) = {
        val nn = vs.filter(_ != null)
        (n, vs.count(_ == null).toLong, nn.distinct.size.toLong,
          if (nn.isEmpty) "" else nn.map(_.toString).min,
          if (nn.isEmpty) "" else nn.map(_.toString).max)
      }
      // id/k are numeric: min/max order numerically, THEN render.
      val ks = rows.map(_._2)
      val kNn = ks.filter(_ != null).map(_.longValue)
      assert(got("k") === ((n, ks.count(_ == null).toLong,
        kNn.distinct.size.toLong,
        if (kNn.isEmpty) "" else kNn.min.toString,
        if (kNn.isEmpty) "" else kNn.max.toString)), s"trial=$trial k")
      assert(got("s") === refCol(rows.map(_._3)), s"trial=$trial s")
      assert(got("z") === ((n, n, 0L, "", "")), s"trial=$trial z")
      // Histogram: replicate the EXPLICIT bucket expression bit-for-bit.
      val nBins = 1 + rnd.nextInt(6)
      val vals = (1 to 60).map(i =>
        (s"g${rnd.nextInt(3)}",
          if (rnd.nextInt(8) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(rnd.nextInt(100) / 7.0)))
      val hdf = vals.toDF("g", "v")
      val byG = vals.collect { case (g, v) if v != null => (g, v.doubleValue) }
        .groupBy(_._1)
      val want = byG.flatMap { case (g, gs) =>
        val xs = gs.map(_._2)
        val lo = xs.min; val hi = xs.max
        val buckets = xs.map { v =>
          if (hi == lo) 0L
          else math.min(nBins - 1L, math.floor(((v - lo) * nBins) / (hi - lo)).toLong)
        }
        buckets.groupBy(identity).map { case (b, bs) =>
          (g, b, bs.size.toLong, lo, hi) }
      }.toSet
      val gotH = Profiler.histogram(hdf, "v", nBins, Seq("g"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      assert(gotH === want, s"trial=$trial nBins=$nBins histogram")
    }
  }

  test("media codecs: random PPM/BMP/WAV payloads decode to exact references") {
    // The fixture specs pin hand-computed examples; this drives the
    // parsers over RANDOM payloads built by independent test-side
    // encoders — random dimensions hit every BMP row-padding case
    // (stride = 4-aligned 3·w), bottom-up AND top-down rasters, PPM
    // headers with comments/ragged whitespace and sub-255 maxvals
    // (raster bytes may exceed maxval — the clamped-bin rule), and WAV
    // chunk walks over junk chunks with odd sizes (word alignment).
    import graft.multimodal.MediaCodecs
    val rnd = new Random(14401)
    def lum(r: Int, g: Int, b: Int): Int = (r + g + b) / 3
    def refHist(vals: Seq[Int], binOf: Int => Int): Seq[Double] = {
      val h = new Array[Double](16)
      vals.foreach(v => h(binOf(v)) += 1)
      if (vals.nonEmpty) (0 until 16).map(i => h(i) / vals.size) else h.toSeq
    }
    (1 to 4).foreach { trial =>
      // --- PPM ---
      val (pw, ph) = (1 + rnd.nextInt(9), 1 + rnd.nextInt(9))
      val maxval = 1 + rnd.nextInt(255)
      val rgb = Array.fill(pw * ph * 3)(rnd.nextInt(256).toByte)
      val header = s"P6${if (rnd.nextBoolean()) " # c\n" else "\n"}$pw" +
        s"${if (rnd.nextBoolean()) "\t" else " "}$ph\n" +
        s"${if (rnd.nextBoolean()) "# m\n" else ""}$maxval\n"
      val ppm = header.getBytes("US-ASCII") ++ rgb
      val wantPpmLuma = (0 until pw * ph).map(i =>
        lum(rgb(3 * i) & 0xff, rgb(3 * i + 1) & 0xff, rgb(3 * i + 2) & 0xff))
      val gp = MediaCodecs.lumaGridPpm(ppm).get
      assert((gp.width, gp.height, gp.maxval) === ((pw, ph, maxval)), s"trial=$trial ppm dims")
      assert(gp.luma.toSeq === wantPpmLuma, s"trial=$trial ppm luma")
      val dp = MediaCodecs.decode(ppm)
      assert(dp.format === "ppm" && dp.histogram.toSeq ===
        refHist(wantPpmLuma, v => math.min(v * 16 / (maxval + 1), 15)),
        s"trial=$trial ppm hist")
      // --- BMP (24bpp, random padding, random orientation) ---
      val (bw, bh) = (1 + rnd.nextInt(9), 1 + rnd.nextInt(6))
      val bottomUp = rnd.nextBoolean()
      val stride = ((bw * 3 + 3) / 4) * 4
      val pix = Array.fill(bh, bw)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val raster = new java.io.ByteArrayOutputStream()
      val rowOrder = if (bottomUp) (bh - 1) to 0 by -1 else 0 until bh
      rowOrder.foreach { y =>
        pix(y).foreach { case (b, g, r) => // stored BGR
          raster.write(b); raster.write(g); raster.write(r) }
        (bw * 3 until stride).foreach(_ => raster.write(rnd.nextInt(256)))
      }
      val bb = java.nio.ByteBuffer.allocate(54 + stride * bh)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * bh)
        .putInt(0).putInt(54) // reserved, dataOffset
        .putInt(40).putInt(bw).putInt(if (bottomUp) bh else -bh)
        .putShort(1).putShort(24).putInt(0).putInt(stride * bh)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      bb.put(raster.toByteArray)
      val bmp = bb.array()
      val wantBmpLuma = (0 until bh).flatMap(y =>
        (0 until bw).map { x =>
          val (b, g, r) = pix(y)(x); lum(b, g, r) })
      val gb = MediaCodecs.lumaGridBmp(bmp).get
      assert((gb.width, gb.height) === ((bw, bh)), s"trial=$trial bmp dims")
      assert(gb.luma.toSeq === wantBmpLuma,
        s"trial=$trial bmp luma bottomUp=$bottomUp w=$bw")
      val db = MediaCodecs.decode(bmp)
      assert(db.format === "bmp" && db.histogram.toSeq ===
        refHist(wantBmpLuma, v => math.min(v * 16 / 256, 15)),
        s"trial=$trial bmp hist")
      // --- WAV (junk chunk with odd size before fmt; PCM-16 data) ---
      val samples = Array.fill(1 + rnd.nextInt(40))(rnd.nextInt(65536) - 32768)
      val junkLen = 1 + 2 * rnd.nextInt(3) // ODD: exercises word alignment
      val dataBytes = samples.length * 2
      val body = java.nio.ByteBuffer.allocate(
          8 + junkLen + (junkLen & 1) + 8 + 16 + 8 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      body.put("JUNK".getBytes("US-ASCII")).putInt(junkLen)
      (0 until junkLen + (junkLen & 1)).foreach(_ => body.put(rnd.nextInt(256).toByte))
      body.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      body.put("data".getBytes("US-ASCII")).putInt(dataBytes)
      samples.foreach(s => body.putShort(s.toShort))
      val wav = java.nio.ByteBuffer.allocate(12 + body.capacity())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.capacity())
        .put("WAVE".getBytes("US-ASCII")).put(body.array()).array()
      assert(MediaCodecs.pcmSamples(wav).get.toSeq === samples.toSeq,
        s"trial=$trial wav samples")
      val dw = MediaCodecs.decode(wav)
      assert(dw.format === "wav" && dw.nSamples === samples.length.toLong &&
        dw.histogram.toSeq ===
          refHist(samples.toSeq, s => (s + 32768) >> 12),
        s"trial=$trial wav hist")
      // --- raw fallback: garbage bytes bin by high nibble ---
      val junk = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      val dr = MediaCodecs.decode(junk)
      assert(dr.format === "raw" && dr.histogram.toSeq ===
        refHist(junk.toSeq.map(_ & 0xff), v => v >> 4), s"trial=$trial raw")
    }
  }

  test("pii: staged counts and scrub equal the replace-chain reference on random text") {
    // Both sides are Java regex over the same patterns, so the property
    // pins the STAGING contract: emails counted on raw text, IPs on the
    // email-redacted text, phones on the email+IP-redacted text, and
    // scrub applies the same three replaces in the same order — random
    // adjacency collisions (an email's host octets, an IP inside a digit
    // run, phone-ish tails glued to either) are exactly what the staging
    // exists to departition.
    import graft.text.TextAnalysis
    val rnd = new Random(15649)
    val emailRe = TextAnalysis.emailRe.r
    val ipRe = TextAnalysis.ipv4Re.r
    val phoneRe = TextAnalysis.phoneRe.r
    def piece(): String = rnd.nextInt(7) match {
      case 0 => s"u${rnd.nextInt(99)}@ex${rnd.nextInt(9)}.com"
      case 1 => s"${rnd.nextInt(300)}.${rnd.nextInt(300)}.${rnd.nextInt(300)}.${rnd.nextInt(300)}"
      case 2 => s"+1 (${rnd.nextInt(999)}) ${rnd.nextInt(999)}-${rnd.nextInt(9999)}"
      case 3 => s"${rnd.nextInt(100000000)}${rnd.nextInt(100000000)}"
      case 4 => "call me maybe"
      case 5 => s"v${rnd.nextInt(9)}.${rnd.nextInt(9)}.${rnd.nextInt(9)}"
      case _ => s"x${rnd.nextInt(9)}@${rnd.nextInt(9)}.${rnd.nextInt(9)}"
    }
    (1 to 3).foreach { trial =>
      val texts = (1 to 40).map(_ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => piece())
          .mkString(if (rnd.nextBoolean()) " " else ""))
      val got = texts.toDF("text").select(
        TextAnalysis.piiEmails(col("text")),
        TextAnalysis.piiIps(col("text")),
        TextAnalysis.piiPhones(col("text")),
        TextAnalysis.scrubPii(col("text"))).collect()
      texts.zip(got).foreach { case (t, r) =>
        val afterEmail = emailRe.replaceAllIn(t, "<email>")
        val afterIp = ipRe.replaceAllIn(afterEmail, "<ip>")
        assert(r.getInt(0) === emailRe.findAllMatchIn(t).size, s"trial=$trial emails '$t'")
        assert(r.getInt(1) === ipRe.findAllMatchIn(afterEmail).size, s"trial=$trial ips '$t'")
        assert(r.getInt(2) === phoneRe.findAllMatchIn(afterIp).size, s"trial=$trial phones '$t'")
        assert(r.getString(3) === phoneRe.replaceAllIn(afterIp, "<phone>"),
          s"trial=$trial scrub '$t'")
      }
    }
  }

  test("source freshness: per-group status equals a plain threshold reference") {
    import graft.quality.SourceFreshness
    import java.sql.Timestamp
    val rnd = new Random(16127)
    (1 to 3).foreach { trial =>
      val nowS = 1700000000L + rnd.nextInt(100000)
      val now = new Timestamp(nowS * 1000)
      val warn = rnd.nextInt(5000).toLong
      val err = warn + rnd.nextInt(5000)
      val rows = (1 to 60).map { i =>
        (s"g${rnd.nextInt(4)}",
          if (rnd.nextInt(6) == 0) null.asInstanceOf[Timestamp]
          else new Timestamp((nowS - rnd.nextInt(12000)) * 1000))
      }
      val df = rows.toDF("g", "loaded_at")
      def statusOf(maxAt: Option[Long]): (Option[Long], String) = maxAt match {
        case None => (None, "error") // all-null group: no rows ever loaded
        case Some(m) =>
          val age = nowS - m
          (Some(age), if (age > err) "error" else if (age > warn) "warn" else "pass")
      }
      val want = rows.groupBy(_._1).map { case (g, gs) =>
        val ts = gs.flatMap(r => Option(r._2)).map(_.getTime / 1000)
        val (age, st) = statusOf(if (ts.isEmpty) None else Some(ts.max))
        (g, ts.sorted.lastOption.map(s => new Timestamp(s * 1000)).orNull,
          age.map(java.lang.Long.valueOf).orNull, st)
      }.toSet
      val got = SourceFreshness.evaluate(df, "loaded_at", now, warn, err, Seq("g"))
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
          r.getString(3))).toSet
      assert(got === want, s"trial=$trial warn=$warn err=$err")
      // Global (ungrouped) shape agrees with the merged groups.
      val g0 = SourceFreshness.evaluate(df, "loaded_at", now, warn, err).head()
      val allTs = rows.flatMap(r => Option(r._2)).map(_.getTime / 1000)
      val (wantAge, wantSt) = statusOf(Some(allTs.max))
      assert(g0.getLong(1) === wantAge.get && g0.getString(2) === wantSt,
        s"trial=$trial global")
    }
  }

  test("text scorers: repetition kernels, quality score, stopword ratio, langId equal references") {
    import graft.text.TextAnalysis
    val rnd = new Random(17203)
    // Tokens-as-Spark-sees-them: space-only trim, trailing-empty-keeping split.
    def toks(s: String): Vector[String] =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.mkString
        .split("\\s+", -1).toVector
    def gramStats(tk: Vector[String], n: Int): (Map[String, (Long, Long)], Long) = {
      val docLen = tk.map(_.length.toLong).sum +
        (if (tk.size > 1) tk.size - 1L else 0L)
      val nGrams = math.max(tk.size - n + 1, 1)
      val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      (0 until math.min(nGrams, tk.size)).foreach { i =>
        val g = tk.slice(i, math.min(i + n, tk.size))
        val gs = g.mkString(" ")
        val chars = gs.length.toLong
        m.updateWith(gs) { case Some((c, ch)) => Some((c + 1, ch)); case None => Some((1L, chars)) }
      }
      (m.toMap, docLen)
    }
    val en = Seq("the", "and", "of", "is", "le", "der", "orbit", "a", "un", "la")
    (1 to 3).foreach { trial =>
      val texts = (1 to 30).map { _ =>
        val base = (1 to (1 + rnd.nextInt(12)))
          .map(_ => en(rnd.nextInt(en.size))).mkString(" ")
        rnd.nextInt(4) match {
          case 0 => (base + " ") * (1 + rnd.nextInt(3)) + base // looped boilerplate
          case 1 => base + ", ok!! (v2.0)"
          case 2 => base.toUpperCase
          case _ => base
        }
      }
      // The registered repetition kernels carry plan-time constants:
      // top n-gram at n=2, dup n-grams at n=5 (GraftFunctions.register).
      GraftFunctions.register(spark)
      val rows = texts.toDF("text").select(
        TextAnalysis.topNgramCharFrac(col("text")),
        TextAnalysis.dupNgramCharFrac(col("text")),
        TextAnalysis.stopwordRatio(col("text")),
        TextAnalysis.qualityScore(col("text")),
        TextAnalysis.langId(col("text"))).collect()
      texts.zip(rows).foreach { case (t, r) =>
        val tk = toks(t)
        val (m2, docLen) = gramStats(tk, 2)
        val (m5, _) = gramStats(tk, 5)
        val top = if (docLen == 0) 0.0
          else m2.values.map { case (c, ch) => c * ch }.foldLeft(0L)(math.max)
            .toDouble / docLen
        val dup = if (docLen == 0) 0.0
          else m5.values.collect { case (c, ch) if c >= 2 => c * ch }.sum.toDouble / docLen
        assert(r.getDouble(0) === top, s"trial=$trial top '$t'")
        assert(r.getDouble(1) === dup, s"trial=$trial dup '$t'")
        val sw = TextAnalysis.englishStopwords.toSet
        assert(r.getDouble(2) === tk.count(sw).toDouble / tk.size,
          s"trial=$trial stopword '$t'")
        val nChars = t.length.toDouble
        val nTok = tk.size.toDouble
        val nPunct = t.replaceAll("[a-zA-Z0-9\\s]", "").length.toDouble
        val meanTokLen = (nChars - (nTok - 1)) / nTok
        val lenScore = math.min(nTok / 100.0, 1.0)
        val punct = math.min(nPunct / nChars * 5.0, 1.0)
        val tokLenScore = if (meanTokLen >= 3.0 && meanTokLen <= 10.0) 1.0 else 0.5
        assert(r.getDouble(3) ===
          lenScore * 0.5 + tokLenScore * 0.3 + (1.0 - punct) * 0.2,
          s"trial=$trial quality '$t'")
        val hits = TextAnalysis.stopwordProfiles.view.mapValues(ws =>
          tk.count(ws.toSet)).toMap
        val wantLang = hits.toSeq.sortBy { case (code, h) => (-h, code) }.head._1
        assert(r.getString(4) === wantLang, s"trial=$trial lang '$t'")
      }
    }
  }

  test("c4 rules: line filter, page verdict, and blocklist equal plain references") {
    import graft.text.C4Rules
    val rnd = new Random(18131)
    def spRtrim(s: String): String = s.reverse.dropWhile(_ == ' ').reverse.mkString
    def spTrim(s: String): String =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.mkString
    def refLineKeep(l: String): Boolean =
      "[.!?\"]$".r.findFirstIn(spRtrim(l)).isDefined &&
        spTrim(l).split("\\s+", -1).length >= C4Rules.minWordsPerLine &&
        !l.toLowerCase.contains("javascript")
    def refSentences(s: String): Int = s.count(c => c == '.' || c == '!' || c == '?')
    val words = Vector("the", "report", "says", "so", "and", "more", "data",
      "JavaScript", "lorem", "ipsum")
    val blocklist = Seq("Ipsum", "data")
    (1 to 3).foreach { trial =>
      val pages = (1 to 30).map { i =>
        val nLines = 1 + rnd.nextInt(7)
        (i.toLong, (1 to nLines).map { _ =>
          val base = (1 to (1 + rnd.nextInt(8)))
            .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
          rnd.nextInt(6) match {
            case 0 => base + "."
            case 1 => base + "!  " // terminal + trailing spaces
            case 2 => base + "?\"" // quote after question mark
            case 3 => base + " {x}."
            case 4 => "short."
            case _ => base
          }
        }.mkString("\n"))
      }
      val got = C4Rules.withC4Columns(pages.toDF("id", "text"), "text")
        .collect().map(r => r.getLong(0) -> r).toMap
      val gotBlock = pages.toDF("id", "text")
        .select(col("id"), C4Rules.blocklistHit(col("text"), blocklist))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      pages.foreach { case (id, t) =>
        val r = got(id)
        val lines = t.split("\n", -1).toSeq
        val kept = lines.filter(refLineKeep)
        val clean = kept.mkString("\n")
        val nSent = refSentences(clean)
        val keep = !t.toLowerCase.contains("lorem ipsum") &&
          !t.contains("{") && nSent >= C4Rules.minSentences
        assert(r.getAs[Int]("n_lines") === lines.size, s"trial=$trial id=$id n_lines")
        assert(r.getAs[Int]("n_kept_lines") === kept.size, s"trial=$trial id=$id kept")
        assert(r.getAs[String]("clean_text") === clean, s"trial=$trial id=$id clean")
        assert(r.getAs[Int]("n_sentences") === nSent, s"trial=$trial id=$id sentences")
        assert(r.getAs[Boolean]("c4_keep") === keep, s"trial=$trial id=$id keep")
        val wordSet = t.toLowerCase.split("[^a-z0-9']+", -1).toSet
        assert(gotBlock(id) ===
          blocklist.exists(w => wordSet(w.toLowerCase(java.util.Locale.ROOT))),
          s"trial=$trial id=$id blocklist")
      }
    }
  }

  test("embedding pairs: equals signature-level band candidates verified by exact cosine") {
    // The embedding twin of the minhash property: candidates = distinct-
    // vector reps sharing any 16-bit band of the 64-plane sign projection
    // (signatures read back through the operator's own kernel), verified
    // by a plain-Scala widen-to-double cosine replicating the kernel's
    // accumulation order EXACTLY — so pair sets AND scores compare with
    // ==. Exact-dup groups fan out through the identity pair, whose score
    // is the kernel's own self-cosine (not a synthesized 1.0); zero
    // vectors score 0.0 and are filtered like any other below-threshold
    // pair.
    GraftFunctions.register(spark)
    val rnd = new Random(19583)
    def refCos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dim = 8
    (1 to 3).foreach { trial =>
      val tau = Seq(0.95, 0.8, 0.99)(trial - 1)
      def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val bases = (1 to 15).map(_ => vec())
      val vecs: Seq[Array[Float]] = bases ++ bases.take(5) ++ // exact dups
        bases.slice(5, 10).map(v => v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)) ++
        Seq(Array.fill(dim)(0f)) ++ // zero vector: cosine 0, never reported
        (1 to 6).map(_ => vec())
      val rows = vecs.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v.toSeq) }
      val df = rows.toDF("doc_id", "emb")
      val groups = rows.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      val reps = groups.map(g => g.min -> rows.find(_._1 == g.min).get._2.toArray)
      val sigs = reps.toDF("id", "emb")
        .select(col("id"), GraftFunctions.signProjection(col("emb")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def shareBand(a: Long, b: Long): Boolean = (0 until 4).exists(bd =>
        ((sigs(a) >> (bd * 16)) & 0xffffL) == ((sigs(b) >> (bd * 16)) & 0xffffL))
      val within = groups.filter(_.size > 1).flatMap { g =>
        val v = reps.find(_._1 == g.min).get._2
        val c = refCos(v, v)
        if (c >= tau) g.combinations(2).map { case Seq(a, b) => (a, b, c) }
        else Seq.empty
      }
      val cross = (for {
        Seq((ra, va), (rb, vb)) <- reps.sortBy(_._1).combinations(2)
        if shareBand(ra, rb)
        c = refCos(va, vb)
        if c >= tau
        ga = groups.find(_.contains(ra)).get
        gb = groups.find(_.contains(rb)).get
        a <- ga; b <- gb
      } yield (math.min(a, b), math.max(a, b), c)).toSeq
      val want = (within ++ cross).toSet
      assert(within.nonEmpty && cross.nonEmpty, s"trial=$trial vacuous corpus")
      val got = Dedup.embeddingNearDupPairs(df, "doc_id", "emb", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want,
        s"trial=$trial tau=$tau missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("layout rewrites: random tables keep exact contents under any maintenance op") {
    // compact / optimizeLayout / zOrderLayout promise "only the file
    // layout changes". The deterministic specs pin geometry; this pins
    // the CONTENTS contract over random shapes the geometry tests never
    // vary together: random partitioning (none / one col), null values in
    // sort and z-order columns, duplicate rows (multiset, not set,
    // equality), and tiny target sizes forcing multi-file layouts.
    import graft.materialize.{RelationOps, TableMaterialization}
    val rnd = new Random(20341)
    (1 to 3).foreach { trial =>
      val t = s"default.layout_rand_${trial}"
      val rows = (1 to (200 + rnd.nextInt(200))).map { i =>
        (rnd.nextInt(50).toLong, // duplicate keys: multiset equality matters
          if (rnd.nextInt(10) == 0) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(rnd.nextInt(1000).toLong),
          s"p${rnd.nextInt(3)}")
      }
      val src = rows.toDF("a", "b", "p")
      val parts = if (rnd.nextBoolean()) Seq("p") else Nil
      TableMaterialization.run(spark, t, src.repartition(7), partitionBy = parts)
      val want = rows.groupBy(identity).view.mapValues(_.size).toMap
      def contents(): Map[(Long, java.lang.Long, String), Int] =
        spark.table(t).collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) null.asInstanceOf[java.lang.Long]
            else java.lang.Long.valueOf(r.getLong(1)), r.getString(2)))
          .groupBy(identity).view.mapValues(_.size).toMap
      rnd.nextInt(3) match {
        case 0 => RelationOps.compact(spark, t, targetFileBytes = 2L << 10)
        case 1 => RelationOps.optimizeLayout(spark, t, Seq("b", "a"),
          targetFileBytes = 2L << 10)
        case _ => RelationOps.zOrderLayout(spark, t, Seq("a", "b"),
          targetFileBytes = 2L << 10)
      }
      assert(contents() === want, s"trial=$trial parts=$parts contents")
      if (parts.nonEmpty) // the spec survives the rewrite
        assert(RelationOps.dataFiles(spark, t).map(_._1).forall(_.contains("p=")),
          s"trial=$trial partition dirs")
      spark.sql(s"DROP TABLE $t")
    }
  }

  // ---- Length-bucket batching ---------------------------------------------

  test("length buckets: bucket, padding, and batch math equal a rank reference") {
    import graft.operators.{Packing, Sampling}
    val rnd = new Random(2601)
    (1 to 4).foreach { trial =>
      val nShards = 1 + rnd.nextInt(4)
      val batchTokens = Seq(8L, 64L, 1L)(rnd.nextInt(3)) // 1 → every batch is 1 row
      // Token counts hit every power-of-two boundary: 0/1 share bucket 0,
      // 2^k and 2^k+1 straddle buckets; nulls coalesce to 0.
      val rows = (1 to 120).map { i =>
        val t: java.lang.Long = rnd.nextInt(6) match {
          case 0 => null
          case 1 => java.lang.Long.valueOf(1L << rnd.nextInt(7))
          case 2 => java.lang.Long.valueOf((1L << rnd.nextInt(7)) + 1)
          case _ => java.lang.Long.valueOf(rnd.nextInt(100).toLong)
        }
        (i.toLong, t)
      }
      val df = rows.toDF("k", "toks")
      val got = Packing.lengthBuckets(df, "k", "toks", batchTokens, nShards)
        .select("k", "shard", "len_bucket", "padded_len", "batch_idx")
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
      // Reference: the hash ordering comes from the shared hashBucket
      // column (the samplers property pins that kernel); everything
      // downstream — bucket = ceil(log2(toks)) for toks ≥ 2 else 0,
      // padding 2^bucket, rank-based batch ids — is plain arithmetic.
      val bkt = df.select(col("k"), Sampling.hashBucket(col("k"), 0L))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def bucketOf(t: java.lang.Long): Int = {
        val v = if (t == null) 0L else t.longValue
        if (v <= 1) 0 else java.lang.Long.toBinaryString(v - 1).length
      }
      val want = rows.groupBy { case (k, t) =>
        ((bkt(k) % nShards + nShards) % nShards, bucketOf(t))
      }.flatMap { case ((shard, lb), grp) =>
        val padded = 1L << lb
        val perBatch = math.max(batchTokens / padded, 1L)
        grp.sortBy { case (k, _) => (bkt(k), k) }.zipWithIndex.map {
          case ((k, _), i) =>
            k -> ((shard.toInt, lb, padded, i.toLong / perBatch))
        }
      }
      assert(got === want, s"trial=$trial shards=$nShards batch=$batchTokens")
      // Budget law: a batch's padded token total fits the budget unless it
      // is a single row (an oversized row still ships alone).
      want.groupBy { case (_, (s, lb, _, b)) => (s, lb, b) }.foreach {
        case (_, members) =>
          val total = members.map(_._2._3).sum
          assert(total <= batchTokens || members.size == 1,
            s"trial=$trial batch over budget: $total")
      }
    }
  }

  // ---- VecMean pooling aggregate ---------------------------------------------

  test("vec mean: pooled vectors equal an exact dyadic reference across partitionings") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val rnd = new Random(2501)
    (1 to 4).foreach { trial =>
      val dim = 1 + rnd.nextInt(8)
      // Dyadic-grid values (k/8): double sums are EXACT, so the result is
      // partitioning-independent and comparable with == — the property can
      // then randomize the partition count to drive the partial-merge path.
      val rows = (1 to 150).map { i =>
        val g = s"g${rnd.nextInt(5)}"
        val v = if (rnd.nextInt(10) == 0) null
          else Seq.fill(dim)((rnd.nextInt(33) - 16) / 8.0f)
        (i.toLong, g, v)
      }
      val parts = 1 + rnd.nextInt(7)
      val got = rows.toDF("id", "g", "vec").repartition(parts)
        .groupBy("g").agg(GraftFunctions.vecMean(col("vec")).as("m"))
        .collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
      val want = rows.groupBy(_._2).map { case (g, grp) =>
        val vs = grp.flatMap(r => Option(r._3))
        g -> (if (vs.isEmpty) null
              else (0 until dim).map(i =>
                vs.map(_(i).toDouble).sum / vs.size))
      }
      assert(got === want, s"trial=$trial dim=$dim parts=$parts")
      // All-null group → null result (not a zero vector).
      val allNull = Seq((1L, "x", null.asInstanceOf[Seq[Float]]),
        (2L, "x", null.asInstanceOf[Seq[Float]])).toDF("id", "g", "vec")
        .groupBy("g").agg(GraftFunctions.vecMean(col("vec")).as("m"))
        .collect().head
      assert(allNull.isNullAt(1), s"trial=$trial all-null group")
      // Ragged dimensions in one group are corrupt data: must throw.
      val ragged = Seq((1L, "x", Seq(1.0f)), (2L, "x", Seq(1.0f, 2.0f)))
        .toDF("id", "g", "vec").coalesce(1)
        .groupBy("g").agg(GraftFunctions.vecMean(col("vec")).as("m"))
      val e = intercept[Exception] { ragged.collect() }
      assert(e.getMessage != null, s"trial=$trial ragged must throw")
    }
  }

  // ---- Seed loader two-phase typing ---------------------------------------------

  test("seed loader: random typed CSVs round-trip through the two-phase cast") {
    import graft.materialize.SeedLoader
    val rnd = new Random(2301)
    val dir = java.nio.file.Files.createTempDirectory("seed_prop").toString
    try {
      (1 to 4).foreach { trial =>
        val t = s"default.seed_rand_$trial"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // One column per declared seed type; values land on exact grids
        // (doubles on quarters, bigints within 2^53 — the lenient
        // bigint-as-double phase is exact there by contract).
        val rows = (1 to 30 + rnd.nextInt(30)).map { i =>
          val id = if (rnd.nextInt(8) == 0) null
            else java.lang.Long.valueOf(
              rnd.nextLong() % 1000000000000L + i.toLong)
          val d = if (rnd.nextInt(8) == 0) null
            else java.lang.Double.valueOf((rnd.nextInt(4000) - 2000) / 4.0)
          val dt = if (rnd.nextInt(8) == 0) null
            else java.time.LocalDate.ofEpochDay(rnd.nextInt(20000).toLong)
          val ts = if (rnd.nextInt(8) == 0) null
            else java.time.Instant.ofEpochSecond(
              1500000000L + rnd.nextInt(100000000))
          val b = if (rnd.nextInt(8) == 0) null
            else java.lang.Boolean.valueOf(rnd.nextBoolean())
          val s = if (rnd.nextInt(8) == 0) null else s"tok${rnd.nextInt(50)}"
          (id, d, dt, ts, b, s)
        }
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
        def cell(v: Any): String = v match {
          case null => ""
          case i: java.time.Instant => fmt.format(i)
          case other => other.toString
        }
        val csv = "id,d,dt,ts,b,s\n" + rows.map(r =>
          Seq[Any](r._1, r._2, r._3, r._4, r._5, r._6).map(cell).mkString(","))
          .mkString("\n")
        val path = s"$dir/seed_$trial.csv"
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          csv.getBytes("UTF-8"))
        SeedLoader.loadCsv(spark, t, path, columnTypes = Map(
          "id" -> "bigint", "d" -> "double", "dt" -> "date",
          "ts" -> "timestamp", "b" -> "boolean", "s" -> "text"))
        val got = spark.table(t).collect().map { r =>
          (if (r.isNullAt(0)) null else r.getLong(0).toString,
            if (r.isNullAt(1)) null else r.getDouble(1).toString,
            if (r.isNullAt(2)) null else r.getDate(2).toLocalDate.toString,
            if (r.isNullAt(3)) null
            else fmt.format(java.time.Instant.ofEpochMilli(
              r.getTimestamp(3).getTime)),
            if (r.isNullAt(4)) null else r.getBoolean(4).toString,
            r.getString(5))
        }.groupBy(identity).view.mapValues(_.length).toMap
        val want = rows.map(r => (
          if (r._1 == null) null else r._1.toString,
          if (r._2 == null) null else r._2.toString,
          if (r._3 == null) null else r._3.toString,
          if (r._4 == null) null else fmt.format(r._4),
          if (r._5 == null) null else r._5.toString,
          r._6)).groupBy(identity).view.mapValues(_.length).toMap
        assert(got === want, s"trial=$trial seed roundtrip")
        // Declared TEXT normalizes to string (the reference's type-name
        // rule) — the table schema must carry Spark types, never agate's.
        assert(spark.table(t).schema("s").dataType ===
          org.apache.spark.sql.types.StringType)
        assert(spark.table(t).schema("id").dataType ===
          org.apache.spark.sql.types.LongType)
        spark.sql(s"DROP TABLE $t")
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // ---- Unit-test multiset diff -------------------------------------------------

  test("unit test: missing/unexpected equal plain multiset subtraction") {
    import graft.quality.UnitTest
    val rnd = new Random(2201)
    (1 to 10).foreach { trial =>
      // Duplicate-heavy value space with nulls: cardinality mismatches
      // must SURFACE (exceptAll), never cancel the way a set diff would.
      def row() = (rnd.nextInt(4).toLong,
        if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(3)}")
      val produced = Seq.fill(15 + rnd.nextInt(15))(row())
      val expected = Seq.fill(15 + rnd.nextInt(15))(row())
      // The model ignores its fixtures and returns `produced` with columns
      // in REVERSED order — run() must align before diffing.
      val res = UnitTest.run(
        _ => produced.toDF("k", "s").select(col("s"), col("k")),
        Map("in" -> spark.range(1).toDF()),
        expected.toDF("k", "s"))
      def multiset(rows: Seq[(Long, String)]): Map[(Long, String), Int] =
        rows.groupBy(identity).view.mapValues(_.size).toMap
      def sub(a: Seq[(Long, String)], b: Seq[(Long, String)]) = {
        val bm = multiset(b)
        multiset(a).map { case (k, c) => k -> math.max(0, c - bm.getOrElse(k, 0)) }
          .filter(_._2 > 0)
      }
      def got(df: org.apache.spark.sql.DataFrame) = multiset(
        df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      assert(got(res.missing) === sub(expected, produced),
        s"trial=$trial missing")
      assert(got(res.unexpected) === sub(produced, expected),
        s"trial=$trial unexpected")
      assert(res.passed === (multiset(produced) == multiset(expected)),
        s"trial=$trial verdict")
      // Identity law: a model returning exactly the expectation passes.
      val clean = UnitTest.run(_ => expected.toDF("k", "s"),
        Map.empty, expected.toDF("k", "s"))
      assert(clean.passed, s"trial=$trial identity")
    }
  }

  // ---- Contract enforcement --------------------------------------------------

  test("contracts: enforce verdicts and violation counts equal a plain reference") {
    import graft.materialize.Contracts
    import graft.materialize.Contracts.ColumnSpec
    val rnd = new Random(2101)
    (1 to 25).foreach { trial =>
      // Conforming base: a bigint (never null), b string (nullable),
      // c double (nullable) — with the check column carrying nulls so the
      // SQL CHECK semantics (NULL passes) are actually exercised.
      val n = 20 + rnd.nextInt(30)
      val rows = (1 to n).map { i =>
        (i.toLong, if (rnd.nextInt(5) == 0) null else s"s$i",
          if (rnd.nextInt(4) == 0) null
          else java.lang.Double.valueOf(rnd.nextInt(20) - 5.0))
      }
      val contract = Seq(
        ColumnSpec("a", "bigint", notNull = true),
        ColumnSpec("b", "string"),
        ColumnSpec("c", "double", check = Some("c > 0")))
      // Frame columns arrive in a random order; enforce must reorder.
      val perm = rnd.shuffle(Seq(0, 1, 2))
      val base = rows.toDF("a", "b", "c")
      val df = base.select(perm.map(i => Seq("a", "b", "c")(i)).map(col): _*)
      val checkFails = rows.count(r => r._3 != null && r._3.doubleValue <= 0)
      rnd.nextInt(5) match {
        case 0 => // conforming iff no check violations; verdict matches
          if (checkFails == 0) {
            val out = Contracts.enforce(df, contract)
            assert(out.columns.toSeq === Seq("a", "b", "c"),
              s"trial=$trial contract order")
            assert(out.count() === n.toLong, s"trial=$trial rows preserved")
          } else {
            val e = intercept[IllegalStateException] {
              Contracts.enforce(df, contract) }
            assert(e.getMessage.contains("CONTRACT_CONSTRAINT_VIOLATION") &&
              e.getMessage.contains(s"check:c ($checkFails rows)"),
              s"trial=$trial check count: ${e.getMessage}")
          }
        case 1 => // missing column
          val e = intercept[IllegalStateException] {
            Contracts.enforce(df.drop("b"), contract) }
          assert(e.getMessage.contains("CONTRACT_COLUMNS_MISMATCH") &&
            e.getMessage.contains("missing=b"), s"trial=$trial: ${e.getMessage}")
        case 2 => // unexpected column
          val e = intercept[IllegalStateException] {
            Contracts.enforce(df.withColumn("zz", lit(1)), contract) }
          assert(e.getMessage.contains("CONTRACT_COLUMNS_MISMATCH") &&
            e.getMessage.contains("unexpected=zz"), s"trial=$trial: ${e.getMessage}")
        case 3 => // type drift
          val e = intercept[IllegalStateException] {
            Contracts.enforce(df.withColumn("a", col("a").cast("int")),
              contract) }
          assert(e.getMessage.contains("CONTRACT_TYPE_MISMATCH") &&
            e.getMessage.contains("a: expected BIGINT"),
            s"trial=$trial: ${e.getMessage}")
        case _ => // planted not_null violations: count must be exact
          val planted = 1 + rnd.nextInt(5)
          val bad = df.withColumn("a",
            when(col("a") <= planted, lit(null).cast("bigint"))
              .otherwise(col("a")))
          val e = intercept[IllegalStateException] {
            Contracts.enforce(bad, contract) }
          assert(e.getMessage.contains("CONTRACT_CONSTRAINT_VIOLATION") &&
            e.getMessage.contains(s"not_null:a ($planted rows)"),
            s"trial=$trial planted=$planted: ${e.getMessage}")
      }
    }
  }

  // ---- Relation quoting / SQL-literal escaping ------------------------------

  test("relation quoting and sql literals survive hostile names end-to-end") {
    import graft.core.Relation
    val rnd = new Random(2001)
    // parse/name round-trip over random 1- and 2-part names.
    (1 to 20).foreach { _ =>
      val id = s"t${rnd.nextInt(1000)}_x"
      val sch = s"s${rnd.nextInt(1000)}"
      assert(Relation.parse(id).name === id)
      assert(Relation.parse(s"$sch.$id").name === s"$sch.$id")
      assert(Relation.sibling(s"$sch.$id", "_tmp").name === s"$sch.${id}_tmp")
      assert(Relation.sibling(id, "_tmp").quoted === s"`${id}_tmp`")
    }
    // Backtick escaping: a view whose NAME contains backticks must be
    // addressable through .quoted — the escape rule checked by the engine
    // itself, not by string comparison.
    val hostile = Seq("plain_v", "with`tick", "two``ticks", "spa ce", "do-t")
    hostile.foreach { n =>
      val r = Relation("", n, isTemporary = true)
      // Both the CREATE and the read address the view through .quoted —
      // the escape rule is checked by the SQL parser itself.
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ${r.quoted} AS " +
        s"SELECT ${Relation.sqlLiteral(n)} AS tag")
      val got = spark.sql(s"SELECT tag FROM ${r.quoted}").head().getString(0)
      assert(got === n, s"backtick round-trip of '$n'")
      spark.sql(s"DROP VIEW ${r.quoted}")
    }
    // sqlLiteral: any runtime string must come back VERBATIM from the
    // parser — quotes, backslashes, unicode, even injection shapes.
    val values = Seq("plain", "O'Brien", "back\\slash", "both\\'mix",
      "unicode é…", "'; DROP TABLE x; --", "``ticks``", "") ++
      (1 to 10).map(_ => (1 to rnd.nextInt(12)).map(_ =>
        "ab'\\`% _".charAt(rnd.nextInt(8))).mkString)
    values.foreach { v =>
      val got = spark.sql(s"SELECT ${Relation.sqlLiteral(v)} AS v")
        .head().getString(0)
      assert(got === v, s"literal round-trip of ${v.map(_.toInt)}")
    }
    assert(Relation.sqlLiteral(null) === "'__HIVE_DEFAULT_PARTITION__'")
  }

  // ---- Semantic dedup and corpus sources -----------------------------------

  test("semantic dedup: single-list boundary equals the pairwise smaller-id rule") {
    // With nlist = 1 every vector lands in one inverted list, so the
    // cluster-scoped pair search enumerates ALL pairs — the operator must
    // then equal the brute-force contract exactly: keep v iff no smaller-id
    // vector has kernel-cosine ≥ threshold (pairwise, not greedy — chains
    // drop every non-minimum). With real clustering (nlist > 1) discovered
    // pairs are a subset, so survivors must be a SUPERSET — removal is
    // always evidence-backed, never speculative.
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val rnd = new Random(1901)
    def refCos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dim = 8
    (1 to 3).foreach { trial =>
      val tau = Seq(0.9, 0.97, 0.999)(trial - 1)
      def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val bases = (1 to 12).map(_ => vec())
      val all: Seq[Array[Float]] = bases ++ bases.take(4) ++ // exact dups
        bases.slice(4, 8).map(v =>
          v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)) ++ // near dups
        Seq(Array.fill(dim)(0f), Array.fill(dim)(0f)) // zero twins: cos 0
      val rows = all.zipWithIndex.map { case (v, i) => (i + 1L, v.toSeq) }
      val df = rows.toDF("id", "vec")
      val vb = rows.map { case (id, v) => id -> v.map(_.toFloat).toArray }.toMap
      val want = rows.map(_._1).filter(i =>
        !rows.map(_._1).exists(j => j < i && refCos(vb(j), vb(i)) >= tau)).toSet
      val got = Dedup.semanticDedup(df, "id", "vec", threshold = tau,
        nlist = 1, maxClusterSize = 1000, seed = 5L + trial)
        .select("id").as[Long].collect().toSet
      assert(got === want, s"trial=$trial tau=$tau single-list")
      val clustered = Dedup.semanticDedup(df, "id", "vec", threshold = tau,
        nlist = 4, maxClusterSize = 1000, seed = 5L + trial)
        .select("id").as[Long].collect().toSet
      assert(want.subsetOf(clustered), s"trial=$trial tau=$tau superset")
    }
  }

  test("jsonl source: roundtrip is exact and truncated lines quarantine") {
    import graft.sources.Jsonl
    import org.apache.spark.sql.types._
    val rnd = new Random(1902)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType)))
    val dir = java.nio.file.Files.createTempDirectory("jsonl_prop").toString
    try {
      // Strings exercise JSON escaping: quotes, backslashes, newlines,
      // tabs, unicode, braces; nulls throughout.
      val pieces = Seq("plain", "with \"quotes\"", "back\\slash", "new\nline",
        "tab\there", "émoji…", "{\"fake\":1}", "commas, everywhere")
      val rows = (1 to 80).map { i =>
        (if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(i.toLong),
          if (rnd.nextInt(8) == 0) null else pieces(rnd.nextInt(pieces.length)),
          if (rnd.nextInt(8) == 0) null
          else java.lang.Double.valueOf(rnd.nextDouble() * 1e6 - 5e5))
      }
      val df = rows.toDF("id", "s", "d")
      for (codec <- Seq(None, Some("gzip"))) {
        val p = s"$dir/rt_${codec.getOrElse("none")}"
        Jsonl.write(df, p, codec)
        val back = Jsonl.read(spark, schema, p).cache()
        back.count() // materialize: corrupt-column-only queries need the parse cached
        assert(back.filter(col(Jsonl.CorruptCol).isNotNull).count() === 0L,
          s"codec=$codec corrupt on clean roundtrip")
        val got = back.select("id", "s", "d").collect()
          .map(r => (if (r.isNullAt(0)) null else r.getLong(0),
            r.getString(1),
            if (r.isNullAt(2)) null else r.getDouble(2)))
          .groupBy(identity).view.mapValues(_.length).toMap
        val want = rows.map(r => (
          if (r._1 == null) null else r._1.longValue,
          r._2,
          if (r._3 == null) null else r._3.doubleValue))
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(got === want, s"codec=$codec roundtrip multiset")
        back.unpersist()
      }
      // Quarantine: interleave valid lines with truncated/garbage ones.
      val good = (1 to 20).map(i => s"""{"id":$i,"s":"ok$i","d":${i * 1.5}}""")
      val bad = Seq("""{"id":21,"s":"trunc""", "not json at all", """["array"]""")
      val mixed = rnd.shuffle(good ++ bad)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/mixed.jsonl"),
        mixed.mkString("\n").getBytes("UTF-8"))
      val q = Jsonl.read(spark, schema, s"$dir/mixed.jsonl").cache()
      q.count() // materialize before corrupt-column-only queries
      assert(q.filter(col(Jsonl.CorruptCol).isNotNull).count() === bad.length.toLong,
        "quarantined count")
      assert(q.filter(col(Jsonl.CorruptCol).isNull).count() === good.length.toLong,
        "clean count")
      val ids = q.filter(col(Jsonl.CorruptCol).isNull).select("id")
        .as[Long].collect().toSet
      assert(ids === (1 to 20).map(_.toLong).toSet, "clean rows intact")
      q.unpersist()
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("csv source: roundtrip quotes safely and malformed rows quarantine with parsed fields") {
    import graft.sources.Csv
    import org.apache.spark.sql.types._
    val rnd = new Random(1903)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType)))
    val dir = java.nio.file.Files.createTempDirectory("csv_prop").toString
    try {
      // CSV-hostile strings: commas, quotes, separators (NO newlines — a
      // quoted newline needs multiLine, out of contract; NO empty strings
      // — CSV cannot distinguish "" from null; NO edge padding — Spark's
      // CSV WRITER trims unquoted leading/trailing whitespace by default,
      // pinned separately below).
      val pieces = Seq("plain", "a,b,c", "say \"hi\"", "inner  spaces",
        "semi;colon", "quote\"comma,mix")
      val rows = (1 to 60).map { i =>
        (java.lang.Long.valueOf(i.toLong),
          if (rnd.nextInt(8) == 0) null else pieces(rnd.nextInt(pieces.length)),
          if (rnd.nextInt(8) == 0) null
          else java.lang.Double.valueOf(rnd.nextDouble() * 100 - 50))
      }
      val df = rows.toDF("id", "s", "d")
      val p = s"$dir/rt"
      Csv.write(df, p)
      val back = Csv.read(spark, schema, header = true, p).cache()
      back.count() // materialize: corrupt-column-only queries need the parse cached
      assert(back.filter(col(Csv.CorruptCol).isNotNull).count() === 0L,
        "corrupt on clean roundtrip")
      val got = back.select("id", "s", "d").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getDouble(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want = rows.map(r => (r._1.longValue, r._2,
        if (r._3 == null) null else r._3.doubleValue))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got === want, "roundtrip multiset")
      back.unpersist()
      // The padding quirk, pinned: the writer's default
      // ignoreLeading/TrailingWhiteSpace=true strips unquoted edge spaces,
      // so padded strings do NOT roundtrip (inner runs survive).
      val pp = s"$dir/pad"
      Csv.write(Seq((1L, " padded ")).toDF("id", "s"), pp)
      val padBack = Csv.read(spark,
        StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
        header = true, pp).cache()
      padBack.count()
      assert(padBack.select("s").as[String].collect().toSeq === Seq("padded"),
        "write-side edge-whitespace trim")
      padBack.unpersist()
      // Quarantine: uncastable numerics and extra columns are corrupt but
      // keep their parseable fields; clean lines parse fully.
      val good = (1 to 15).map(i => s"$i,ok$i,${i * 0.5}")
      val badNum = Seq("998,keepme,notadouble", "notalong,alsokept,1.5")
      val badShape = Seq("999,extra,1.5,surplus")
      val mixed = rnd.shuffle(good ++ badNum ++ badShape)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/mixed.csv"),
        ("id,s,d\n" + mixed.mkString("\n")).getBytes("UTF-8"))
      val q = Csv.read(spark, schema, header = true, s"$dir/mixed.csv").cache()
      q.count() // materialize before corrupt-column-only queries
      assert(q.filter(col(Csv.CorruptCol).isNotNull).count() ===
        (badNum.length + badShape.length).toLong, "quarantined count")
      assert(q.filter(col(Csv.CorruptCol).isNull).count() === good.length.toLong,
        "clean count")
      // The PERMISSIVE contract: a quarantined row keeps parsed fields.
      val kept = q.filter(col(Csv.CorruptCol).isNotNull).select("s")
        .collect().map(_.getString(0)).toSet
      assert(Set("keepme", "alsokept", "extra").subsetOf(kept),
        s"parsed fields preserved in quarantine, got $kept")
      q.unpersist()
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // ---- Cross-corpus dedup and the rolling ledger ---------------------------

  test("cross-corpus dedup: bloom path equals plain anti-join exactly on random overlaps") {
    val rnd = new Random(1801)
    (1 to 4).foreach { trial =>
      // Shared value pool → guaranteed cross-corpus overlap; nulls included
      // (hash-grouped like any value). Two content columns.
      def cell(): String =
        if (rnd.nextInt(6) == 0) null else s"v${rnd.nextInt(12)}"
      val corpus = (1 to 150).map(i => (i.toLong, cell(), cell()))
        .toDF("id", "a", "b")
      val reference = (1 to 60).map(i => (i.toLong, cell(), cell()))
        .toDF("rid", "a", "b")
      val want = Dedup.exactAgainst(corpus, Seq("a", "b"),
        reference, Seq("a", "b")).select("id").as[Long].collect().toSet
      // Independent reference: plain set-difference on value pairs.
      val refSet = reference.select("a", "b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val plain = corpus.collect()
        .filter(r => !refSet.contains((r.getString(1), r.getString(2))))
        .map(_.getLong(0)).toSet
      assert(want === plain, s"trial=$trial exactAgainst vs set difference")
      // The headline law: the bloom prefilter NEVER changes the answer —
      // tiny expectedDistinct forces heavy false positives into the verify
      // join; large fpp forces wide bits. Both must stay exact.
      for ((expd, fpp) <- Seq((4L, 0.5), (1L << 10, 0.01), (64L, 0.03))) {
        val got = Dedup.exactAgainstBloom(corpus, Seq("a", "b"),
          reference, Seq("a", "b"), expectedDistinct = expd, fpp = fpp)
          .select("id").as[Long].collect().toSet
        assert(got === want, s"trial=$trial bloom expd=$expd fpp=$fpp")
      }
      // Empty-reference short circuit: everything survives.
      val none = Dedup.exactAgainstBloom(corpus, Seq("a", "b"),
        reference.filter(lit(false)), Seq("a", "b"))
        .select("id").as[Long].collect().toSet
      assert(none === corpus.select("id").as[Long].collect().toSet,
        s"trial=$trial empty reference")
    }
  }

  test("ledger ingest: multi-round survivors equal a first-seen set reference") {
    val rnd = new Random(1802)
    val ledger = "default.ledger_rand_prop"
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
    try {
      val seen = scala.collection.mutable.Set[(String, String)]()
      var nextId = 1L
      (1 to 4).foreach { round =>
        // Heavy duplication within AND across rounds.
        def cell(): String =
          if (rnd.nextInt(8) == 0) null else s"c${rnd.nextInt(10)}"
        val rows = (1 to 60).map { _ =>
          val r = (nextId, cell(), cell()); nextId += 1; r
        }
        val batch = rows.toDF("id", "a", "b")
        val got = Dedup.ledgerIngest(ledger, batch, Seq("a", "b"),
          Seq(col("id"))).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        // Reference: within-batch winner = min id per content pair; only
        // pairs never seen in ANY earlier round survive.
        val want = rows.groupBy(r => (r._2, r._3)).collect {
          case (key, grp) if !seen.contains(key) => grp.minBy(_._1)
        }.toSet
        assert(got === want, s"round=$round survivors")
        seen ++= rows.map(r => (r._2, r._3))
        // Ledger cardinality = total distinct contents ever ingested.
        assert(spark.table(ledger).count() === seen.size.toLong,
          s"round=$round ledger size")
        // Idempotence: replaying the SAME batch returns nothing new.
        val replay = Dedup.ledgerIngest(ledger, batch, Seq("a", "b"),
          Seq(col("id")))
        assert(replay.isEmpty, s"round=$round replay")
        assert(spark.table(ledger).count() === seen.size.toLong,
          s"round=$round replay appended nothing")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  // ---- Multimodal operators over random payloads ---------------------------
  // The media-codec property pins the PARSERS; these pin the Spark-side
  // operators downstream of the decode — resize index math, the aHash
  // bit rule, survivor grouping, audio windowing/trim, and the frame
  // slicer/differ — against plain-Scala references on random payloads.

  /** Independent PPM encoder (plain header) returning (payload, luma grid). */
  private def randomPpm(rnd: Random, w: Int, h: Int): (Array[Byte], Array[Int]) = {
    val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    val luma = Array.tabulate(w * h)(i =>
      ((rgb(3 * i) & 0xff) + (rgb(3 * i + 1) & 0xff) + (rgb(3 * i + 2) & 0xff)) / 3)
    (s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ rgb, luma)
  }

  test("multimodal images: resize, aHash, and near-dup survivors equal grid references") {
    import graft.multimodal.Multimodal
    val rnd = new Random(1701)
    (1 to 3).foreach { trial =>
      val imgs = (1 to 8).map { i =>
        val (w, h) = (1 + rnd.nextInt(12), 1 + rnd.nextInt(12))
        val (bytes, luma) = randomPpm(rnd, w, h)
        (i.toLong, bytes, w, h, luma)
      }
      // Plant one exact duplicate payload (id 9 = id 1's pixels) and one
      // non-image payload (id 10) for the survivor law.
      val rows = imgs.map(x => (x._1, x._2)) :+
        ((9L, imgs.head._2.clone())) :+
        ((10L, "not an image".getBytes("US-ASCII")))
      val df = rows.toDF("media_id", "media")
      def refResize(luma: Array[Int], w: Int, h: Int, tw: Int, th: Int): Seq[Int] =
        (0 until th).flatMap(y => (0 until tw).map { x =>
          luma((y.toLong * h / th).toInt * w + (x.toLong * w / tw).toInt)
        })
      val (tw, th) = (1 + rnd.nextInt(10), 1 + rnd.nextInt(10))
      val gotR = Multimodal.resize(spark, df, tw, th)
        .select("media_id", "format", "luma").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[Int](2)))).toMap
      imgs.foreach { case (id, _, w, h, luma) =>
        assert(gotR(id) === (("ppm", refResize(luma, w, h, tw, th))),
          s"trial=$trial resize id=$id ${w}x$h -> ${tw}x$th")
      }
      assert(gotR(10L) === (("raw", Seq.empty[Int])), s"trial=$trial raw resize")
      // aHash reference: 8×8 nearest resize, integer mean, bit i per cell.
      def refHash(luma: Array[Int], w: Int, h: Int): Long = {
        val cells = refResize(luma, w, h, 8, 8)
        val mean = cells.map(_.toLong).sum / 64
        cells.zipWithIndex.foldLeft(0L) { case (sig, (c, i)) =>
          if (c >= mean) sig | (1L << i) else sig
        }
      }
      val gotH = Multimodal.aHash(spark, df).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      imgs.foreach { case (id, _, w, h, luma) =>
        assert(gotH(id) === Some(refHash(luma, w, h)), s"trial=$trial hash id=$id")
      }
      assert(gotH(9L) === gotH(1L), s"trial=$trial dup hashes equal")
      assert(gotH(10L) === None, s"trial=$trial raw hash")
      // Survivor law: min id per signature group; raw rows survive alone.
      val bySig = (imgs.map(x => (x._1, refHash(x._5, x._3, x._4))) :+
        ((9L, refHash(imgs.head._5, imgs.head._3, imgs.head._4))))
        .groupBy(_._2).values
        .map(g => (g.map(_._1).min, g.size.toLong)).toSet + ((10L, 1L))
      val gotS = Multimodal.nearDupSurvivors(spark, df)
        .select("media_id", "n_dups").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotS === bySig, s"trial=$trial survivors")
    }
  }

  test("multimodal audio: windows and silence trim equal sample references") {
    import graft.multimodal.Multimodal
    val rnd = new Random(1702)
    (1 to 3).foreach { trial =>
      val clips = (1 to 6).map { i =>
        val n = rnd.nextInt(50) // 0-sample clips included
        // Mostly-quiet amplitudes with occasional spikes so trim thresholds
        // actually bite; one clip in three is all-silent.
        val s = Array.fill(n)(
          if (rnd.nextInt(3) == 0 && i % 3 != 0) (rnd.nextInt(65536) - 32768)
          else rnd.nextInt(21) - 10)
        (i.toLong, s)
      }
      val rows = clips.map { case (id, s) =>
        (id, Multimodal.Fixtures.wavPcm(s.map(_.toShort))) } :+
        ((99L, "junk junk".getBytes("US-ASCII")))
      val df = rows.toDF("media_id", "media")
      val win = 1 + rnd.nextInt(12)
      val gotW = Multimodal.audioWindows(spark, df, win).collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
      val wantW = clips.flatMap { case (id, s) =>
        s.grouped(win).zipWithIndex.map { case (w, i) =>
          (id, i) -> ((w.length, if (w.isEmpty) 0 else w.map(math.abs).max,
            w.map(x => x.toLong * x).sum))
        }
      }.toMap
      assert(gotW === wantW, s"trial=$trial win=$win") // junk row absent
      val thr = 1 + rnd.nextInt(40)
      val gotT = Multimodal.trimSilence(spark, df, thr).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3), r.getInt(4)))).toMap
      val wantT = clips.map { case (id, s) =>
        val loud = s.indices.filter(i => math.abs(s(i)) >= thr)
        id -> (if (loud.isEmpty) ((s.length, -1, -1, s.length))
               else ((s.length, loud.head, loud.last,
                 loud.head + (s.length - 1 - loud.last))))
      }.toMap
      assert(gotT === wantT, s"trial=$trial thr=$thr")
    }
  }

  test("multimodal frames: sampler, diffs, and scene cuts equal byte references") {
    import graft.multimodal.Multimodal
    val rnd = new Random(1703)
    (1 to 3).foreach { trial =>
      val n = 1 + rnd.nextInt(8)
      val fb = 1 + rnd.nextInt(8)
      val clips = (1 to 6).map { i =>
        // Lengths straddle n·frameBytes so short/empty tail frames occur.
        (i.toLong, Array.fill(rnd.nextInt(n * fb + 20))(rnd.nextInt(256).toByte))
      }
      val df = clips.toDF("media_id", "media")
      def refFrames(b: Array[Byte]): Seq[Array[Byte]] = {
        val step = math.max(b.length / n, 1)
        (0 until n).map(i => b.slice(i * step, math.min(i * step + fb, b.length)))
      }
      val gotF = Multimodal.frameSample(df, n, fb).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Array[Byte]](2).toSeq)
        .toMap
      clips.foreach { case (id, b) =>
        refFrames(b).zipWithIndex.foreach { case (f, i) =>
          assert(gotF((id, i)) === f.toSeq, s"trial=$trial frame $id/$i")
        }
      }
      def dist(a: Seq[Byte], b: Seq[Byte]): Long = {
        val m = math.min(a.length, b.length)
        (0 until m).map(i => math.abs((a(i) & 0xff) - (b(i) & 0xff)).toLong).sum +
          255L * (math.max(a.length, b.length) - m)
      }
      val gotD = Multimodal.frameDiffs(df, n, fb).collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      val wantD = clips.flatMap { case (id, b) =>
        val fs = refFrames(b)
        fs.indices.map(i =>
          (id, i) -> (if (i == 0) -1L else dist(fs(i).toSeq, fs(i - 1).toSeq)))
      }.toMap
      assert(gotD === wantD, s"trial=$trial diffs n=$n fb=$fb")
      val thr = rnd.nextInt(fb * 128).toLong
      val gotC = Multimodal.sceneCuts(df, n, thr, fb).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      // iterator first: Map.collect emitting (id, i) pairs would rebuild a
      // MAP keyed by id and silently drop all but one cut per clip.
      val wantC = wantD.iterator.collect {
        case ((id, i), d) if i > 0 && d > thr => (id, i) }.toSet
      assert(gotC === wantC, s"trial=$trial cuts thr=$thr")
    }
  }

  // ---- Text kernels (fingerprint / deflate / nfc / normalize / counts) ----

  test("fingerprint: rolling min-hash equals direct per-window evaluation") {
    val rnd = new Random(1601)
    graft.functions.GraftFunctions.register(spark)
    val window = 12 // the registered plan-time constant
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def fnv(b: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      b.foreach { x => h ^= (x & 0xffL); h *= 0x100000001b3L }
      h
    }
    // Direct (non-rolling) reference: every window's polynomial hash is
    // recomputed from scratch — the rolling recurrence must agree with the
    // straight evaluation on every window, wrapping arithmetic included.
    def ref(s: String): Long = {
      val b = s.getBytes("UTF-8")
      if (b.isEmpty) 0L
      else if (b.length <= window) fnv(b)
      else (0 to b.length - window).map { st =>
        var h = 0L
        (st until st + window).foreach(i => h = h * 257L + (b(i) & 0xffL))
        mix(h)
      }.min
    }
    val alphabet = "ab …ééx01" // multi-byte chars: windows are BYTES
    // Near-dup stability fixtures: appending ONE byte to an over-window
    // string adds exactly one new window, so the min-fingerprint can only
    // stay or decrease — the monotone law that makes the fingerprint a
    // near-dup signal at all.
    val base = "the quick brown fox jumps over the lazy dog " * 3
    val strs = Seq("", "a", "exactly12by!", "exactly12by!!",
      base, base + "!") ++
      (1 to 30).map(_ => (1 to rnd.nextInt(60))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val got = strs.toDF("t")
      .select(col("t"), graft.text.TextAnalysis.fingerprint(col("t")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach(s => assert(got(s) === ref(s), s"fp of ${s.take(20)}"))
    // The law itself, asserted on BOTH the reference and the operator
    // output (the prior `ref(x) <= ref(y) || got.nonEmpty` form was
    // vacuously true — r14 ADVICE).
    assert(ref(base + "!") <= ref(base), "reference min must be monotone")
    assert(got(base + "!") <= got(base), "operator min must be monotone")
  }

  test("deflate ratio: per-row state resets and the contract replays") {
    val rnd = new Random(1602)
    graft.functions.GraftFunctions.register(spark)
    def ref(s: String): Double = {
      val bytes = s.getBytes("UTF-8")
      if (bytes.isEmpty) 1.0
      else {
        // A FRESH deflater per call — the kernel reuses a per-thread one
        // with reset(); equality across many rows in one partition proves
        // no state leaks between rows.
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        d.end()
        total.toDouble / bytes.length
      }
    }
    val strs = Seq("", "a", "ab " * 200) ++ (1 to 40).map { i =>
      if (i % 3 == 0) ("boilerplate " * (1 + rnd.nextInt(30)))
      else (1 to 20 + rnd.nextInt(200)).map(_ =>
        ('a' + rnd.nextInt(26)).toChar).mkString
    }
    // One partition → one thread-local deflater handles every row in turn.
    val got = strs.zipWithIndex.map(_.swap).toDF("i", "t").repartition(1)
      .select(col("i"), graft.text.TextAnalysis.compressionRatio(col("t")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    strs.zipWithIndex.foreach { case (s, i) =>
      assert(got(i) === ref(s), s"row $i (${s.take(16)}…)")
    }
    // Entropy ordering law: heavy repetition compresses below random text.
    assert(ref("boilerplate " * 30) < ref((1 to 360).map(_ =>
      ('a' + rnd.nextInt(26)).toChar).mkString))
  }

  test("nfc: kernel equals java.text.Normalizer and is idempotent") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new Random(1603)
    // Pieces that exercise composition: combining acute/grave/cedilla after
    // latin letters, precomposed twins, Hangul jamo, and plain ASCII.
    val pieces = Seq("é", "é", "à", "ç", "ç",
      "가", "가", "x", " ", "ß", "1")
    val strs = Seq("") ++ (1 to 40).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
    val got = strs.distinct.toDF("t")
      .select(col("t"), graft.text.TextAnalysis.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    strs.distinct.foreach { s =>
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      assert(got(s) === want, s"nfc of ${s.map(_.toInt.toHexString)}")
      assert(java.text.Normalizer.isNormalized(got(s),
        java.text.Normalizer.Form.NFC), "idempotence")
    }
  }

  test("normalize: canonicalization chain equals a staged regex reference") {
    val rnd = new Random(1604)
    val words = Seq("The", "QUICK", "fox", "https://Example.com/a?b=1",
      "http://x.y/z", "Bob.Smith+tag@Mail.example.ORG", "a@b.c", "x",
      "\t", "  ", "\n", "end.")
    val strs = (1 to 40).map(_ =>
      (1 to rnd.nextInt(10)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ")) :+ "" :+ "   " :+ "A  B\t\nC"
    val got = strs.distinct.toDF("t")
      .select(col("t"), graft.text.TextAnalysis.normalize(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // Reference replays the documented stage order: lowercase → URLs →
    // emails → whitespace collapse → trim.
    strs.distinct.foreach { s =>
      val want = s.toLowerCase
        .replaceAll("https?://\\S+", "<url>")
        .replaceAll("[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>")
        .replaceAll("\\s+", " ")
        .trim
      assert(got(s) === want, s"normalize of ${s.take(30)}")
    }
  }

  test("token counts: whitespace and bpe-ish counts equal regex references") {
    GraftFunctions.register(spark)
    val rnd = new Random(1605)
    val pieces = Seq("word", "Word2", "42", "3.14", "—", "!", "can't",
      "a_b", "x,y", " ", "\t", "\n")
    val strs = Seq("", " ", "  \t ", "a", "a b") ++ (1 to 40).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
    val got = strs.distinct.toDF("t")
      .select(col("t"),
        graft.text.TextAnalysis.tokenCount(col("t")).as("ws"),
        graft.text.TextAnalysis.bpeishTokenCount(col("t")).as("bp"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    strs.distinct.foreach { s =>
      // Spark's trim strips SPACES only; split keeps trailing empties —
      // replicate exactly (the \t-padded corner differs from Java trim).
      val trimmed = s.replaceAll("^ +", "").replaceAll(" +$", "")
      val ws = {
        // Java split drops trailing empties at limit 0; Spark keeps them
        // (limit -1). Use -1 to match.
        trimmed.split("\\s+", -1).length
      }
      val bp = {
        val m = java.util.regex.Pattern
          .compile("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]").matcher(s)
        var n = 0
        while (m.find()) n += 1
        n
      }
      assert(got(s)._1 === ws, s"ws count of ${s.map(_.toInt.toHexString)}")
      assert(got(s)._2 === bp, s"bpeish count of ${s.take(30)}")
    }
  }

  // ---- Event analytics (graft.operators.EventAnalytics) ------------------
  // Each operator below also backs a driver gate on the fixed events table;
  // these properties re-run the SAME library body on random event frames —
  // parameter corners (gap widths, step alphabets, window sizes, quantile
  // fractions) the one-table gate never varies.

  /** Random event rows: (event_id, user, ts) with sub-second timestamp
    * parts so floor-second contracts are actually exercised. `spanSec`
    * bounds the time range; `users` the entity cardinality.
    */
  private def randomEvents(rnd: Random, n: Int, users: Int, spanSec: Int,
      types: Seq[String] = Nil): Seq[(Long, String, String, java.sql.Timestamp)] =
    (1 to n).map { i =>
      val ty = if (types.isEmpty) "e" else types(rnd.nextInt(types.length))
      (i.toLong, s"u${rnd.nextInt(users)}", ty,
        new java.sql.Timestamp(
          1700000000000L + rnd.nextInt(spanSec) * 1000L + rnd.nextInt(1000)))
    }

  test("event analytics: sessionize equals a plain floored-second fold") {
    val rnd = new Random(1401)
    (1 to 4).foreach { trial =>
      val gap = Seq(5L, 17L, 60L)(rnd.nextInt(3))
      val rows = randomEvents(rnd, 300, users = 6, spanSec = 600)
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.EventAnalytics
        .sessionize(df, "user_id", "ts", "event_id", gapSec = gap)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toSet
      // Reference: per user, sort by (ts, event_id); a session breaks when
      // the FLOOR-SECOND gap strictly exceeds `gap`; bounds are RAW ts.
      val want = rows.groupBy(_._2).flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._4.getTime, e._1))
        var idx = 0L
        var prevSec = Long.MinValue
        val tagged = sorted.map { e =>
          val sec = Math.floorDiv(e._4.getTime, 1000L)
          if (prevSec != Long.MinValue && sec - prevSec > gap) idx += 1
          prevSec = sec
          (idx, e._4.getTime)
        }
        tagged.groupBy(_._1).map { case (si, ts) =>
          (u, si, ts.size.toLong, ts.map(_._2).min, ts.map(_._2).max)
        }
      }.toSet
      assert(got === want, s"trial=$trial gap=$gap")
    }
  }

  test("event analytics: funnel step times and counts equal a sequential matcher") {
    val rnd = new Random(1402)
    (1 to 4).foreach { trial =>
      val steps = Seq("s1", "s2", "s3", "s4").take(2 + rnd.nextInt(3))
      val rows = randomEvents(rnd, 250, users = 8, spanSec = 400,
        types = Seq("s1", "s2", "s3", "s4", "noise"))
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.EventAnalytics
        .funnelSteps(df, "user_id", "event_type", "ts", steps)
        .collect()
        .map(r => r.getString(0) -> steps.indices.map(i =>
          if (r.isNullAt(i + 1)) -1L else r.getTimestamp(i + 1).getTime))
        .toMap
      // Reference: t1 = first step-1 event; t_{i+1} = first step-(i+1)
      // event STRICTLY after t_i. Only entities with a t1 appear.
      val want = rows.groupBy(_._2).flatMap { case (u, evs) =>
        val byType = evs.groupBy(_._3)
        def firstAfter(ty: String, after: Long): Long =
          byType.getOrElse(ty, Nil).map(_._4.getTime)
            .filter(_ > after).sorted.headOption.getOrElse(-1L)
        val t1 = byType.getOrElse(steps.head, Nil).map(_._4.getTime)
          .sorted.headOption.getOrElse(-1L)
        if (t1 < 0) None
        else Some(u -> steps.indices.tail.scanLeft(t1) { (prev, i) =>
          if (prev < 0) -1L else firstAfter(steps(i), prev)
        })
      }
      assert(got === want, s"trial=$trial steps=$steps (per-entity)")
      val counts = graft.operators.EventAnalytics
        .funnelCounts(df, "user_id", "event_type", "ts", steps)
        .collect().head
      steps.indices.foreach { i =>
        assert(counts.getLong(i) === want.values.count(_(i) >= 0).toLong,
          s"trial=$trial n_step${i + 1}")
      }
    }
  }

  test("event analytics: retention cohort rollup equals a day-offset reference") {
    val rnd = new Random(1403)
    val dayMs = 86400000L
    (1 to 4).foreach { trial =>
      val maxOff = 2 + rnd.nextInt(8)
      val rows = randomEvents(rnd, 300, users = 10, spanSec = 20 * 86400)
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.EventAnalytics
        .retention(df, "user_id", "ts", maxOffsetDays = maxOff)
        .select(col("cohort_day").cast("string"), col("day_offset"), col("n_users"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      // Reference: UTC day per event; cohort = per-user min day; distinct
      // (user, day) pairs roll up by (cohort, offset ≤ maxOff).
      def day(ms: Long): Long = Math.floorDiv(ms, dayMs)
      def iso(d: Long): String = java.time.LocalDate.ofEpochDay(d).toString
      val ud = rows.map(e => (e._2, day(e._4.getTime))).distinct
      val cohort = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val want = ud.map { case (u, d) => (cohort(u), (d - cohort(u)).toInt) }
        .filter(_._2 <= maxOff)
        .groupBy(identity).map { case ((c, off), xs) =>
          (iso(c), off) -> xs.size.toLong
        }
      assert(got === want, s"trial=$trial maxOff=$maxOff")
    }
  }

  test("event analytics: hourly gap fill equals a dense-span reference") {
    val rnd = new Random(1404)
    (1 to 4).foreach { trial =>
      // Sparse events over a multi-day span guarantee real gaps.
      val rows = randomEvents(rnd, 40 + rnd.nextInt(60), users = 4,
        spanSec = 3 * 86400, types = Seq("a", "b", "c"))
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.EventAnalytics
        .gapFillHourly(df, "event_type", "ts")
        .select(col("event_type"), col("h").cast("long"), col("n"), col("is_gap"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      def hour(ms: Long): Long = Math.floorDiv(Math.floorDiv(ms, 1000L), 3600L) * 3600L
      val want = rows.groupBy(_._3).flatMap { case (ty, evs) =>
        val byHour = evs.groupBy(e => hour(e._4.getTime)).view.mapValues(_.size.toLong)
        val h0 = byHour.keys.min; val h1 = byHour.keys.max
        (h0 to h1 by 3600L).map { h =>
          val n = byHour.getOrElse(h, 0L)
          (ty, h, n, n == 0L)
        }
      }.toSet
      assert(got === want, s"trial=$trial")
      // Densification law: per key, rows = span hours, gaps + observed = rows.
      val spanRows = want.groupBy(_._1).view.mapValues(_.size)
      spanRows.foreach { case (ty, n) => assert(n >= 1, s"trial=$trial $ty") }
    }
  }

  test("event analytics: rolling active users equals a window-membership reference") {
    val rnd = new Random(1405)
    val dayMs = 86400000L
    (1 to 4).foreach { trial =>
      val w = 2 + rnd.nextInt(9)
      val rows = randomEvents(rnd, 250, users = 12, spanSec = 15 * 86400)
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.EventAnalytics
        .activeUsers(df, "user_id", "ts", windowDays = w)
        .select(col("d").cast("string"), col("dau"), col("wau"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // Reference: only observed days; dau = that day's distinct users,
      // wau = distinct users active on any day in [d-(w-1), d].
      val ud = rows.map(e => (Math.floorDiv(e._4.getTime, dayMs), e._2)).distinct
      val days = ud.map(_._1).distinct
      val want = days.map { d =>
        val dau = ud.count(_._1 == d).toLong
        val wau = ud.filter(x => x._1 <= d && x._1 > d - w).map(_._2).distinct.size.toLong
        java.time.LocalDate.ofEpochDay(d).toString -> ((dau, wau))
      }.toMap
      assert(got === want, s"trial=$trial w=$w")
    }
  }

  test("event analytics: winsorize bounds and clips equal a rank-select reference") {
    val rnd = new Random(1406)
    (1 to 4).foreach { trial =>
      val (loN, loD) = (1 + rnd.nextInt(2), 10 + rnd.nextInt(10))
      val (hiN, hiD) = (8 + rnd.nextInt(2), 10)
      val rows = (1 to 200).map { i =>
        (i.toLong, s"g${rnd.nextInt(4)}",
          if (rnd.nextInt(12) == 0) null.asInstanceOf[java.lang.Double]
          // A coarse value grid forces duplicate values → tie-break ranks.
          else java.lang.Double.valueOf(rnd.nextInt(40).toDouble / 4.0))
      }
      val df = rows.toDF("id", "g", "v")
      val got = graft.operators.EventAnalytics
        .winsorize(df, "g", "v", "id", ("lo", loN, loD), ("hi", hiN, hiD))
        .select(col("id"), col("lo"), col("hi"), col("clipped"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      // Reference: per group, ascending (v, id) among non-null values;
      // bound index = floor(num·(n−1)/den); clip = min(max(v, lo), hi).
      val want = rows.filter(_._3 != null).groupBy(_._2).flatMap {
        case (_, grp) =>
          val sorted = grp.sortBy(e => (e._3.doubleValue, e._1)).map(_._3.doubleValue)
          val n = sorted.length
          val lo = sorted((loN.toLong * (n - 1) / loD).toInt)
          val hi = sorted((hiN.toLong * (n - 1) / hiD).toInt)
          grp.map(e => e._1 -> ((lo, hi, math.min(math.max(e._3.doubleValue, lo), hi))))
      }
      assert(got === want, s"trial=$trial lo=$loN/$loD hi=$hiN/$hiD")
      // Clip law on the winner: nothing escapes the bounds.
      got.values.foreach { case (lo, hi, c) =>
        assert(c >= lo && c <= hi, s"trial=$trial clip out of bounds")
      }
    }
  }

  // ---- ANN quantized paths (graft.similarity.Knn) -------------------------
  // The recall gates pin the approximate quality; these properties pin the
  // CONVERGENCE LAW: every approximate searcher must equal brute force
  // exactly at its boundary parameters (refine ≥ corpus keeps every
  // candidate, nprobe = nlist probes every list, any truncation depth) —
  // the first stage can then only reorder candidates, never drop one, and
  // the exact re-rank must restore the brute-force answer bit-for-bit.

  test("ann quantized paths: each equals brute force at boundary parameters") {
    import graft.similarity.Knn
    graft.functions.GraftFunctions.register(spark)
    val rnd = new Random(1501)
    (1 to 2).foreach { trial =>
      val dim = 16 // divisible by the PQ m below
      val nC = 40 + rnd.nextInt(20)
      def vec(): Seq[Float] =
        // A coarse grid forces duplicate cosines → the neighbor_id
        // tie-break in every path's top-k actually decides ranks.
        Seq.fill(dim)((rnd.nextInt(17) - 8) / 4.0f)
      val corpus = (1 to nC).map(i =>
        (i.toLong, if (i == 3) Seq.fill(dim)(0.0f) else vec()))
        .toDF("id", "vec")
      // Query ids 1..5 overlap corpus ids → self-exclusion is exercised.
      val queries = (1 to 5).map(i => (i.toLong, vec())).toDF("id", "vec")
      val k = 1 + rnd.nextInt(5)
      val nl = 4 + rnd.nextInt(4)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "cosine", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
      val brute = rows(Knn.bruteForceTopK(queries, corpus, "id", "vec", k))
      assert(brute.nonEmpty, s"trial=$trial vacuous")
      assert(rows(Knn.sq8TopK(queries, corpus, "id", "vec", k, refine = nC))
        === brute, s"trial=$trial sq8 k=$k")
      assert(rows(Knn.binaryTopK(queries, corpus, "id", "vec", k, refine = nC))
        === brute, s"trial=$trial binary k=$k")
      val d = 1 + rnd.nextInt(dim)
      assert(rows(Knn.truncatedTopK(queries, corpus, "id", "vec", d, k,
        refine = nC)) === brute, s"trial=$trial trunc d=$d k=$k")
      assert(rows(Knn.ivfTopK(queries, corpus, "id", "vec", k,
        nlist = nl, nprobe = nl, seed = 7L + trial)) === brute,
        s"trial=$trial ivf nlist=$nl k=$k")
      assert(rows(Knn.ivfPqTopK(queries, corpus, "id", "vec", k,
        nlist = nl, m = 4, nprobe = nl, refine = nC, seed = 7L + trial))
        === brute, s"trial=$trial ivfpq nlist=$nl k=$k")
    }
  }

  test("sq8 and binary codes: encode, dot, and hamming equal bit-level references") {
    import graft.similarity.Knn
    val rnd = new Random(1502)
    // Dims straddle the 32-bit word boundary (31/32/33) and include a
    // 1-dim degenerate; one vector per batch is all zeros (encodes to
    // zero codes by contract).
    for (dim <- Seq(1, 5, 31, 32, 33, 64)) {
      val vecs = (1 to 12).map { i =>
        (i.toLong,
          if (i == 1) Seq.fill(dim)(0.0f)
          else Seq.fill(dim)((rnd.nextInt(21) - 10) / 3.0f))
      }
      val df = vecs.toDF("id", "vec")
      // SQ8 encode law: L2-normalize in doubles, scale by 127, rint, clamp.
      val gotSq = Knn.withSq8Codes(df, "vec").select("id", "sq8_codes")
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      def sqRef(v: Seq[Float]): Array[Byte] = {
        val norm = v.map(x => x.toDouble * x).sum
        if (norm <= 0.0) new Array[Byte](v.length)
        else {
          val s = 127.0 / math.sqrt(norm)
          v.map { x =>
            val q = math.rint(x * s).toInt
            math.max(-127, math.min(127, q)).toByte
          }.toArray
        }
      }
      vecs.foreach { case (id, v) =>
        assert(gotSq(id).toSeq === sqRef(v).toSeq, s"dim=$dim sq8 id=$id")
      }
      // SQ8 dot law: integer dot of the codes rescaled by 127².
      val pairs = Knn.withSq8Codes(df, "vec")
        .select(col("id"), col("sq8_codes"))
        .crossJoin(Knn.withSq8Codes(df, "vec")
          .select(col("id").as("id2"), col("sq8_codes").as("c2")))
        .filter(col("id") < col("id2"))
        .select(col("id"), col("id2"),
          graft.functions.GraftFunctions.sq8Dot(col("sq8_codes"), col("c2")))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      pairs.foreach { case ((a, b), got) =>
        val (ca, cb) = (sqRef(vecs(a.toInt - 1)._2), sqRef(vecs(b.toInt - 1)._2))
        val want = ca.zip(cb).map { case (x, y) => x * y }.sum / (127.0 * 127.0)
        assert(got === want, s"dim=$dim sq8Dot ($a,$b)")
      }
      // Binary packing law: bit b of word w set iff element w·32+b > 0.
      val gotBq = Knn.withBinaryCodes(df, "vec").select("id", "bq_codes")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      def bqRef(v: Seq[Float]): Seq[Long] = {
        val words = (v.length + 31) / 32
        (0 until words).map { w =>
          (0 until 32).foldLeft(0L) { (acc, b) =>
            val i = w * 32 + b
            if (i < v.length && v(i) > 0f) acc + (1L << b) else acc
          }
        }
      }
      vecs.foreach { case (id, v) =>
        assert(gotBq(id) === bqRef(v), s"dim=$dim bq id=$id")
      }
      // Hamming law over the packed codes (the binaryTopK first stage).
      val ham = Knn.withBinaryCodes(df, "vec")
        .select(col("id"), col("bq_codes").as("q_codes"))
        .crossJoin(Knn.withBinaryCodes(df, "vec")
          .select(col("id").as("id2"), col("bq_codes").as("c_codes")))
        .filter(col("id") < col("id2"))
        .select(col("id"), col("id2"), expr(
          "aggregate(zip_with(q_codes, c_codes, (a, b) -> bit_count(a ^ b))," +
            " 0, (acc, x) -> acc + x)").as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      ham.foreach { case ((a, b), got) =>
        val want = bqRef(vecs(a.toInt - 1)._2).zip(bqRef(vecs(b.toInt - 1)._2))
          .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
        assert(got === want, s"dim=$dim hamming ($a,$b)")
      }
    }
  }

  test("ivf build: list assignment equals the normalized argmax reference") {
    import graft.similarity.Knn
    val rnd = new Random(1503)
    (1 to 3).foreach { trial =>
      val dim = 8
      val nC = 60 + rnd.nextInt(40)
      val corpus = (1 to nC).map(i =>
        (i.toLong, if (i == 2) Seq.fill(dim)(0.0f)
         else Seq.fill(dim)((rnd.nextInt(17) - 8) / 4.0f)))
        .toDF("id", "vec")
      val nl = 3 + rnd.nextInt(6)
      val idx = Knn.buildIvf(corpus, "id", "vec", nlist = nl,
        seed = 100L + trial, maxIter = 2 + rnd.nextInt(3))
      val cents = idx.centroids
        .select("list_id", "centroid", "cnorm2").collect()
        .map(r => (r.getInt(0),
          r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      val got = idx.assigned.select("neighbor_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // Reference replays the kernel: score = 2·(v·c)/‖v‖ − ‖c‖², first
      // list wins ties (iteration in list_id order); a zero vector scores
      // −‖c‖² everywhere.
      val raw = corpus.select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1))
      raw.foreach { case (id, v) =>
        val nrm2 = v.map(x => x.toDouble * x).sum
        val inv = if (nrm2 == 0.0) 0.0 else 1.0 / math.sqrt(nrm2)
        var best = 0; var bestScore = Double.NegativeInfinity
        cents.foreach { case (lid, c, cn2) =>
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i).toDouble * c(i); i += 1 }
          val score = 2.0 * dot * inv - cn2
          if (score > bestScore) { bestScore = score; best = lid }
        }
        assert(got(id) === best, s"trial=$trial nlist=$nl id=$id")
      }
    }
  }

  test("event analytics: trending leaderboard equals a rank-take reference") {
    val rnd = new Random(1407)
    (1 to 4).foreach { trial =>
      val k = 1 + rnd.nextInt(4)
      val rows = randomEvents(rnd, 300, users = 5, spanSec = 5 * 86400,
        types = Seq("a", "b", "c", "d", "e"))
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.EventAnalytics
        .trending(df, "event_type", to_date(col("ts")), k = k)
        .select(col("d").cast("string"), col("event_type"), col("n"), col("rank"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
        .toSet
      val dayMs = 86400000L
      val want = rows.groupBy(e => Math.floorDiv(e._4.getTime, dayMs)).flatMap {
        case (d, evs) =>
          val counts = evs.groupBy(_._3).view.mapValues(_.size.toLong).toSeq
          counts.sortBy { case (ty, n) => (-n, ty) }.take(k).zipWithIndex.map {
            case ((ty, n), i) =>
              (java.time.LocalDate.ofEpochDay(d).toString, ty, n, i + 1)
          }
      }.toSet
      assert(got === want, s"trial=$trial k=$k")
    }
  }
}
