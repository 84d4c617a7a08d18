package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ScopedStorage, Tables}
import graft.dedup.Dedup
import graft.functions.{GraftFunctions, Kernels}
import graft.multimodal.Multimodal
import graft.operators.Sampling
import graft.similarity.Knn
import graft.text.{Decontamination, TextAnalysis}

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._
  GraftFunctions.register(spark)

  private def docs = Tables.documents(spark, sf)
  private def vecs = Tables.embeddings(spark, sf)

  test("kernels: fnv64/simhash/rolling/planes are deterministic and sane") {
    import org.apache.spark.unsafe.types.UTF8String
    val s = UTF8String.fromString("hello world")
    assert(Kernels.fnv64(s) === Kernels.fnv64(UTF8String.fromString("hello world")))
    assert(Kernels.fnv64(s) !== Kernels.fnv64(UTF8String.fromString("hello worle")))
    assert(Kernels.planeComponent(3, 7) === Kernels.planeComponent(3, 7))
    assert(math.abs(Kernels.planeComponent(3, 7)) < 1.0)
  }

  test("cosine expression: identical vectors → 1.0, orthogonal → 0.0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val got = df.select(GraftFunctions.cosineSim(col("a"), col("b"))).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(got(1).getDouble(0)) < 1e-9)
  }

  test("nearest-centroid expression: exact argmin, lowest-list tie-break, empty table") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(0.0, 1.0))
    val df = Seq(
      Array(0.9, 0.1),  // nearest to centroid 0
      Array(0.1, 0.9),  // nearest to 1 and 2 equally → lowest list id (1)
      Array(0.0, 1.0)). // exact match on the tied pair → still list 1
      toDF("v")
    val got = df.select(GraftFunctions.nearestCentroid(col("v"), cents)).as[Int].collect()
    assert(got.toSeq === Seq(0, 1, 1))
    // Empty centroid table → -1 sentinel, not an exception.
    val none = df.limit(1)
      .select(GraftFunctions.nearestCentroid(col("v"), Array.empty[Array[Double]]))
      .as[Int].head()
    assert(none === -1)
    // The SQL surface agrees with the Column API (registry path).
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("nc_probe")
    val viaSql = spark.sql(
      "SELECT graft_nearest_centroid(v, array(array(1.0d, 0.0d), array(0.0d, 1.0d))) FROM nc_probe")
      .as[Int].collect()
    assert(viaSql.toSeq === Seq(0, 1, 1))
  }

  test("simhash: near-identical docs within small hamming distance, random docs far") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e f g h i j k l m n o p", "a b c d e f g h i j k l m n o p"),
      ("a b c d e f g h i j k l m n o p", "q r s t u v w x y z aa bb cc dd ee ff"))
      .toDF("t1", "t2")
    val hd = df.select(bit_count(
      GraftFunctions.simhash64(split(col("t1"), " "))
        .bitwiseXOR(GraftFunctions.simhash64(split(col("t2"), " ")))).as("h"))
      .collect().map(_.getInt(0))
    assert(hd(0) === 0)
    assert(hd(1) > 10)
  }

  test("IVF ANN retrieves planted originals at rank 1") {
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val top = Knn.ivfTopK(probes, vecs, "vec_id", "embedding", k = 3)
    val top1 = top.filter(col("rank") === 1).collect()
    assert(top1.length === 5)
    top1.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") === r.getAs[Long]("query_id") - 5000000L)
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    // nprobe = nlist degenerates to exact search: must agree with brute force
    val exact = Knn.bruteForceTopK(probes, vecs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank")
    val ivfFull = Knn.ivfTopK(probes, vecs, "vec_id", "embedding", k = 3,
      nlist = 8, nprobe = 8).select("query_id", "neighbor_id", "rank")
    assert(ivfFull.except(exact).count() === 0)
    assert(exact.except(ivfFull).count() === 0)
  }

  test("IVF index built once serves multiple query batches identically") {
    // The build/search split: one buildIvf, two independent searches —
    // each must equal the one-shot ivfTopK with the same parameters (the
    // quantizer is seeded, so results are deterministic).
    val index = Knn.buildIvf(vecs, "vec_id", "embedding")
    for (lo <- Seq(0L, 5L)) {
      val probes = vecs.filter(col("vec_id") >= lo && col("vec_id") < lo + 5)
        .withColumn("vec_id", col("vec_id") + 5000000L)
      val viaIndex = Knn.searchIvf(index, probes, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank")
      val oneShot = Knn.ivfTopK(probes, vecs, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank")
      assert(viaIndex.except(oneShot).count() === 0)
      assert(oneShot.except(viaIndex).count() === 0)
    }
  }

  test("IVF-PQ retrieves planted originals at rank 1 through compressed codes") {
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val top1 = Knn.ivfPqTopK(probes, vecs, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1).collect()
    assert(top1.length === 5)
    top1.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") === r.getAs[Long]("query_id") - 5000000L)
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
  }

  test("IVF-PQ index: m code bytes per row, routing agrees with IVF-Flat, " +
      "build/search split equals one-shot") {
    val index = Knn.buildIvfPq(vecs, "vec_id", "embedding", nlist = 8, m = 8)
    // Compressed representation: exactly m bytes per row, no vector column.
    assert(index.encoded.columns.toSeq === Seq("neighbor_id", "list_id", "codes"))
    val lens = index.encoded
      .select(length(col("codes")).as("len")).distinct().collect()
    assert(lens.map(_.getInt(0)).toSeq === Seq(8))
    // Same seed ⇒ the coarse quantizer is IDENTICAL to buildIvf's, so the
    // two index families can never disagree on routing.
    val flat = Knn.buildIvf(vecs, "vec_id", "embedding", nlist = 8)
    val flatLists = flat.assigned.select("neighbor_id", "list_id")
    assert(index.encoded.select("neighbor_id", "list_id")
      .except(flatLists).count() === 0)
    // Build/search split equals the one-shot path (seeded, deterministic).
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val viaIndex = Knn.searchIvfPq(index, probes, vecs, "vec_id", "embedding",
      k = 3, nprobe = 4).select("query_id", "neighbor_id", "rank")
    val oneShot = Knn.ivfPqTopK(probes, vecs, "vec_id", "embedding", k = 3,
      nlist = 8).select("query_id", "neighbor_id", "rank")
    assert(viaIndex.except(oneShot).count() === 0)
    assert(oneShot.except(viaIndex).count() === 0)
  }

  test("persisted IVF indexes reload identically and partition-prune probed lists") {
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    // IVF-PQ round-trip: saved tables → loaded index → identical results.
    val pq = Knn.buildIvfPq(vecs, "vec_id", "embedding", nlist = 8, m = 8)
    Knn.saveIvfPq(pq, "default.ivfpq_spec")
    val pqLoaded = Knn.loadIvfPq(spark, "default.ivfpq_spec")
    assert(pqLoaded.nlist === pq.nlist && pqLoaded.m === pq.m)
    assert(pqLoaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val mem = Knn.searchIvfPq(pq, probes, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
    val disk = Knn.searchIvfPq(pqLoaded, probes, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(disk.except(mem).count() === 0)
    assert(mem.except(disk).count() === 0)
    // The candidate join over the list_id-partitioned table must
    // dynamic-partition-prune the scan to the probed lists — the I/O analog
    // of only walking probed inverted lists.
    val plan = disk.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the encoded scan:\n$plan")
    // IVF-Flat round-trip through the same persistence contract.
    val flat = Knn.buildIvf(vecs, "vec_id", "embedding", nlist = 8)
    Knn.saveIvf(flat, "default.ivf_spec")
    val flatLoaded = Knn.loadIvf(spark, "default.ivf_spec")
    assert(flatLoaded.nlist === flat.nlist)
    val memF = Knn.searchIvf(flat, probes, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
    val diskF = Knn.searchIvf(flatLoaded, probes, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(diskF.except(memF).count() === 0)
    assert(memF.except(diskF).count() === 0)
    Seq("ivfpq_spec_centroids", "ivfpq_spec_codebooks", "ivfpq_spec_encoded",
      "ivf_spec_centroids", "ivf_spec_assigned")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS default.$t"))
  }

  test("IVF-PQ with full probing and refine ≥ corpus agrees with brute force") {
    // nprobe = nlist and a refine window wider than any list degenerate
    // ADC to a candidate-ordering detail: the exact-cosine refine must
    // reproduce brute-force top-k exactly.
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val exact = Knn.bruteForceTopK(probes, vecs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank")
    val pq = Knn.ivfPqTopK(probes, vecs, "vec_id", "embedding", k = 3,
      nlist = 4, nprobe = 4, refine = 1000)
      .select("query_id", "neighbor_id", "rank")
    assert(pq.except(exact).count() === 0)
    assert(exact.except(pq).count() === 0)
  }

  test("LSH bucket cap bounds candidate pairs for a pathological hot bucket") {
    import spark.implicits._
    // 1,000 identical docs — uncapped, every band bucket would generate
    // ~500k pairs; the exact-dup pre-routing collapses them to one rep and
    // reports pairs for exactly 20 members: 20·19/2 = 190.
    val clones = (0 until 1000)
      .map(i => (i.toLong, "the same boilerplate text repeated over and over again forever"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashNearDupPairs(clones, "doc_id", "text",
      Dedup.MinHashConfig(maxBucketSize = 20))
    val mhCount = mh.count()
    assert(mhCount > 0 && mhCount <= 190)
    val sh = Dedup.simhashNearDupPairs(clones, "doc_id", "text", maxBucketSize = 20)
    val shCount = sh.count()
    assert(shCount > 0 && shCount <= 190)
  }

  test("exact-dup pre-routing: 100k identical docs complete, bounded, still linked") {
    // The hot-bucket enforcement gate (VERDICT r2 item 1): a group of 10⁵
    // identical docs must (a) never hit a single-task window sort of the
    // whole group — the collapse groupBy is map-side combined and the member
    // cap hash-mod-bounds the window input — (b) produce a bounded pair
    // report, and (c) still LINK to its near-dup neighbors through the
    // representative's fan-out.
    val boiler = "the same boilerplate text repeated over and over again forever"
    val clones = spark.range(100000)
      .select(col("id").as("doc_id"), lit(boiler).as("text"))
    val near = spark.range(1)
      .select((col("id") + 2000000L).as("doc_id"), lit(boiler + " extra").as("text"))
    val docs = clones.unionByName(near)
    val cap = 16
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      Dedup.MinHashConfig(maxBucketSize = cap)).cache()
    // bounded: ≤ cap·(cap-1)/2 within-group + cap cross pairs
    val n = pairs.count()
    assert(n > 0 && n <= cap * (cap - 1) / 2 + cap, s"pair count $n out of bounds")
    // within-group pairs report the exact measure
    assert(pairs.filter(col("id_b") < 2000000L && col("jaccard") =!= 1.0).count() === 0)
    // the near-dup neighbor is linked via the group representative (id 0)
    assert(pairs.filter(col("id_a") === 0L && col("id_b") === 2000000L).count() === 1)
    // ngram path under the same corpus (shares collapse + capped fan-out)
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, maxBucketSize = cap)
    val ngN = ng.count()
    assert(ngN > 0 && ngN <= cap * (cap - 1) / 2 + cap)
    pairs.unpersist()
  }

  test("releaseCaches drains the scoped persists a near-dup run registered") {
    // A minhash run scopes ≥2 persists (collapse membership + text reps +
    // the verify candidate list); after the caller materializes the pairs,
    // ScopedStorage.releaseAll must free them all and report doing so —
    // and a second call must find nothing left to free.
    ScopedStorage.releaseAll() // drain anything earlier tests scoped
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    pairs.count()
    val released = ScopedStorage.releaseAll()
    assert(released >= 2, s"expected >=2 scoped caches, released $released")
    assert(ScopedStorage.releaseAll() === 0)
  }

  test("verifyJaccard equals allPairsJaccard on its candidates, self and cross") {
    import spark.implicits._
    val sf001 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    val shipped = Tables.documents(spark, sf001).select("doc_id", "text")
    val docs = shipped
      .unionByName(shipped.filter(col("doc_id") === 3L)   // planted exact copy
        .withColumn("doc_id", lit(900000L)))
      .unionByName(Seq((900001L, "zq1 zq2 zq3 zq4 zq5")).toDF("doc_id", "text"))
    val truth = Dedup.allPairsJaccard(docs, "doc_id", "text", shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Near pairs, every pair among the first 20 docs (most share a few
    // shingles), the planted copy, and a pair with no shared shingle.
    val near = truth.filter(_._2 >= 0.3).keys.toSeq
    val some = for (a <- 0L until 20L; b <- a + 1 until 20L) yield (a, b)
    val cand = (near ++ some :+ (3L, 900000L) :+ (0L, 900001L)).distinct
    assert(truth((3L, 900000L)) === 1.0)
    assert(!truth.contains((0L, 900001L)))
    val expected = cand.flatMap(p => truth.get(p).map(p -> _)).toMap
    assert(expected.size > near.size && expected.size < cand.size)

    val sh = docs.select(col("doc_id").as("id"),
      explode(Dedup.shingles(col("text"), 3)).as("sh"))
    def run(a: DataFrame, b: DataFrame, pairs: Seq[(Long, Long)]) =
      Dedup.verifyJaccard(a, b, pairs.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Self form: one frame on both sides.
    assert(run(sh, sh, cand) === expected)
    // Cross form: the b side in a disjoint id space.
    val shift = 10000000L
    val crossed = run(sh, sh.withColumn("id", col("id") + shift),
      cand.map { case (a, b) => (a, b + shift) })
    assert(crossed === expected.map { case ((a, b), j) => (a, b + shift) -> j })
    ScopedStorage.releaseAll()
  }

  test("vecMean: exact pooling, null rows skipped, ragged dims rejected") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows: Seq[(Long, Array[Float])] = Seq(
      (1L, Array(1f, 2f, 3f)),
      (1L, Array(3f, 4f, 5f)),
      (2L, Array(10f, 20f, 30f)),
      (2L, null))
    val got = rows.toDF("g", "v").repartition(5)
      .groupBy("g").agg(GraftFunctions.vecMean(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L) === Seq(2.0, 3.0, 4.0))
    assert(got(2L) === Seq(10.0, 20.0, 30.0)) // the null ROW is skipped
    // All-null group → null result.
    val allNull = Seq((1L, null: Array[Float])).toDF("g", "v")
      .groupBy("g").agg(GraftFunctions.vecMean(col("v")).as("m")).head()
    assert(allNull.isNullAt(1))
    // Ragged dimensions are corrupt input — must throw, not average overlap.
    val ex = intercept[Exception] {
      Seq((1L, Array(1f)), (1L, Array(1f, 2f))).toDF("g", "v")
        .groupBy("g").agg(GraftFunctions.vecMean(col("v"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("dimension mismatch")))
  }

  test("compression ratio: boilerplate low, noise high, empty defined, codegen path") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      "spam ham " * 500,
      (0 until 500).map(i => java.lang.Long.toHexString(i * 2654435761L + 11)).mkString(" "),
      "").toDF("text")
    val got = df.select(graft.text.TextAnalysis.compressionRatio(col("text")).as("r"))
      .collect().map(_.getDouble(0))
    assert(got(0) < 0.05, s"repetitive ratio ${got(0)}")
    assert(got(1) > got(0) * 4, s"varied ${got(1)} vs repetitive ${got(0)}")
    assert(got(1) <= 1.1)
    assert(got(2) === 1.0) // empty string: defined, not NaN/div-by-zero
    // Deterministic across repeated evaluation (thread-local zlib reset).
    val again = df.select(graft.text.TextAnalysis.compressionRatio(col("text")).as("r"))
      .collect().map(_.getDouble(0))
    assert(got.toSeq === again.toSeq)
  }

  test("cross-corpus near-dup: exact pre-route, near verify, member fan-out, ref collapse") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val corpus = Seq(
      (1L, base),             // byte-identical to ref 100
      (2L, base),             // dup of 1 — must inherit the match via fan-out
      (3L, base + "lambda"),  // near ref 100 (and ref 102, its exact twin)
      (4L, "completely different text with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val reference = Seq(
      (100L, base),
      (101L, base),           // identical ref content → collapses to 100
      (102L, base + "lambda"))
      .toDF("ref_id", "text")
    val got = Dedup.minhashNearDupPairsAgainst(corpus, "doc_id", "text",
      reference, "ref_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Byte-identical matches at exactly 1.0, for BOTH members of the dup
    // group; the identical ref pair collapsed to its min id (100, not 101).
    assert(got((1L, 100L)) === 1.0)
    assert(got((2L, 100L)) === 1.0)
    assert(!got.keySet.exists(_._2 == 101L))
    // The near-match doc matches both distinct ref contents; its exact
    // twin (ref 102) merges to a single 1.0 row (max over exact + LSH).
    assert(got((3L, 102L)) === 1.0)
    assert(got.contains((3L, 100L)) && got((3L, 100L)) < 1.0 && got((3L, 100L)) >= 0.7)
    // And docs 1/2 near-match ref 102 symmetrically.
    assert(got.contains((1L, 102L)) && got.contains((2L, 102L)))
    // The unrelated doc matches nothing.
    assert(!got.keySet.exists(_._1 == 4L))
    // The filter wrapper keeps exactly the unmatched corpus rows.
    val survivors = Dedup.dropNearDupsAgainst(corpus, "doc_id", "text",
      reference, "ref_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(4L))

    // SimHash twin over the same corpora: byte-identical docs (and their
    // dup-group members) at hamming 0 via the cap-immune pre-route —
    // including doc 3 against its exact ref twin 102; identical ref
    // content collapses to min id; the unrelated doc matches nothing; and
    // every reported distance respects the bound. (Whether the one-token
    // edit (3, 100) surfaces is sketch-dependent beyond the 4-chunk
    // pigeonhole guarantee of hamming ≤ 3 — deliberately not asserted.)
    val sh = Dedup.simhashNearDupPairsAgainst(corpus, "doc_id", "text",
      reference, "ref_id", "text", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(sh((1L, 100L)) === 0 && sh((2L, 100L)) === 0)
    assert(!sh.keySet.exists(_._2 == 101L))
    assert(sh((3L, 102L)) === 0)
    assert(!sh.keySet.exists(_._1 == 4L))
    assert(sh.values.forall(h => h >= 0 && h <= 10))
  }

  test("exact dedup keeps exactly one row per text, lowest id") {
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 10000))
    val kept = Dedup.exact(doubled, Seq("text"), Seq(col("doc_id")))
    assert(kept.count() === docs.select("text").distinct().count())
    assert(kept.filter(col("doc_id") >= 10000).count() === 0)
  }

  test("exact dedup: 100k identical docs through the training-pipeline shape, no window funnel") {
    // VERDICT r4 item 1: the composed pipelines' exact dedup must never
    // window-partition by raw text — a 100k-copy boilerplate group has to
    // reach the reducer as map-side-combined partials, not sort in one task.
    val boiler = "a varied sentence with plenty of distinct tokens for the quality filters"
    val clones = spark.range(100000)
      .select(col("id").as("doc_id"), lit(boiler).as("text"))
    val extras = spark.range(5)
      .select((col("id") + 500000L).as("doc_id"),
        concat(lit("unique document number "), col("id"),
          lit(" carrying its own tail of words")).as("text"))
    // pipe_training_data's stage order: scan-local filters → exact dedup
    val filtered = clones.unionByName(extras)
      .filter(TextAnalysis.tokenCount(col("text")) >= 5)
      .filter(round(TextAnalysis.dupNgramCharFrac(col("text")), 6) < 0.2)
    val deduped = Dedup.exact(filtered, Seq("text"), Seq(col("doc_id")))
    assert(PlanCheck.windows(deduped).isEmpty,
      s"window sort in exact-dedup plan:\n${deduped.queryExecution.executedPlan}")
    assert(PlanCheck.aggregates(deduped).nonEmpty,
      s"expected an aggregate plan:\n${deduped.queryExecution.executedPlan}")
    val kept = deduped.collect()
    assert(kept.length === 6)
    val ids = kept.map(_.getAs[Long]("doc_id")).toSet
    assert(ids === (500000L until 500005L).toSet + 0L) // min-id winner per group
  }

  test("minhash LSH finds planted near-duplicates with high jaccard") {
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", concat(col("text"), lit(" tail"))))
    val pairs = Dedup.minhashNearDupPairs(planted, "doc_id", "text").collect()
    val plantedFound = pairs.count(r =>
      r.getLong(1) === r.getLong(0) + 10000 && r.getDouble(2) > 0.7)
    assert(plantedFound === 10, s"found $plantedFound of 10 planted pairs")
  }

  test("simhash LSH finds exact copies at hamming 0") {
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10).withColumn("doc_id", col("doc_id") + 10000))
    val pairs = Dedup.simhashNearDupPairs(planted, "doc_id", "text").collect()
    assert(pairs.count(r => r.getLong(1) === r.getLong(0) + 10000 && r.getInt(2) === 0) === 10)
  }

  test("prefix-filtered ngram jaccard finds planted near-duplicates") {
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", concat(col("text"), lit(" tail"))))
    val pairs = Dedup.ngramJaccardPairs(planted, "doc_id", "text", 3, 0.8).collect()
    val plantedFound = pairs.count(r =>
      r.getLong(1) === r.getLong(0) + 10000 && r.getDouble(2) >= 0.8)
    assert(plantedFound === 10, s"found $plantedFound of 10 planted pairs")
  }

  test("embedding near-dup finds planted copies at cosine ~1") {
    val planted = vecs.unionByName(
      vecs.filter(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 10000))
    val pairs = Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding", 0.99).collect()
    assert(pairs.count(r => r.getLong(1) === r.getLong(0) + 10000) === 10)
  }

  test("semantic dedup: planted copies removed, chain rule, synthetic clusters") {
    import spark.implicits._
    // Two well-separated clusters; a2 ~ a1 (cos .99), b2 == b1 exactly,
    // c is alone near B but below threshold to everything.
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.99f, 0.141f)),
      (10L, Array(0f, 1f)), (11L, Array(0f, 1f)),
      (20L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.semanticNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.98, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (10L, 11L)))
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.98, nlist = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 10L, 20L))

    // Pairwise (not greedy-sequential) removal: a~b and b~c with a!~c
    // still drops BOTH b and c.
    val chain = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.995f, 0.0999f)),
      (3L, Array(0.98f, 0.198f)))
      .toDF("vec_id", "embedding")
    val keptChain = Dedup.semanticDedup(chain, "vec_id", "embedding",
      threshold = 0.99, nlist = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptChain === Set(1L))

    // Planted-copy protocol on the real table (the dd_semantic contract).
    val planted = vecs.unionByName(
      vecs.filter(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 10000))
    val keptReal = Dedup.semanticDedup(planted, "vec_id", "embedding",
      threshold = 0.98, nlist = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptReal === vecs.select("vec_id").collect().map(_.getLong(0)).toSet)
  }

  test("brute-force knn: self-similarity is 1 with self included, monotone ranks") {
    val q = vecs.filter(col("vec_id") === 0)
    val res = Knn.bruteForceTopK(q, vecs, "vec_id", "embedding", 10)
      .orderBy("rank").collect()
    assert(res.length === 10)
    val cosines = res.map(_.getDouble(2))
    assert(cosines.sameElements(cosines.sortBy(-_)))
  }

  test("lsh knn retrieves the original of a duplicated query as top hit") {
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val res = Knn.lshTopK(probes, vecs, "vec_id", "embedding", 1).collect()
    assert(res.length === 5)
    assert(res.forall(r => r.getLong(1) === r.getLong(0) - 5000000L))
    assert(res.forall(_.getDouble(2) > 0.999))
  }

  test("language id picks a deterministic language with asc-code tiebreak") {
    import spark.implicits._
    val df = Seq("der hund und die katze ist hier",
      "the cat and the dog is here",
      "xyzzy plugh").toDF("text")
    val got = df.select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))
    assert(got(0) === "de")
    assert(got(1) === "en")
    assert(got(2) === "de") // zero hits everywhere → lexically smallest code
  }

  test("multimodal: features are partition-parallel and byte-exact") {
    val media = Multimodal.packDocuments(docs.limit(100)).repartition(7)
    val feats = Multimodal.decode(spark, media)
    assert(feats.count() === 100)
    val joined = feats.join(docs, col("media_id") === col("doc_id"))
      .filter(col("n_bytes") =!= length(col("text")))
    assert(joined.count() === 0) // ascii corpus: bytes == chars
    // Text payloads carry no media magic: every row takes the raw fallback.
    assert(feats.filter(col("format") =!= "raw").count() === 0)
    val hist = feats.select(col("histogram")).head.getSeq[Double](0)
    assert(hist.length === 16)
    assert(math.abs(hist.sum - 1.0) < 1e-9)
  }

  test("multimodal: NULL payload quarantines as a raw row, never aborts") {
    import spark.implicits._
    // packDocuments emits media = NULL for NULL-text docs (the schema
    // declares it nullable) — decode must flag, not NPE the task.
    val media = Seq((1L, Some(Array[Byte](65, 66))), (2L, None))
      .toDF("media_id", "media")
    val feats = Multimodal.decode(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(2L).getAs[String]("format") === "raw")
    assert(feats(2L).getAs[Int]("n_bytes") === 0)
    assert(feats(1L).getAs[Int]("n_bytes") === 2)
    // Degenerate parameters fail loudly, not fabricate frames:
    // sequence(0, -1) would generate a DESCENDING [0, -1].
    intercept[IllegalArgumentException] {
      Multimodal.frameSample(media, n = 0)
    }
    intercept[IllegalArgumentException] {
      graft.multimodal.MediaCodecs.resizeNearest(
        graft.multimodal.MediaCodecs.LumaGrid("ppm", 1, 1, 255, Array(0)),
        65536, 65536)
    }
  }

  test("media codecs: PPM/BMP/WAV decode hand-computed fixtures exactly") {
    import graft.multimodal.MediaCodecs

    // PPM 16×16 gray gradient: every gray level 0..255 exactly once →
    // uniform 16-bin luminance histogram.
    val ppm = MediaCodecs.decode(Multimodal.Fixtures.ppmGradient16)
    assert(ppm.format === "ppm")
    assert(ppm.width === 16 && ppm.height === 16 && ppm.nSamples === -1L)
    assert(ppm.histogram.toSeq === Seq.fill(16)(1.0 / 16))

    // BMP 4×4 all-gray-128: luminance 128 → bin 8 gets everything.
    val bmp = MediaCodecs.decode(Multimodal.Fixtures.bmpGray4)
    assert(bmp.format === "bmp")
    assert(bmp.width === 4 && bmp.height === 4)
    assert(bmp.histogram.toSeq === (0 until 16).map(i => if (i == 8) 1.0 else 0.0))

    // WAV 8 samples alternating ±16384: bins (±16384 + 32768) >> 12 =
    // 12 and 4, half each.
    val wav = MediaCodecs.decode(Multimodal.Fixtures.wavAlternating8)
    assert(wav.format === "wav")
    assert(wav.nSamples === 8L && wav.width === -1)
    assert(wav.histogram.toSeq ===
      (0 until 16).map(i => if (i == 4 || i == 12) 0.5 else 0.0))

    // A hand-built BMP with non-uniform pixels: 2×1, pixels gray 0x10 and
    // 0xFF → bins 1 and 15, half each (checks stride/padding handling:
    // row stride is 8 with 2 padding bytes that must NOT be counted).
    val buf = java.nio.ByteBuffer.allocate(54 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(62).putInt(0).putInt(54)
    buf.putInt(40).putInt(2).putInt(1).putShort(1).putShort(24)
    buf.putInt(0).putInt(8).putInt(0).putInt(0).putInt(0).putInt(0)
    buf.put(0x10.toByte).put(0x10.toByte).put(0x10.toByte)
    buf.put(0xff.toByte).put(0xff.toByte).put(0xff.toByte)
    buf.put(0.toByte).put(0.toByte) // row padding
    val bmp2 = MediaCodecs.decode(buf.array())
    assert(bmp2.format === "bmp" && bmp2.width === 2 && bmp2.height === 1)
    assert(bmp2.histogram.toSeq ===
      (0 until 16).map(i => if (i == 1 || i == 15) 0.5 else 0.0))

    // Corrupt payloads that START like media must fall back, not throw:
    // a "BM" text, a truncated PPM header, a RIFF/WAVE with no data chunk.
    assert(MediaCodecs.decode("BM just some text that is long enough to pass the 54-byte minimum check".getBytes("US-ASCII")).format === "raw")
    assert(MediaCodecs.decode("P6\n999 999\n255\n".getBytes("US-ASCII")).format === "raw")
    assert(MediaCodecs.decode(("RIFF1234WAVE" + "x" * 20).getBytes("US-ASCII")).format === "raw")
    assert(MediaCodecs.decode(Array.empty[Byte]).format === "raw")

    // Adversarial headers must not throw out of a Spark task:
    // (a) PPM pixel bytes above the declared maxval — clamped, not AIOOBE;
    val dirtyPpm = MediaCodecs.decode(
      ("P6\n2 2\n1\n" + "a" * 12).getBytes("US-ASCII"))
    assert(dirtyPpm.format === "ppm")
    assert(dirtyPpm.histogram(15) === 1.0) // all pixels clamp to the top bin
    // (b) BMP width that overflows int in w*3 — bounds check must hold;
    val hugeBmp = java.nio.ByteBuffer.allocate(100)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hugeBmp.put('B'.toByte).put('M'.toByte).putInt(100).putInt(0).putInt(54)
    hugeBmp.putInt(40).putInt(0x30000000).putInt(1).putShort(1).putShort(24)
    hugeBmp.putInt(0)
    assert(MediaCodecs.decode(hugeBmp.array()).format === "raw")
    // (c) WAV chunk size that wraps the walker position negative.
    val hugeWav = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hugeWav.put("RIFF".getBytes("US-ASCII")).putInt(36)
    hugeWav.put("WAVE".getBytes("US-ASCII"))
    hugeWav.put("JUNK".getBytes("US-ASCII")).putInt(0x7ffffff0)
    assert(MediaCodecs.decode(hugeWav.array()).format === "raw")
  }

  test("multimodal: frame sampling emits n frames per media row") {
    val media = Multimodal.packDocuments(docs.limit(20))
    val frames = Multimodal.frameSample(media, n = 4)
    assert(frames.count() === 80)
    assert(frames.groupBy("media_id").count().filter(col("count") =!= 4).count() === 0)
  }

  test("multimodal resize: nearest-neighbor mapping, BMP orientation, raw passthrough") {
    import graft.multimodal.MediaCodecs
    // Gradient 16×16 (pixel (x,y) = 16y+x) → 4×4 reads (4x, 4y) = 64y+4x.
    val g = MediaCodecs.lumaGrid(Multimodal.Fixtures.ppmGradient16).get
    assert(MediaCodecs.resizeNearest(g, 4, 4).toSeq ===
      (for (y <- 0 until 4; x <- 0 until 4) yield 64 * y + 4 * x))
    // Non-square target + upscale: 2×8 from the same grid.
    val r28 = MediaCodecs.resizeNearest(g, 2, 8)
    assert(r28.length === 16)
    assert(r28.toSeq === (for (y <- 0 until 8; x <- 0 until 2)
      yield 16 * (y * 16 / 8) + x * 16 / 2))
    // BMP orientation: positive header height stores rows BOTTOM-UP; the
    // grid must come back top-down. 1×2 image, top=200 gray, bottom=10:
    // stored row 0 is the BOTTOM (10), so luma must read [200, 10].
    val buf = java.nio.ByteBuffer.allocate(54 + 2 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + 8).putInt(0).putInt(54)
    buf.putInt(40).putInt(1).putInt(2).putShort(1).putShort(24)
    buf.putInt(0).putInt(8).putInt(2835).putInt(2835).putInt(0).putInt(0)
    buf.put(10.toByte).put(10.toByte).put(10.toByte).put(0.toByte)   // bottom
    buf.put(200.toByte).put(200.toByte).put(200.toByte).put(0.toByte) // top
    val bg = MediaCodecs.lumaGrid(buf.array()).get
    assert(bg.width === 1 && bg.height === 2)
    assert(bg.luma.toSeq === Seq(200, 10), "BMP grid must be top-down")
    // The DataFrame operator: images resize, audio/raw rows survive as
    // flagged raw rows with no pixels.
    val spark2 = spark
    import spark2.implicits._
    val media = Seq[(Long, Array[Byte])](
      (1L, Multimodal.Fixtures.ppmGradient16),
      (2L, Multimodal.Fixtures.wavAlternating8))
      .toDF("media_id", "media")
    val out = Multimodal.resize(spark, media, 2, 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getAs[Seq[Int]]("luma")))).toMap
    assert(out(1L) === (("ppm", Seq(0, 8, 128, 136))))
    assert(out(2L) === (("raw", Seq.empty[Int])))
  }

  test("sampling: deterministic, repartition-stable, fraction-accurate") {
    import spark.implicits._
    val base = spark.range(20000).toDF("id")
    val a = Sampling.hashSample(base, "id", 0.3, salt = 5L)
      .select("id").as[Long].collect().toSet
    // same rows regardless of physical partitioning
    val b = Sampling.hashSample(base.repartition(7), "id", 0.3, salt = 5L)
      .select("id").as[Long].collect().toSet
    assert(a === b)
    val frac = a.size.toDouble / 20000
    assert(frac > 0.28 && frac < 0.32, s"kept fraction $frac")
    // different salts draw (near-)independent samples
    val c = Sampling.hashSample(base, "id", 0.3, salt = 99L)
      .select("id").as[Long].collect().toSet
    val overlap = a.intersect(c).size.toDouble / a.size
    assert(overlap > 0.2 && overlap < 0.4, s"salt overlap $overlap")
  }

  test("sampling: split is exhaustive, disjoint, and matches shares") {
    import spark.implicits._
    val base = spark.range(20000).toDF("id")
    val split = Sampling.withSplit(base, "id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = 1L)
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum === 20000L) // every row in exactly one split
    assert(counts.keySet === Set("train", "valid", "test"))
    assert(math.abs(counts("train") / 20000.0 - 0.8) < 0.02)
    assert(math.abs(counts("valid") / 20000.0 - 0.1) < 0.02)
    // membership is a pure function of the key: re-derivation agrees
    val again = Sampling.withSplit(base.repartition(13), "id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = 1L)
    assert(split.select("id", "split").except(again.select("id", "split")).count() === 0)
  }

  test("repetition kernels: boilerplate scores high, varied text low") {
    import spark.implicits._
    val rows = Seq(
      ("looped", "spam ham spam ham spam ham spam ham"),
      ("varied", "one two three four five six seven eight"),
      ("empty", ""),
      ("short", "hi")).toDF("name", "text")
    val m = rows.select(col("name"),
      TextAnalysis.topNgramCharFrac(col("text")).as("top2"),
      TextAnalysis.dupNgramCharFrac(col("text")).as("dup5"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // "spam ham" occurs 4x of 7 2-gram slots; every 5-gram repeats
    assert(m("looped")._1 > 0.9, s"looped top2 ${m("looped")._1}")
    assert(m("looped")._2 > 0.9, s"looped dup5 ${m("looped")._2}")
    // all grams unique: top2 = one 2-gram's share, nothing duplicated
    assert(m("varied")._1 < 0.3 && m("varied")._2 === 0.0)
    assert(m("empty") === ((0.0, 0.0)))
    assert(m("short")._2 === 0.0)
  }

  test("decontamination: flags eval overlaps, clean corpus survives") {
    import spark.implicits._
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10 && col("doc_id") < 200)
      .unionByName(bench.select(
        (col("doc_id") + 5000000L).as("doc_id"),
        concat(lit("aa bb cc dd "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars")))
    val flagged = Decontamination.contaminated(corpus, bench,
      "doc_id", "text", "text", n = 5, minHits = 1)
    val flaggedIds = flagged.select("doc_id").as[Long].collect().toSet
    // every planted near-copy shares its 5-grams with the eval set
    assert((0L until 10L).map(_ + 5000000L).toSet.subsetOf(flaggedIds))
    val clean = Decontamination.decontaminate(corpus, bench,
      "doc_id", "text", "text", n = 5, minHits = 1)
    assert(clean.count() === corpus.count() - flagged.count())
    assert(clean.filter(col("doc_id") >= 5000000L).count() === 0)
    // the benchmark gram side must broadcast — the corpus never shuffles
    assert(PlanCheck.broadcastHashJoins(flagged).nonEmpty,
      s"benchmark grams must broadcast:\n${flagged.queryExecution.executedPlan}")
  }

  test("sampling: null keys are in no sample and get a null split") {
    import spark.implicits._
    val base = Seq(Some(1L), Some(2L), Some(3L), None)
      .toDF("id").withColumn("grp", lit("g"))
    // hashSample / mixture: a null key has no bucket → row excluded
    assert(Sampling.hashSample(base, "id", 1.0).filter(col("id").isNull).count() === 0)
    assert(Sampling.hashSample(base, "id", 1.0).count() === 3)
    assert(Sampling.mixture(base, "id", "grp", Map.empty, 1.0)
      .filter(col("id").isNull).count() === 0)
    // withSplit keeps the row but assigns a NULL label — never a split
    val split = Sampling.withSplit(base, "id",
      Seq("train" -> 0.5, "test" -> 0.5), salt = 3L)
    assert(split.count() === 4)
    assert(split.filter(col("id").isNull && col("split").isNotNull).count() === 0)
    assert(split.filter(col("id").isNotNull && col("split").isNull).count() === 0)
  }

  test("IVF training-sample membership is a pure function of ids (layout-independent)") {
    val base = spark.range(5000).toDF("nid")
    def members(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Knn.trainingSample(df, "nid", 1000, seed = 42L)
        .collect().map(_.getLong(0)).toSet
    val a = members(base)
    val b = members(base.repartition(13))
    val c = members(base.sort(col("nid").desc))
    assert(a.size === 1000)
    assert(a === b)
    assert(a === c)
  }

  test("normalization folds casing/URL/whitespace variants to identical bytes") {
    import spark.implicits._
    val df = Seq(
      "Hello   World visit https://a.com/x?q=1&utm=2 or Bob@ex.org now",
      "hello world visit HTTP://b.org/other   or carol.j@ex2.io  now ").toDF("text")
    val got = df.select(TextAnalysis.normalize(col("text"))).as[String].collect()
    assert(got(0) === "hello world visit <url> or <email> now")
    assert(got(0) === got(1))
  }

  test("sampling: mixture applies per-group rates in one scan") {
    val mixed = Sampling.mixture(docs, "doc_id", "lang",
      rates = Map("en" -> 0.0), defaultRate = 1.0, salt = 2L)
    // rate 0 removes the group entirely; rate 1 keeps every other row
    assert(mixed.filter(col("lang") === "en").count() === 0)
    assert(mixed.count() === docs.filter(col("lang") =!= "en").count())
  }

  test("stratified sampling: exact per-group counts, deterministic, no window funnel") {
    val sampled = Sampling.stratified(docs, "doc_id", "lang", k = 7, salt = 3L)
    // Exactly min(k, group size) per group.
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === sizes.map { case (g, n) => g -> math.min(7L, n) })
    // Deterministic and repartition-stable: same keys on a different layout.
    val again = Sampling.stratified(docs.repartition(17), "doc_id", "lang",
      k = 7, salt = 3L)
    assert(sampled.select("doc_id").except(again.select("doc_id")).count() === 0)
    assert(again.select("doc_id").except(sampled.select("doc_id")).count() === 0)
    // The scale contract: selection must be the bounded-heap aggregation,
    // never a window sort partitioned by group.
    assert(PlanCheck.windows(sampled).isEmpty,
      s"window sort in stratified plan:\n${sampled.queryExecution.executedPlan}")
    // Null keys are never selected.
    val withNulls = docs.withColumn("doc_id",
      when(col("doc_id") % 2 === 0, col("doc_id")))
    val nn = Sampling.stratified(withNulls, "doc_id", "lang", k = 5, salt = 3L)
    assert(nn.filter(col("doc_id").isNull).count() === 0)
  }

  test("token chunking: full coverage, overlap preserved, no redundant tail") {
    import spark.implicits._
    // 10 tokens, window 8, overlap 4 -> starts {1, 5}: chunk0 = t1..t8,
    // chunk1 = t5..t10 (clipped). 8 tokens -> exactly one chunk (a second
    // window would be wholly contained). Empty text -> one empty chunk.
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 8).map(i => s"t$i").mkString(" ")),
      (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        posexplode(TextAnalysis.chunkTokens(col("text"), 8, 4))
          .as(Seq("idx", "chunk")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toSet === Set(
      (1L, 0, (1 to 8).map(i => s"t$i").mkString(" ")),
      (1L, 1, (5 to 10).map(i => s"t$i").mkString(" ")),
      (2L, 0, (1 to 8).map(i => s"t$i").mkString(" ")),
      (3L, 0, "")))
  }

  test("content identity: transposed nulls are distinct, null matches null") {
    import spark.implicits._
    // Spark hash expressions skip null children; without the per-column
    // null flags in hashKeys, (NULL,"x") and ("x",NULL) would collapse to
    // one group and cross-corpus dedup would wrongly drop non-identical
    // rows.
    val corpus = Seq(
      (1L, Option("x"), Option.empty[String]),
      (2L, Option.empty[String], Option("x")),
      (3L, Option.empty[String], Option.empty[String])).toDF("id", "a", "b")
    val kept = Dedup.exact(corpus, Seq("a", "b"), Seq(col("id")))
    assert(kept.count() === 3) // three distinct null patterns, no conflation
    // NULL == NULL under identity semantics: a reference row with the same
    // null pattern removes the corpus row.
    val ref = Seq((Option.empty[String], Option("x"))).toDF("ra", "rb")
    val survivors = Dedup.exactAgainst(corpus, Seq("a", "b"), ref, Seq("ra", "rb"))
      .select("id").as[Long].collect().sorted
    assert(survivors === Array(1L, 3L))
  }

  test("cross-corpus exact dedup drops reference-identical rows only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"),
      (4L, "alpha beta")).toDF("doc_id", "text")
    val reference = Seq("alpha beta", "unseen text").toDF("ref_text")
    val kept = Dedup.exactAgainst(corpus, Seq("text"), reference, Seq("ref_text"))
    // Both copies of the reference-identical text go; the rest survive
    // untouched (within-corpus duplicates are exact()'s job, not this op's).
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(2L, 3L))
    // Empty reference keeps everything.
    val none = Seq.empty[String].toDF("ref_text")
    assert(Dedup.exactAgainst(corpus, Seq("text"), none, Seq("ref_text"))
      .count() === 4)
  }

  test("bloom cross-corpus dedup equals the plain anti-join, including under heavy FPs") {
    import spark.implicits._
    // 500-doc corpus, 80 rows byte-identical to the 100-row reference.
    // The filter is sized far too small (expectedDistinct=8 at fpp 0.2) so
    // a large share of clean rows false-positive into the verify branch —
    // the output must STILL equal exactAgainst row-for-row (a Bloom yes is
    // only a candidacy claim; a Bloom no must be definitive).
    val corpus = (0 until 500)
      .map(i => (i.toLong, if (i % 6 == 0) s"shared text number ${i % 80}" else s"unique corpus doc $i"))
      .toDF("doc_id", "text")
    val reference = (0 until 80).map(i => s"shared text number $i").toDF("ref_text")
    val viaBloom = Dedup.exactAgainstBloom(corpus, Seq("text"),
      reference, Seq("ref_text"), expectedDistinct = 8, fpp = 0.2)
    val viaJoin = Dedup.exactAgainst(corpus, Seq("text"), reference, Seq("ref_text"))
    assert(viaBloom.except(viaJoin).count() === 0)
    assert(viaJoin.except(viaBloom).count() === 0)
    // Null-pattern identity flows through the same hashKeys: reference row
    // with a null column removes only the matching null pattern.
    val nCorpus = Seq((1L, Option("x"), Option.empty[String]),
      (2L, Option.empty[String], Option("x"))).toDF("id", "a", "b")
    val nRef = Seq((Option.empty[String], Option("x"))).toDF("ra", "rb")
    assert(Dedup.exactAgainstBloom(nCorpus, Seq("a", "b"), nRef, Seq("ra", "rb"))
      .select("id").as[Long].collect().toSeq === Seq(1L))
    // Empty reference keeps everything (bloom over zero items).
    val none = Seq.empty[String].toDF("ref_text")
    assert(Dedup.exactAgainstBloom(corpus, Seq("text"), none, Seq("ref_text"))
      .count() === 500)
  }

  test("ngram jaccard: a pair at EXACTLY the threshold boundary is found") {
    import spark.implicits._
    // Shingle sets of sizes 8 and 10 with intersection 8: J = 8/10 = 0.8,
    // exactly the threshold. This is the sf0.1 pair the prefix filter
    // silently dropped before the epsilon-guarded ceil: 0.8·10 floats to
    // 8.000000000000002, shortening the prefix below the completeness
    // bound AND failing the size-ratio prefilter.
    val docs = Seq(
      (1L, "small join join merge scan group a big join key"),
      (2L, "small join join merge scan group a big join key dup dup")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("text operators: empty corpora flow through without erroring") {
    import spark.implicits._
    import graft.text.{Bpe, LineDedup, QualityRules, UnigramLm}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(UnigramLm.scoreDocs(empty, "doc_id", "text").count() === 0)
    assert(UnigramLm.scoreDocsBigram(empty, "doc_id", "text").count() === 0)
    assert(LineDedup.removeDuplicateLines(empty, "doc_id", "text").count() === 0)
    assert(LineDedup.duplicatedLineStats(empty, "doc_id", "text").count() === 0)
    assert(QualityRules.withRuleColumns(empty, "text").count() === 0)
    val m = Bpe.train(empty, "text", numMerges = 5)
    assert(m.merges.isEmpty)
    assert(Seq((1L, "anything")).toDF("doc_id", "text")
      .select(Bpe.tokenCount(m, col("text"))).as[Int].head() === 9,
      "merge-free model yields chars + </w>")
    assert(Sampling.topKByGroup(empty, "doc_id", "text", "doc_id", 3).count() === 0)
    assert(Sampling.weightedSample(
      empty.withColumn("w", lit(1.0)), "doc_id", "w").count() === 0)
    // A blank benchmark row must not poison blank corpus docs: blank text
    // shingles to [""] and the empty gram is excluded from overlap.
    val blankBench = Seq("").toDF("bench_text")
    val blanks = Seq((1L, ""), (2L, "real content words here"))
      .toDF("doc_id", "text")
    assert(Decontamination.contaminated(blanks, blankBench,
      "doc_id", "text", "bench_text", n = 3).count() === 0)
    assert(Decontamination.contaminationScore(blanks, blankBench,
      "doc_id", "text", "bench_text", n = 3)
      .filter(col("doc_id") === 1L).count() === 0,
      "blank doc has no meaningful grams, so no score row")
  }

  test("near-dup operators: empty and singleton corpora yield empty pair sets") {
    // Degenerate inputs drive every internal path — the collapse
    // aggregation, its persisted membership, banding, bucket aggregation,
    // verification, fan-out — over zero and one rows; all must produce an
    // empty pair report without erroring (no head() on empty, no required
    // shuffle key).
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((1L, "a single document with several distinct words")).toDF("doc_id", "text")
    for (corpus <- Seq(empty, one)) {
      assert(Dedup.minhashNearDupPairs(corpus, "doc_id", "text").count() === 0)
      assert(Dedup.simhashNearDupPairs(corpus, "doc_id", "text").count() === 0)
      assert(Dedup.ngramJaccardPairs(corpus, "doc_id", "text").count() === 0)
      assert(Dedup.exact(corpus, Seq("text"), Seq(col("doc_id"))).count() === corpus.count())
    }
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairs(emptyVec, "vec_id", "embedding").count() === 0)
  }

  test("topKByGroup: exact top-k by score with key tiebreak, null score excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Option(10.0)), (2L, "a", Option(30.0)), (3L, "a", Option(30.0)),
      (4L, "a", Option(5.0)), (5L, "b", Option(1.0)), (6L, "b", Option.empty[Double])
    ).toDF("id", "g", "score")
    val got = Sampling.topKByGroup(df, "id", "g", "score", k = 2)
      .select("id").as[Long].collect().toSet
    // Group a: 30.0 ties break to lower id (2 then 3); group b: only the
    // non-null-score row qualifies.
    assert(got === Set(2L, 3L, 5L))
    // Matches the row_number formulation on the real table.
    val ops = Sampling.topKByGroup(docs, "doc_id", "source", "n_chars", k = 5)
      .select("doc_id").as[Long].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val windowed = docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("doc_id").as[Long].collect().toSet
    assert(ops === windowed)
  }

  test("dedupLinesWithinDoc: first occurrence kept in order, blanks exempt") {
    import spark.implicits._
    import graft.text.LineDedup
    val df = Seq(
      (1L, "a\nb\na\n\nb\n\nc"), // dups of a and b dropped, blanks kept
      (2L, "x"),
      (3L, "  \n  \nx\n  ") // only-space lines are blanks, all kept
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        LineDedup.dedupLinesWithinDoc(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "a\nb\n\n\nc")
    assert(got(2L) === "x")
    assert(got(3L) === "  \n  \nx\n  ")
  }

  test("unigram LM: frequent-token docs score higher, OOV floors below vocab") {
    import spark.implicits._
    import graft.text.UnigramLm
    val df = Seq(
      (1L, "the the the the"),   // most frequent token only
      (2L, "the zzq"),           // one frequent + one hapax
      (3L, "qqz wwx")            // rare tokens only
    ).toDF("doc_id", "text")
    // vocab of 1 ⇒ only "the" is in-model; everything else hits the floor.
    val got = UnigramLm.scoreDocs(df, "doc_id", "text", vocabSize = 1)
      .select(col("doc_id"), col("avg_logprob")).as[(Long, Double)]
      .collect().toMap
    assert(got(1L) > got(2L) && got(2L) > got(3L))
    // doc 1: p(the) = 5/8 exactly (5 of the corpus's 8 tokens) → avg =
    // ln(0.625) rounded to 6.
    assert(math.abs(got(1L) - BigDecimal(math.log(0.625))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
    // Floor is below every in-vocab logprob.
    assert(got(3L) < math.log(1.0 / 8))
  }

  test("weightedSample: extremes, monotone membership, salt independence") {
    import spark.implicits._
    def kept(w: org.apache.spark.sql.Column, salt: Long = 3L): Set[Long] =
      Sampling.weightedSample(docs.withColumn("__w", w), "doc_id", "__w", salt)
        .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert(kept(lit(1.0)) === all, "weight 1 keeps everything")
    assert(kept(lit(0.0)).isEmpty && kept(lit(null).cast("double")).isEmpty,
      "weight 0 and null keep nothing")
    // Membership is monotone in weight at fixed salt (the threshold only
    // grows), and deterministic per salt.
    val w3 = kept(lit(0.3)); val w7 = kept(lit(0.7))
    assert(w3.subsetOf(w7) && w3 === kept(lit(0.3)))
    assert(w3.size > 0 && w3.size < all.size && w7.size < all.size)
    assert(kept(lit(0.3), salt = 4L) !== w3, "salts draw different samples")
  }

  test("cross-embedding decontamination: identity found, precision exact, wrapper drops") {
    import spark.implicits._
    val corpus = vecs.filter(col("vec_id") < 300)
    val ref = corpus.filter(col("vec_id") < 20)
      .select((col("vec_id") + 7000000L).as("ref_id"),
        col("embedding").as("ref_vec"))
    val pairs = Dedup.embeddingNearDupPairsAgainst(corpus, "vec_id",
      "embedding", ref, "ref_id", "ref_vec", threshold = 0.98)
    val got = pairs.select(col("id"), col("ref_id")).as[(Long, Long)]
      .collect().toSet
    // Every planted identical copy is found (identity pre-route).
    for (i <- 0L until 20L) assert(got.contains((i, 7000000L + i)))
    // Precision: every reported pair really clears the threshold under
    // the exact kernel (brute-force recompute).
    val brute = corpus.as("c").crossJoin(ref.as("r"))
      .select(col("c.vec_id").as("id"), col("r.ref_id"),
        GraftFunctions.cosineSim(col("c.embedding"), col("r.ref_vec")).as("cos"))
      .filter(col("cos") >= 0.98)
      .select("id", "ref_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute) && brute.subsetOf(got),
      "at 0.98 on this corpus LSH+identity finds exactly the brute set")
    // The drop wrapper removes exactly the matched corpus ids.
    val dropped = Dedup.dropEmbeddingNearDupsAgainst(corpus, "vec_id",
      "embedding", ref, "ref_id", "ref_vec", threshold = 0.98)
    assert(dropped.count() === corpus.count() - got.map(_._1).size)
    // Empty reference keeps everything.
    val noRef = ref.filter(lit(false))
    assert(Dedup.dropEmbeddingNearDupsAgainst(corpus, "vec_id", "embedding",
      noRef, "ref_id", "ref_vec").count() === corpus.count())
  }

  test("bpe: training reproduces the reference merge sequence; apply generalizes") {
    import spark.implicits._
    import graft.text.Bpe
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower widest widest widest"),
      (3L, "newest newest newest newest newest newest")
    ).toDF("doc_id", "text")
    val model = Bpe.train(corpus, "text", numMerges = 10)
    // Derived independently (by hand for the first three, and by a
    // from-scratch reference implementation for the rest).
    assert(model.merges.toSeq === Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"),
      ("e", "w"), ("ew", "est</w>"), ("n", "ewest</w>"), ("low", "</w>"),
      ("d", "est</w>")))
    val got = Seq("lowest", "", "  ").toDF("t")
      .select(Bpe.tokens(model, col("t"))).as[Seq[String]].collect()
    assert(got(0) === Seq("low", "est</w>"), "unseen word composes subwords")
    assert(got(1).isEmpty && got(2).isEmpty, "blank text has no tokens")
    // Id table: sorted base symbols then merges; UNK = vocabulary.length.
    assert(model.baseSymbols.toSeq ===
      Seq("</w>", "d", "e", "i", "l", "n", "o", "r", "s", "t", "w"))
    assert(model.vocabulary.length === 21)
    val ids = Seq("lowest", "lox").toDF("t")
      .select(Bpe.tokenIds(model, col("t"))).as[Seq[Int]].collect()
    assert(ids(0) === Seq(15, 13), "low=15, est</w>=13")
    assert(ids(1) === Seq(14, 21, 0), "lo=14, UNK x=21, </w>=0")
    // Save/load round-trip preserves the model exactly.
    graft.text.Bpe.saveBpe(spark, model, "bpe_roundtrip_spec")
    val loaded = graft.text.Bpe.loadBpe(spark, "bpe_roundtrip_spec")
    assert(loaded.merges.toSeq === model.merges.toSeq)
    assert(loaded.baseSymbols.toSeq === model.baseSymbols.toSeq)
    spark.sql("DROP TABLE IF EXISTS bpe_roundtrip_spec")
    // Real corpus: every word is >= 1 token, so bpe count >= word count;
    // training caps at the vocabulary's pair supply when it runs dry.
    val m2 = Bpe.train(docs, "text", numMerges = 20, maxWords = 500)
    assert(m2.merges.length === 20)
    val bad = docs.select(TextAnalysis.tokenCount(col("text")).as("w"),
        Bpe.tokenCount(m2, col("text")).as("b"))
      .filter(col("b") < col("w")).count()
    assert(bad === 0)
  }

  test("nfc normalize: composes decomposed marks, idempotent, ascii untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "café"),        // e + combining acute → é
      (2L, "café"),         // already composed
      (3L, "plain ascii text")
    ).toDF("id", "t")
    val got = df.select(col("id"),
        TextAnalysis.nfcNormalize(col("t")).as("n"),
        length(TextAnalysis.nfcNormalize(col("t"))).as("len"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === (("café", 4)), "decomposed composes and shortens")
    assert(got(1L)._1 === got(2L)._1, "both spellings normalize identically")
    assert(got(3L) === (("plain ascii text", 16)))
    // Idempotence: normalizing a normalized string is the identity.
    val twice = df.select(TextAnalysis.nfcNormalize(
      TextAnalysis.nfcNormalize(col("t"))).as("n2")).as[String].collect()
    assert(twice.toSeq === df.select(TextAnalysis.nfcNormalize(col("t")))
      .as[String].collect().toSeq)
  }

  test("bigram LM: hit, backoff, and floor paths score to hand-computed means") {
    import spark.implicits._
    import graft.text.UnigramLm
    // Corpus: "a b a b" + "a c". Counts: a=3 b=2 c=1 (N=6); bigrams
    // (a,b)=2 (b,a)=1 (a,c)=1.
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    def q(x: Double): Long = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    val mean = SparkTestSession.microMeanRef _
    // Full model: every path is a bigram hit.
    val full = UnigramLm.scoreDocsBigram(df, "doc_id", "text",
        vocabSize = 10, bigramSize = 10)
      .select(col("doc_id"), col("avg_logprob")).as[(Long, Double)]
      .collect().toMap
    val lpA = q(math.log(3.0 / 6)); val lpAB = q(math.log(2.0 / 3))
    val lpBA = q(math.log(1.0 / 2)); val lpAC = q(math.log(1.0 / 3))
    assert(math.abs(full(1L) - mean(Seq(lpA, lpAB, lpBA, lpAB))) < 1e-9)
    assert(math.abs(full(2L) - mean(Seq(lpA, lpAC))) < 1e-9)
    // bigramSize=1 keeps only (a,b): (b,a) and (a,c) back off to
    // backoff + unigram; vocabSize=1 keeps only 'a', flooring b and c.
    val cut = UnigramLm.scoreDocsBigram(df, "doc_id", "text",
        vocabSize = 1, bigramSize = 1)
      .select(col("doc_id"), col("avg_logprob")).as[(Long, Double)]
      .collect().toMap
    val floor = q(math.log(0.5 / 6)); val bo = q(math.log(0.4))
    assert(math.abs(cut(1L) -
      mean(Seq(lpA, lpAB, bo + lpA, lpAB))) < 1e-9)
    assert(math.abs(cut(2L) - mean(Seq(lpA, bo + floor))) < 1e-9)
  }

  test("sq8 quantization: codes bound error, zero vectors safe, topk exact on copies") {
    import spark.implicits._
    val df = vecs.limit(100)
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.sq8Encode(col("embedding")).as("codes"))
    // Codes are one byte per dim and the quantized cosine tracks the exact
    // one within the int8 rounding bound (≤ dim · (0.5/127) in the worst
    // case; empirically ~1e-2 at dim 64).
    val err = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(500)
      .select(abs(
        GraftFunctions.sq8Dot(col("a.codes"), col("b.codes")) -
          GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")))
        .as("e"))
      .agg(max(col("e"))).as[Double].head()
    assert(err < 0.05, s"sq8 cosine error $err too large")
    assert(df.select(length(col("codes"))).distinct().as[Int].collect()
      .toSeq === Seq(64))
    // Zero vector encodes to all zeros and dots to 0 against anything.
    val z = Seq((1L, Array.fill(4)(0.0f)), (2L, Array(1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), GraftFunctions.sq8Encode(col("embedding")).as("c"))
    val zc = z.orderBy("vec_id").select("c").as[Array[Byte]].collect()
    assert(zc(0).toSeq === Seq.fill(4)(0.toByte))
    assert(Kernels.sq8Dot(zc(0), zc(1)) === 0.0)
    // Planted exact copies come back at rank 1 through the quantized path.
    val probes = vecs.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 6000000L)
    val got = Knn.sq8TopK(probes, vecs, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)]
      .collect().toMap
    for (i <- 0L until 10L) assert(got(6000000L + i) === i)
  }

  test("gopher rules: each structural rule fires on its planted extreme") {
    import spark.implicits._
    import graft.text.QualityRules
    val good = (Seq("the", "be", "to", "of") ++
      Seq.fill(60)("ordinary prose words flowing here")).mkString(" ")
    val docs = Seq(
      (1L, good),                                       // passes everything
      (2L, "too few words to keep"),                    // word count < 50
      (3L, ("x " * 60).trim),                           // mean word len < 3
      (4L, (Seq.fill(60)("word") :+ ("#" * 30)).mkString(" ")), // symbols
      (5L, Seq.fill(10)("- bullet item line").mkString("\n")),  // bullets
      (6L, Seq.fill(10)("trailing thought...").mkString("\n")), // ellipsis
      (7L, (1 to 60).map(_.toString).mkString(" ")),    // alpha frac ≤ 0.8
      (8L, Seq.fill(60)("zq").mkString(" ")),           // no stopwords
      (9L, Seq.fill(8)("same exact line").mkString("\n") + "\nunique one"),
      // Ten unique paragraphs separated by blank lines: the repeated
      // blank SEPARATORS must not count as duplicate lines.
      (10L, (1 to 10).map(i => s"unique paragraph number $i").mkString("\n\n"))
    ).toDF("doc_id", "text")
    val got = QualityRules.withRuleColumns(docs, "text")
      .select(col("doc_id"), col("quality_keep"), col("repetition_keep"))
      .as[(Long, Boolean, Boolean)].collect()
      .map { case (k, q, r) => k -> ((q, r)) }.toMap
    assert(got(1L) === ((true, true)))
    for (id <- 2L to 8L) assert(!got(id)._1, s"doc $id should fail quality")
    assert(got(9L)._2 === false, "duplicate-line doc should fail repetition")
    assert(got(1L)._2 && got(2L)._2, "single/unique-line docs pass repetition")
    assert(got(10L)._2, "blank paragraph separators are not repetition")
    // Excess-occurrence convention: of 8 copies of the 15-char line, 7
    // are duplicates; the 10-char unique line is not.
    val fracs = QualityRules.withRuleColumns(docs, "text")
      .filter(col("doc_id") === 9L)
      .select(col("dup_line_frac"), col("dup_line_char_frac"))
      .as[(Double, Double)].head()
    assert(math.abs(fracs._1 - 7.0 / 9.0) < 1e-9)
    assert(math.abs(fracs._2 - (7.0 * 15) / (8 * 15 + 10)) < 1e-9)
  }

  test("line dedup: corpus-duplicated lines removed, blanks exempt, round-trip") {
    import spark.implicits._
    import graft.text.LineDedup
    val footer = "all rights reserved by the corpus"
    val docs = Seq(
      (1L, s"alpha unique line\n\n$footer"),
      (2L, s"beta unique line\n$footer\ngamma unique line"),
      (3L, s"$footer"),                       // whole doc is boilerplate
      (4L, "delta unique line\n\n\nepsilon line") // blanks + uniques only
    ).toDF("doc_id", "text")
    val clean = LineDedup.removeDuplicateLines(docs, "doc_id", "text")
      .select(col("doc_id"), col("clean_text")).as[(Long, String)]
      .collect().toMap
    assert(clean(1L) === "alpha unique line\n")         // blank line kept
    assert(clean(2L) === "beta unique line\ngamma unique line")
    assert(clean(3L) === "")                            // fully boilerplate
    assert(clean(4L) === docs.filter(col("doc_id") === 4L)
      .select("text").as[String].head(), "untouched doc round-trips")
    // Blank lines never flagged even though they repeat across docs.
    val stats = LineDedup.duplicatedLineStats(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_lines"), col("n_dup"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, d) => k -> ((n, d)) }.toMap
    assert(stats(1L) === ((2L, 1L)))
    assert(stats(2L) === ((3L, 1L)))
    assert(stats(3L) === ((1L, 1L)))
    assert(stats(4L) === ((2L, 0L)))
    // hashLines=false carries line text end-to-end: identical answers.
    val cleanNoHash = LineDedup.removeDuplicateLines(docs, "doc_id", "text",
        hashLines = false)
      .select(col("doc_id"), col("clean_text")).as[(Long, String)]
      .collect().toMap
    assert(cleanNoHash === clean)
  }

  test("C4 rules: line filter, page policy, sentence minimum") {
    import spark.implicits._
    import graft.text.C4Rules
    val good = "this is a perfectly fine sentence about engines."
    val docsC4 = Seq(
      // 0: three good sentences → kept intact.
      0L -> Seq(good, good, good).mkString("\n"),
      // 1: line-level drops — no terminal punct / short line / javascript —
      //    leaves 3 good sentences, page survives with exactly the 3.
      1L -> Seq(good, "no terminal punctuation on this line", "Click here.",
        "please enable javascript to continue viewing.", good, good)
        .mkString("\n"),
      // 2: only 2 sentences survive → page dropped by the minimum.
      2L -> Seq(good, good, "unpunctuated trailing line").mkString("\n"),
      // 3: lorem ipsum anywhere on the page → dropped outright.
      3L -> Seq(good, good, "lorem ipsum dolor sit amet obviously.", good)
        .mkString("\n"),
      // 4: a curly brace anywhere on the page → dropped outright.
      4L -> Seq(good, good, "var f = function() { return 1; };", good)
        .mkString("\n"),
      // 5: one line with THREE marks satisfies the sentence minimum alone.
      5L -> "first point. second point. third point, finally done.",
      // 6: a terminal double-quote keeps the LINE but is not a sentence
      //    mark — 2 kept lines yield only 1 sentence → page dropped.
      6L -> Seq("he said \"this is a quoted line of text\"",
        good).mkString("\n"))
      .toDF("doc_id", "text")
    val got = C4Rules.withC4Columns(docsC4, "text")
      .select(col("doc_id"), col("n_kept_lines"), col("n_sentences"),
        col("c4_keep"), col("clean_text"))
      .as[(Long, Int, Int, Boolean, String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(0L) === ((3, 3, true, Seq(good, good, good).mkString("\n"))))
    assert(got(1L)._1 === 3 && got(1L)._3 === true,
      "line-level violations drop lines, not the page")
    assert(got(2L) === ((2, 2, false, Seq(good, good).mkString("\n"))),
      "fewer than 3 surviving sentences drops the page")
    assert(got(3L)._3 === false, "lorem ipsum drops the page")
    assert(got(4L)._3 === false, "curly brace drops the page")
    assert(got(5L) === ((1, 3, true,
      "first point. second point. third point, finally done.")),
      "sentence minimum counts marks, not lines")
    // Quote-terminated line is KEPT (terminal punct) and contributes no
    // sentence mark of its own — 2 kept lines, 1 sentence → page dropped.
    assert(got(6L) === ((2, 1, false,
      Seq("he said \"this is a quoted line of text\"", good).mkString("\n"))))
    // Blocklist rule: whole-word, case-insensitive, punctuation-robust,
    // empty list never hits.
    val bl = docsC4.select(col("doc_id"),
        C4Rules.blocklistHit(col("text"),
          Seq("JAVASCRIPT", "lorem", "engine")).as("h"),
        C4Rules.blocklistHit(col("text"), Seq("engines")).as("punct"),
        C4Rules.blocklistHit(col("text"), Nil).as("none"))
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(bl(1L)._1 === true, "case-insensitive word hit")
    assert(bl(3L)._1 === true)
    assert(bl(0L)._1 === false,
      "substring of a word ('engines' vs 'engine') must NOT hit")
    assert(bl(0L)._2 === true,
      "line-final word sheds its '.' — punctuation-adjacent words DO hit")
    assert(bl(0L)._3 === false && bl(3L)._3 === false, "empty list never hits")
  }

  test("bm25: rarity outranks frequency, length normalizes, ties break on id") {
    import spark.implicits._
    import graft.text.Bm25
    // rare appears in 1 doc, common in 3; doc 30 is a long doc with the
    // same tf of common as doc 20 — BM25's length normalization must rank
    // the short doc first.
    val corpus = Seq(
      (10L, "rare alpha beta"),
      (20L, "common alpha beta"),
      (30L, "common alpha beta gamma delta epsilon zeta eta theta iota"),
      (40L, "common rare alpha")).toDF("doc_id", "text")
    val qs = Seq((1L, "rare"), (2L, "common"), (3L, "nosuchterm")).toDF("qid", "qt")
    val got = Bm25.search(corpus, "doc_id", "text", qs, "qid", "qt", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val q1 = got.filter(_._1 == 1L).sortBy(_._4).map(_._2)
    assert(q1.toSeq === Seq(10L, 40L), "only docs containing 'rare'")
    val q2 = got.filter(_._1 == 2L).sortBy(_._4).map(_._2)
    assert(q2.head === 20L, "shorter doc with equal tf ranks first")
    assert(q2.toSet === Set(20L, 30L, 40L))
    assert(!got.exists(_._1 == 3L), "no postings → no rows for the query")
    // The rare term's idf exceeds the common term's: doc 40 scores higher
    // for q1 (rare) than for q2 (common) despite identical tf/len.
    val s40q1 = got.find(r => r._1 == 1L && r._2 == 40L).get._3
    val s40q2 = got.find(r => r._1 == 2L && r._2 == 40L).get._3
    assert(s40q1 > s40q2)
    // Determinism: a second run returns identical micro-exact scores.
    val again = Bm25.search(corpus, "doc_id", "text", qs, "qid", "qt", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(again.sortBy(r => (r._1, r._4)).toSeq === got.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("nb classifier: disjoint vocabs classify perfectly, prior-only ties break on class") {
    import spark.implicits._
    import graft.text.NbClassifier
    val labeled = Seq(
      (1L, "apfel birne kirsche apfel", "de"),
      (2L, "birne apfel apfel kirsche", "de"),
      (3L, "apple pear cherry apple", "en"),
      (4L, "pear apple apple cherry", "en")).toDF("doc_id", "text", "lang")
    val score = Seq(
      (10L, "apfel kirsche"),
      (11L, "apple cherry pear"),
      (12L, "zzz qqq")). // zero vocab tokens → priors only → tie → 'de'
      toDF("doc_id", "text")
    val got = NbClassifier.trainPredict(labeled, score, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(10L -> "de", 11L -> "en", 12L -> "de"))
    // Vocab cut: with vocabSize=1 only the globally most frequent term
    // ('apple'/'apfel' tie at 4 each → 'apfel' by term asc) is a feature;
    // doc 11 then has no features and falls to the prior tie → 'de'.
    val cut = NbClassifier.trainPredict(labeled, score, "doc_id", "text",
      "lang", vocabSize = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(10L) === "de" && cut(11L) === "de")
  }

  test("pcm samples: garbage, truncation, and non-PCM formats all refuse safely") {
    import graft.multimodal.{MediaCodecs, Multimodal}
    val good = Multimodal.Fixtures.wavAlternating8
    assert(MediaCodecs.pcmSamples(good).get.toSeq ===
      Seq(16384, -16384, 16384, -16384, 16384, -16384, 16384, -16384))
    assert(MediaCodecs.pcmSamples(Array.empty[Byte]).isEmpty)
    assert(MediaCodecs.pcmSamples("RIFFxxxxWAVE".getBytes).isEmpty,
      "header-only payload has no fmt/data chunks")
    assert(MediaCodecs.pcmSamples(good.take(30)).isEmpty,
      "truncated before the data chunk")
    assert(MediaCodecs.pcmSamples((0 until 64).map(_.toByte).toArray).isEmpty)
    // The histogram decoder built on the same walk still agrees.
    assert(MediaCodecs.decodeWav(good).get.nSamples === 8L)
  }

  test("byte distance: unsigned deltas, length penalty, scene cuts find boundaries") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val df = Seq(
      (Array[Byte](0, 1, 2), Array[Byte](0, 1, 2)),       // identical → 0
      (Array[Byte](0x7F, 0), Array[Byte](-0x80, 0)),      // unsigned: |127-128|=1
      (Array[Byte](1, 1, 1), Array[Byte](1))              // surplus: 2×255
    ).toDF("a", "b")
    val got = df.select(GraftFunctions.byteDistance(col("a"), col("b")))
      .as[Long].collect().toSeq
    assert(got === Seq(0L, 1L, 510L))
    // Scene cuts on a two-scene clip: exactly the boundary frame flags.
    val clip = (Array.fill(32)(0x01.toByte) ++ Array.fill(32)(0x05.toByte))
    val cuts = Multimodal.sceneCuts(
      Seq((9L, clip)).toDF("media_id", "media"), n = 4, threshold = 10L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(cuts.toSeq === Seq((9L, 2, 64L)), s"got ${cuts.toSeq}")
  }

  test("rebalance: binding class keeps all, shares approached, guards loud") {
    import spark.implicits._
    // 400 a / 100 b / 100 c keyed 0..599. Target 50/25/25: S = min(800,
    // 400, 400) = 400, so b and c (the binding classes) keep EVERYTHING
    // and a downsamples toward 200.
    val df = ((0 until 400).map(i => (i.toLong, "a")) ++
      (400 until 500).map(i => (i.toLong, "b")) ++
      (500 until 600).map(i => (i.toLong, "c"))).toDF("id", "cls")
    val kept = Sampling.rebalance(df, "id", "cls",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25), salt = 3L)
      .groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("b") === 100L && kept("c") === 100L,
      s"binding classes must keep everything, got $kept")
    assert(kept("a") > 150L && kept("a") < 250L,
      s"'a' should downsample to ~200 of 400, got ${kept("a")}")
    // Untargeted classes drop entirely.
    val dropped = Sampling.rebalance(df.withColumn("cls",
        when(col("id") < 10, "junk").otherwise(col("cls"))),
      "id", "cls", Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25), salt = 3L)
    assert(dropped.filter(col("cls") === "junk").count() === 0L)
    // Determinism: same salt, same membership.
    val again = Sampling.rebalance(df, "id", "cls",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25), salt = 3L).count()
    assert(again === kept.values.sum)
    intercept[IllegalArgumentException] { // shares must sum to 1
      Sampling.rebalance(df, "id", "cls", Map("a" -> 0.5, "b" -> 0.25), 3L)
    }
    intercept[IllegalArgumentException] { // typo'd class: loud, not empty
      Sampling.rebalance(df, "id", "cls",
        Map("a" -> 0.5, "b" -> 0.25, "nosuch" -> 0.25), 3L)
    }
  }

  test("dedup ledger: within-batch, cross-round, and replay dedup; ledger grows once") {
    import spark.implicits._
    val db = "graft_spec_ledger"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.ledger"
    val r1 = Dedup.ledgerIngest(t,
      Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "text"),
      Seq("text"), Seq(col("id")))
    assert(r1.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L),
      "within-batch dup keeps the tie-break winner")
    val r2 = Dedup.ledgerIngest(t,
      Seq((4L, "y"), (5L, "z")).toDF("id", "text"),
      Seq("text"), Seq(col("id")))
    assert(r2.select("id").as[Long].collect().toSeq === Seq(5L),
      "cross-round dup drops against the ledger")
    val r3 = Dedup.ledgerIngest(t,
      Seq((6L, "x"), (7L, "z")).toDF("id", "text"),
      Seq("text"), Seq(col("id")))
    assert(r3.count() === 0L, "full replay survives nothing")
    assert(spark.table(t).count() === 3L, "ledger = one hash pair per distinct content")
    // Hash columns never leak into the survivor frame.
    assert(!r2.columns.exists(_.startsWith("__")))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("dsir: target-like docs outweigh neutral outweigh anti-target; resample deterministic") {
    import spark.implicits._
    import graft.text.Dsir
    val target = Seq((100L, "aa aa aa bb")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "aa aa aa"),   // target-frequent tokens → positive weight
      (2L, "cc cc cc"),   // all OOV → exactly 0
      (3L, "bb bb")).     // raw-frequent, target-rare → negative
      toDF("doc_id", "text")
    val w = Dsir.importanceWeights(raw, target, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > 0.0, s"target-like doc must weigh positive, got ${w(1L)}")
    assert(w(2L) === 0.0, "OOV-only doc is weight-neutral")
    assert(w(3L) < 0.0, s"anti-target doc must weigh negative, got ${w(3L)}")
    // Gumbel-top-k: deterministic in (id, salt); k cuts; different salts
    // may reorder but membership stays a subset of raw.
    val r1 = Dsir.resample(raw, target, "doc_id", "text", k = 2, salt = 5L,
      vocabSize = 2).select("doc_id", "noised").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val r2 = Dsir.resample(raw, target, "doc_id", "text", k = 2, salt = 5L,
      vocabSize = 2).select("doc_id", "noised").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(r1.toSeq === r2.toSeq, "resample is a pure function of (corpus, salt)")
    assert(r1.length === 2 && r1.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)))
  }

  test("aHash: shift-invariant, flat all-ones, raw null, inversion distinct") {
    import spark.implicits._
    val g = Multimodal.Fixtures.ppmGradient16
    def mapped(bytes: Array[Byte], f: Int => Int): Array[Byte] = {
      val out = bytes.clone()
      var i = 13
      while (i < out.length) { out(i) = f(out(i) & 0xff).toByte; i += 1 }
      out
    }
    val fx = Seq[(Long, Array[Byte])](
      (1L, g),
      (2L, mapped(g, v => math.min(255, v + 2))),
      (3L, mapped(g, v => 255 - v)),
      (4L, Multimodal.Fixtures.bmpGray4),
      (5L, Array[Byte](1, 2, 3))).toDF("media_id", "media")
    val sigs = Multimodal.aHash(spark, fx).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
    assert(sigs(1L).isDefined && sigs(1L) === sigs(2L),
      "uniform +2 shifts cells and mean together")
    assert(sigs(3L).isDefined && sigs(3L) != sigs(1L),
      "inversion is a different image")
    assert(sigs(4L) === Some(-1L), "flat image: every cell >= mean")
    assert(sigs(5L) === None, "non-image: null signature")
  }

  test("epoch repeat: whole epochs exact, fractional pure, zero/null drop") {
    import spark.implicits._
    val df = Seq((1L, 2.0), (2L, 1.0), (3L, 0.0), (4L, 2.5),
      (5L, Double.NaN)).toDF("id", "e")
      .withColumn("e", when(col("id") === 5L, lit(null)).otherwise(col("e")))
    val out = Sampling.epochRepeat(df, "id", col("e"), salt = 9L)
    val byId = out.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Whole epochs are exact; zero and null produce no instances at all.
    assert(byId.getOrElse(1L, 0L) === 2L)
    assert(byId.getOrElse(2L, 0L) === 1L)
    assert(!byId.contains(3L) && !byId.contains(5L))
    // 2.5 → epochs 1,2 guaranteed plus a deterministic half-draw of 3.
    val id4 = out.filter(col("id") === 4L).select("epoch").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(id4.take(2) === Seq(1L, 2L) && id4.length <= 3)
    // Pure function of (id, epoch, salt): replay identical.
    val replay = Sampling.epochRepeat(df, "id", col("e"), salt = 9L)
      .filter(col("id") === 4L).select("epoch").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(replay === id4)
    // A different salt may flip the fractional draw but never the whole
    // epochs.
    val salted = Sampling.epochRepeat(df, "id", col("e"), salt = 10L)
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted(1L) === 2L && salted(2L) === 1L)
    assert(salted(4L) >= 2L && salted(4L) <= 3L)
  }

  test("heavy hitters: MG retention bound, top-k exactness, guards") {
    import graft.text.HeavyHitters
    // MG kernel: capacity 2 over a stream where 'a' has frequency 6/12 —
    // far above n/(cap+1)=4 — so 'a' MUST survive any adversarial order.
    val stream = Seq("a", "x", "a", "y", "a", "z", "a", "w", "a", "v", "a", "u")
    val kept = HeavyHitters.misraGries(stream.iterator, 2).toSet
    assert(kept.contains("a"))
    assert(kept.size <= 2)
    // Whole operator: Zipf-ish corpus split across many partitions with a
    // capacity well under the vocabulary — the head must still be exact
    // because head frequencies clear the bound.
    import spark.implicits._
    val docs = (0 until 400).map { i =>
      val tail = s"rare${i % 97}" // 97 distinct tail tokens, ~4 each
      (i.toLong, s"alpha alpha alpha beta beta $tail")
    }.toDF("doc_id", "text").repartition(13)
    val top = HeavyHitters.topTokens(docs, "text", k = 2, capacity = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(top.toSeq === Seq("alpha" -> 1200L, "beta" -> 800L))
    intercept[IllegalArgumentException](
      HeavyHitters.topTokens(docs, "text", k = 0, capacity = 8))
    intercept[IllegalArgumentException](
      HeavyHitters.topTokens(docs, "text", k = 9, capacity = 8))
    // n-grams: hand-checked bigram counts; docs SHORTER than n must
    // contribute nothing (sequence(1, 0) is a descending [1, 0] trap).
    val tiny = Seq((1L, "a b c a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val bi = HeavyHitters.topGrams(tiny, "text", n = 2, k = 10, capacity = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bi === Map("a b" -> 2L, "b c" -> 1L, "c a" -> 1L))
    intercept[IllegalArgumentException](
      HeavyHitters.topGrams(tiny, "text", n = 0, k = 1, capacity = 8))
  }

  test("near-dup removal is total past the member-enumeration cap") {
    import spark.implicits._
    // 10 byte-identical copies of a reference-matched doc with the
    // enumeration cap at 3: the pair fan-out lists at most 3 member ids,
    // but removal extends by CONTENT identity — every copy must drop.
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = ((1L to 10L).map(i => (i, dupText)) :+
      (50L, "completely unrelated content with different words entirely zz"))
      .toDF("doc_id", "text")
    val ref = Seq((100L, dupText)).toDF("ref_id", "text")
    val survivors = Dedup.dropNearDupsAgainst(corpus, "doc_id", "text",
      ref, "ref_id", "text", Dedup.MinHashConfig(maxBucketSize = 3))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(50L),
      s"every identical copy must drop past the cap, got $survivors")

    // Embedding twin: 10 identical matched vectors, cap 3 -> all drop.
    val eCorpus = ((1L to 10L).map(i => (i, Array(1f, 0f, 0f))) :+
      (50L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val eRef = Seq((100L, Array(1f, 0f, 0f))).toDF("ref_id", "ref_vec")
    val eSurvivors = Dedup.dropEmbeddingNearDupsAgainst(eCorpus, "vec_id",
      "embedding", eRef, "ref_id", "ref_vec", threshold = 0.98,
      maxBucketSize = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(eSurvivors === Set(50L))

    // semanticDedup: 10 identical copies + 1 distinct, cap 3 -> only the
    // group min and the distinct vector survive (every non-min copy has
    // the min as a smaller-id identical neighbor, enumerated or not).
    val sKept = Dedup.semanticDedup(eCorpus, "vec_id", "embedding",
      threshold = 0.98, nlist = 1, maxClusterSize = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(sKept === Set(1L, 50L))
  }

  test("cosine kernel dispatches on element type; rejects mismatches loudly") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val f = Seq((Array(1f, 2f, 3f), Array(3f, 2f, 1f))).toDF("a", "b")
    val d = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0))).toDF("a", "b")
    val cf = f.select(GraftFunctions.cosineSim(col("a"), col("b"))).head.getDouble(0)
    val cd = d.select(GraftFunctions.cosineSim(col("a"), col("b"))).head.getDouble(0)
    // Same value either way (10/14) — array<double> used to read garbage
    // through getFloat reinterpretation with no exception.
    assert(math.abs(cf - 10.0 / 14.0) < 1e-12)
    assert(math.abs(cd - cf) < 1e-12)
    // Mixed float/double (and non-numeric arrays) fail ANALYSIS, not
    // silently mis-score.
    val mixed = Seq((Array(1f, 2f), Array(1.0, 2.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      mixed.select(GraftFunctions.cosineSim(col("a"), col("b"))).head
    }
  }

  test("knn entry points: non-identifier vector column; refine >= k guards") {
    import spark.implicits._
    val odd = Seq((1L, Array(1f, -1f, 1f))).toDF("id", "my-vec")
    // withBinaryCodes splices the column into SQL — must backtick-quote.
    val codes = graft.similarity.Knn.withBinaryCodes(odd, "my-vec")
      .select("bq_codes").head.getSeq[Long](0)
    assert(codes === Seq(5L)) // bits 0 and 2 set (positive dims)
    val q = Seq((100L, Array(1f, 0f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      graft.similarity.Knn.sq8TopK(q, q, "id", "v", k = 10, refine = 3)
    }
  }
}
