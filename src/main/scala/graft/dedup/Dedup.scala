package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.ScopedStorage
import graft.functions.{GraftFunctions, Kernels}
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines, designed around one
  * invariant: never materialize the O(n²) pair space. Every near-dup
  * algorithm is CANDIDATES (bucket pair generation, each bucket capped at
  * `maxBucketSize` members via [[bucketPairs]] so a hot bucket contributes
  * at most max² pairs, never quadratic in bucket size) → VERIFY (exact
  * measure on candidate pairs only). At 100 TB the only shuffles are a
  * groupBy(doc) for signatures and the bucket aggregation; both
  * partial-aggregate map-side.
  *
  * Exact duplicates are PRE-ROUTED inside every near-dup entry point
  * ([[collapseGroups]]): identical content collapses to one representative
  * (min id) via a map-side-combined aggregation — 100M copies of one
  * boilerplate doc reach the reducer as O(partitions) rows, never as a
  * 100M-row bucket — LSH runs over distinct content only, and results fan
  * back out to member ids ([[fanOut]]). Dup groups larger than
  * `maxBucketSize` are capped to their maxBucketSize smallest ids for pair
  * REPORTING (the same ≤max² contract as an LSH bucket); the representative
  * (the min id) always survives, so the group still links to its near-dup
  * neighbors.
  *
  * The residual cap in [[bucketPairs]] then only fires for *near*-identical
  * clusters (distinct texts landing in one bucket); it trades recall only
  * there, and any `maxBucketSize` prefix of such a cluster still links it.
  *
  * Cache lifecycle: the near-dup entry points persist a few scoped frames
  * (the collapse membership/reps, the verify candidate list — see
  * [[collapseKeyed]] and [[verifyJaccard]]) so multi-pass plans share one
  * materialization. The frames stay registered until
  * [[graft.core.ScopedStorage.releaseAll]] unpersists them (a bounded
  * registry evicts the oldest past a cap, so a long-lived application that
  * never releases still cannot accumulate unbounded cache). Call it once
  * the returned pairs are materialized (collected / written); batch
  * harnesses that already `spark.catalog.clearCache()` between queries
  * need nothing extra.
  *
  * Within-corpus and cross-corpus (`*Against`) operators share one copy of
  * each step: [[verifyJaccard]] over two shingle sides, the capped band
  * joins [[bucketPairs]] / [[bucketPairsBetween]], the within-corpus
  * [[fanOut]], and the cross-corpus skeleton [[pairsAgainst]].
  */
object Dedup {

  /** Split a 64-bit signature column into per-band bucket rows. The band
    * hash is computed AFTER the explode from the materialized `sig` column:
    * inlining the signature kernel into the band array would let Catalyst
    * collapse it into the Generate and re-evaluate the O(planes×dim) kernel
    * once per band instead of once per row.
    */
  private[dedup] def bandRows(sigs: DataFrame, bands: Int, bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    sigs.withColumn("band_idx", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_hash",
        expr(s"shiftright(sig, band_idx * $bandBits) & $mask"))
  }

  /** Candidate pairs within each (band_idx, band_hash) bucket, the bucket
    * capped to its first `max` members by id. Input: (id, band_idx,
    * band_hash, payload…); output: (id_a, id_b, payload_a…, payload_b…)
    * with id_a < id_b, one row per ordered member pair per bucket.
    *
    * ONE aggregation does the whole bucket phase: a bounded
    * first-max-by-id collector ([[cappedBuckets]])
    * gathers each bucket's capped member list on the bucket's single
    * exchange, and pairs are then generated SCAN-LOCALLY from the sorted
    * array (posexplode × suffix-slice — each pair streams through the two
    * Generates, never a max²-sized in-memory array). This replaces the
    * previous count-agg + hot-bucket broadcast + row_number window +
    * bucket self-join pipeline — four exchanges and two evaluations of the
    * banded subtree — with one exchange and no joins.
    *
    * Scale bounds are unchanged-or-better: per-bucket agg state is O(max)
    * (map-side combined; a bucket spanning P partitions ships ≤ P·max
    * members to its reducer, independent of bucket size), and a hot bucket
    * still contributes at most max·(max-1)/2 pairs — now the exact
    * first-max-by-id members rather than a hash-sampled subset.
    */
  private[dedup] def bucketPairs(banded: DataFrame, max: Int): DataFrame =
    cappedBuckets(banded, max, "__ms")
      .select(col("__ms"), posexplode(col("__ms")).as(Seq("__i", "__a")))
      // pos is 0-based, slice start is 1-based: the suffix strictly after
      // __a starts at __i + 2; slice clamps past the array end.
      .select(col("__a"),
        explode(slice(col("__ms"), col("__i") + lit(2), lit(max))).as("__b"))
      .select(memberPairs(banded): _*)

  /** Two-sided capped bucket join: candidate pairs (id_a, id_b, payload_a…,
    * payload_b…) of an `a` row and a `b` row sharing any (band_idx,
    * band_hash) bucket, both inputs shaped as for [[bucketPairs]]. Each
    * side's bucket membership is capped to its first `max` members by id
    * on that side's single bucket exchange, so a hot bucket contributes
    * ≤ max² pairs, never |bucket_A| × |bucket_B|, and pairs are generated
    * scan-locally from the two capped arrays. A pair sharing several
    * buckets comes once per bucket: callers take the distinct.
    */
  private def bucketPairsBetween(bandedA: DataFrame, bandedB: DataFrame,
      max: Int): DataFrame =
    cappedBuckets(bandedA, max, "__as")
      .join(cappedBuckets(bandedB, max, "__bs"), Seq("band_idx", "band_hash"))
      .select(explode(col("__as")).as("__a"), col("__bs"))
      .select(col("__a"), explode(col("__bs")).as("__b"))
      .select(memberPairs(bandedA): _*)

  private def payloadOf(banded: DataFrame): Seq[String] =
    banded.columns.filterNot(Set("id", "band_idx", "band_hash")).toSeq

  /** One row per (band_idx, band_hash) bucket of a banded frame (id,
    * band_idx, band_hash, payload…): its first `max` members
    * struct(id, payload…) by id, as `out` — lexicographic order is id
    * order, ids being unique.
    */
  private def cappedBuckets(banded: DataFrame, max: Int, out: String): DataFrame = {
    GraftFunctions.register(banded.sparkSession)
    val member = struct(col("id") +: payloadOf(banded).map(col): _*)
    banded.groupBy("band_idx", "band_hash")
      .agg(GraftFunctions.collectMinK(member, max).as(out))
  }

  /** (id_a, id_b, payload_a…, payload_b…) from the members `__a` and `__b`
    * of [[cappedBuckets]] over `banded`.
    */
  private def memberPairs(banded: DataFrame): Seq[Column] =
    col("__a.id").as("id_a") +: col("__b.id").as("id_b") +:
      payloadOf(banded).flatMap(c =>
        Seq(col(s"__a.$c").as(s"${c}_a"), col(s"__b.$c").as(s"${c}_b")))

  /** Output of [[collapseKeyed]]: `reps` (id, payload…) one row per
    * distinct content; `members` (id, __rep) dup-group membership, capped;
    * `dupReps` (__rep) one row per dup group — the seed for identity
    * self-pairs in [[fanOut]]. `members` and `dupReps` are projections of
    * one persisted membership frame, so their consumers share a single
    * materialization.
    */
  private[dedup] final case class Collapsed(
      reps: DataFrame, members: DataFrame, dupReps: DataFrame)

  /** Exact-duplicate pre-routing core: collapse rows with an identical
    * content-hash pair to one representative (the min id), so LSH/banding
    * sees each distinct content ONCE. `keyed` must carry (id, __h1, __h2)
    * plus any payload columns — values derived from the content, identical
    * within a group by construction (e.g. the content itself, or its
    * scan-locally precomputed signature), carried by first().
    *
    * Scale shape: content identity is a scan-local 128-bit hash pair
    * (collision odds ~n²/2¹²⁹ — vanishing even at 10¹¹ docs), so the group
    * aggregation is map-side combined: a 100M-copy group reaches the
    * reducer as O(partitions) partial rows, each partial carrying ONE copy
    * of the payload. Each distinct payload therefore crosses the wire
    * exactly once — callers that only need a fixed-width signature
    * downstream pass THAT as the payload and keep the full text/vector off
    * the exchange entirely.
    *
    * Multi-pass sharing: every near-dup algorithm consumes the collapse
    * output several times (signature banding + exact verify + membership
    * fan-out), and Catalyst plans are trees, not DAGs — each pass clones
    * the agg subtree, and per-branch column pruning makes the clones
    * non-identical, so ReuseExchange never unifies them (measured: 4 full
    * corpus re-scans in the simhash plan, ~6 in minhash). Two persists
    * close that, each scoped to where re-evaluation is genuinely expensive
    * (measured at sf0.1 — blanket caching of everything was a net LOSS,
    * columnar encode + block pressure outweighing slim re-scans):
    *   - the MEMBERSHIP (`__rep`, capped id list; dup groups only — no
    *     payload, usually a tiny fraction of groups) is always persisted:
    *     it is consumed three times ([[fanOut]]'s two joins + the identity
    *     union) and caching it removes two corpus re-aggregations at
    *     near-zero footprint;
    *   - the full `reps` (with payload) is persisted only when
    *     `persistReps` — set by [[collapseGroups]], whose TEXT payload
    *     callers (minhash / ngram) re-aggregate the corpus text per verify
    *     pass, and by [[pairsAgainst]], whose reps feed the exact
    *     pre-route and the band join; within-corpus fixed-width-payload
    *     callers (simhash / embedding / semantic) consume `reps` once and
    *     skip the cache cost. The cached footprint is the
    *     DEDUPED corpus — bounded by the corpus and usually far smaller.
    * `MEMORY_AND_DISK` spills, lineage is kept (an executor loss recomputes
    * partitions instead of failing the job, unlike a localCheckpoint), and
    * the ContextCleaner drops blocks when the frames are garbage-collected
    * — the standard Spark multi-pass idiom (Spark ML's MinHashLSH caches
    * its input the same way).
    *
    * Dup-group MEMBERSHIP comes from the SAME aggregation: a bounded
    * first-maxGroupSize-by-id collector ([[graft.functions.CollectMinK]])
    * rides the group exchange — no membership join-back (which would
    * re-scan and re-hash the corpus) and no row_number window (another
    * exchange, and a sort funnel for hot groups). The collector's
    * state is a size-k heap: map-side partials are O(k) regardless of group
    * size, and a group spanning P partitions ships ≤ P·k ids to its
    * reducer — bounded, never the whole group. The cap semantics are the
    * exact k smallest member ids (the representative, as min, is always
    * among them).
    */
  private[dedup] def collapseKeyed(keyed: DataFrame, maxGroupSize: Int,
      persistReps: Boolean = false): Collapsed = {
    GraftFunctions.register(keyed.sparkSession)
    val payload = keyed.columns.filterNot(Set("id", "__h1", "__h2")).toSeq
    val aggs = min(col("id")).as("__rep") +: count(lit(1)).as("__n") +:
      GraftFunctions.collectMinK(col("id"), maxGroupSize).as("__ids") +:
      payload.map(c => first(col(c)).as(c))
    val groups = keyed.groupBy("__h1", "__h2").agg(aggs.head, aggs.tail: _*)
    val reps0 = groups.select(col("__rep").as("id") +: payload.map(col): _*)
    val reps = if (persistReps) ScopedStorage.persist(reps0) else reps0
    val dupGroups = ScopedStorage.persist(
      groups.filter(col("__n") > 1).select("__rep", "__ids"))
    val members = dupGroups
      .select(col("__rep"), explode(col("__ids")).as("id"))
      .select("id", "__rep")
    Collapsed(reps, members, dupGroups.select(col("__rep")))
  }

  /** The 128-bit content-hash key pair over `content` — scan-local, the
    * group identity for [[collapseKeyed]], [[exact]], and [[exactAgainst]],
    * and shared by the streaming twin ([[graft.streaming.StreamingDedup]])
    * so batch and stream agree on what "identical" means.
    *
    * Null semantics: Spark's hash expressions SKIP null children, which
    * would make multi-column keys conflate transposed nulls — (NULL, "x")
    * and ("x", NULL) hash identically — so per-column null flags are mixed
    * into the hash. Identity treats NULL as equal to NULL (grouping
    * semantics, like GROUP BY — not SQL three-valued equality): two rows
    * are "identical" iff every column matches byte-for-byte including
    * null positions.
    */
  private[graft] def hashKeys(content: Seq[Column]): Seq[Column] = {
    val withNullFlags = content ++ content.map(c => isnull(c).cast("int"))
    Seq(
      xxhash64(withNullFlags: _*).as("__h1"),
      xxhash64(lit(7) +: withNullFlags: _*).as("__h2"))
  }

  /** [[collapseKeyed]] with the content itself as the payload — for
    * callers that still need the representative's text downstream
    * (shingling / exact-Jaccard verify).
    */
  private[dedup] def collapseGroups(docs: DataFrame, idCol: String,
      contentCol: String, maxGroupSize: Int): Collapsed =
    collapseKeyed(keyedBy(docs, idCol, col(contentCol), col(contentCol)),
      maxGroupSize, persistReps = true)

  /** (id, __h1, __h2, payload): the input shape of [[collapseKeyed]], with
    * the content keys over `content`.
    */
  private def keyedBy(df: DataFrame, idCol: String, content: Column,
      payload: Column): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id") +: hashKeys(Seq(content)) :+ payload: _*)
  }

  /** [[keyedBy]] the text, its SimHash signature as the `sig` payload. */
  private def simhashKeyed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    keyedBy(df, idCol, col(textCol),
      GraftFunctions.simhash64(TextAnalysis.tokens(col(textCol))).as("sig"))

  /** [[keyedBy]] the vector, its sign-projection signature as `sig`. */
  private def signKeyed(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    keyedBy(df, idCol, col(vecCol),
      GraftFunctions.signProjection(col(vecCol)).as("sig"))

  /** Fan representative-level near-dup pairs back out to member ids. The
    * caller appends one IDENTITY pair (rep, rep, selfScore) per dup group
    * to `repPairs` (a tiny union — one row per duplicated content, not per
    * result pair), and a single pass of two left joins expands both kinds:
    *   - cross-group pairs: every (member of rep_a) × (member of rep_b)
    *     inherits the rep pair's score (identical content ⇒ identical
    *     measure), normalized to id_a < id_b. `members` holds dup groups
    *     only, so the joins are left with the rep id itself as fallback —
    *     a singleton rep is its own single member.
    *   - within-group pairs: the identity pair expands to the group's
    *     member × member square; the `__ma < __mb` guard keeps each
    *     unordered pair exactly once (members of distinct groups are
    *     disjoint, so the guard never touches cross pairs).
    */
  private def fanOut(repPairs: DataFrame, members: DataFrame): DataFrame = {
    val mA = members.select(col("__rep").as("id_a"), col("id").as("__ma"))
    val mB = members.select(col("__rep").as("id_b"), col("id").as("__mb"))
    val scoreCols = repPairs.columns.filterNot(Set("id_a", "id_b")).toSeq
    repPairs
      .join(mA, Seq("id_a"), "left")
      .join(mB, Seq("id_b"), "left")
      .withColumn("__ma", coalesce(col("__ma"), col("id_a")))
      .withColumn("__mb", coalesce(col("__mb"), col("id_b")))
      .filter(col("id_a") =!= col("id_b") || col("__ma") < col("__mb"))
      .select(least(col("__ma"), col("__mb")).as("id_a") +:
        greatest(col("__ma"), col("__mb")).as("id_b") +:
        scoreCols.map(col): _*)
  }

  /** Exact dedup: keep one row per duplicate group, chosen by `tieBreak`
    * (ascending struct comparison — the lexicographically-first row wins;
    * pass a total order, e.g. a unique id, for a deterministic winner —
    * unlike dropDuplicates).
    *
    * Group identity is the 128-bit content-hash pair over `dupCols`
    * (collision odds ~n²/2¹²⁹ — vanishing even at 10¹¹ rows), so the
    * whole operator is ONE map-side-combined hash aggregation: a
    * 100M-copy boilerplate group reaches the reducer as O(partitions)
    * min_by partials, each carrying a single candidate row — never the
    * single-task sort a window partitioned by the raw dup key would
    * funnel the entire group through.
    */
  def exact(df: DataFrame, dupCols: Seq[String], tieBreak: Seq[Column]): DataFrame = {
    val keys = hashKeys(dupCols.map(col))
    val winner = min_by(struct(df.columns.map(col): _*), struct(tieBreak: _*))
    df.groupBy(keys: _*)
      .agg(winner.as("__row"))
      .select(col("__row.*"))
  }

  /** [[exact]] with a QUALITY winner instead of the lexicographically
    * first row: each duplicate group keeps its `max_by(scoreCols)` member
    * — the survivor policy real curation uses (keep the longest / highest
    * quality-score copy, not the lowest id). `scoreCols` compare as a
    * DESCENDING-preference struct; make it total (append a unique column,
    * negated if the final tie must prefer the smaller id) or ties pick an
    * arbitrary partial's winner. Same one-hash-aggregation scale shape as
    * [[exact]]: the score rides the partials, the group never funnels.
    */
  def keepBest(df: DataFrame, dupCols: Seq[String],
      scoreCols: Seq[Column]): DataFrame = {
    require(scoreCols.nonEmpty, "keepBest needs at least one score column")
    val keys = hashKeys(dupCols.map(col))
    val winner = max_by(struct(df.columns.map(col): _*), struct(scoreCols: _*))
    df.groupBy(keys: _*)
      .agg(winner.as("__row"))
      .select(col("__row.*"))
  }

  /** Rolling-ingestion dedup against a persisted hash LEDGER — the state
    * a continuously-fed corpus keeps between ingestion rounds (the
    * "seen-content store" of a crawl pipeline): each round dedups the
    * incoming batch within itself ([[exact]]), drops everything whose
    * content is already in the ledger ([[exactAgainst]] with the ledger
    * as reference), APPENDS the survivors' hashes to the ledger table,
    * and returns the survivors. First call creates the ledger. The
    * ledger holds only the 128-bit content-hash pairs — 16 bytes per
    * distinct content ever ingested, never the content itself — so at
    * 100 TB of cumulative ingest it stays a compact table the
    * next round broadcasts or hash-joins; for ledgers beyond broadcast
    * size the probe composes with [[exactAgainstBloom]]'s bits.
    *
    * Idempotence: re-ingesting the same batch returns zero survivors and
    * appends nothing — exactly the retry-safety a crash-recovering
    * ingestion loop needs, PROVIDED the previous attempt's append
    * committed atomically (Spark's table insert is all-or-nothing per
    * statement, so a half-failed round never leaves partial hashes).
    */
  def ledgerIngest(ledgerTable: String, batch: DataFrame,
      dupCols: Seq[String], tieBreak: Seq[Column]): DataFrame = {
    val spark = batch.sparkSession
    // The ledger stores the hashes THEMSELVES, so the reference side of
    // the anti-join must NOT re-hash (exactAgainst hashes its reference
    // columns — correct for raw content, double-hashing here).
    val keyed = exact(batch, dupCols, tieBreak)
      .select(col("*") +: hashKeys(dupCols.map(col)): _*)
    val fresh =
      if (spark.catalog.tableExists(ledgerTable))
        keyed.join(spark.table(ledgerTable).select("__h1", "__h2").distinct(),
          Seq("__h1", "__h2"), "left_anti")
      else keyed
    // The survivors feed BOTH the ledger append and the caller — one
    // materialization serves both consumers, and it must be a
    // CHECKPOINT, not a persist: a persisted plan still carries the
    // ledger-table scan in its lineage, and Spark rejects an INSERT
    // whose source reads the target table (and a cache-miss re-run
    // against the just-updated ledger would return nothing). The
    // checkpoint swaps the plan for a materialized-RDD leaf, severing
    // the self-reference.
    val pinned = graft.core.ScopedStorage.checkpoint(fresh, eager = true)
    val hashes = pinned.select("__h1", "__h2")
    if (!spark.catalog.tableExists(ledgerTable))
      graft.materialize.TableMaterialization.run(spark, ledgerTable, hashes)
    else hashes.write.mode("append")
      .saveAsTable(graft.core.Relation.parse(ledgerTable).quoted)
    pinned.drop("__h1", "__h2")
  }

  /** Cross-corpus exact dedup: drop corpus rows whose `corpusCols` content
    * appears ANYWHERE in `reference` — scrub a training corpus of rows
    * byte-identical to an eval/benchmark set, or dedup a fresh crawl
    * against an already-ingested corpus (the exact-match complement of
    * [[graft.text.Decontamination]]'s n-gram overlap).
    *
    * Scale shape: the reference side reduces to DISTINCT 128-bit
    * content-hash pairs — fixed-width regardless of content size, so a
    * multi-TB reference corpus becomes 16 bytes per distinct content and
    * usually broadcasts; the corpus side is then a scan-local anti-join
    * probe (the corpus never shuffles), degrading to a shuffled anti-join
    * only when the reference hash set outgrows the broadcast threshold.
    */
  def exactAgainst(corpus: DataFrame, corpusCols: Seq[String],
      reference: DataFrame, referenceCols: Seq[String]): DataFrame = {
    require(corpusCols.length == referenceCols.length,
      "corpusCols and referenceCols must align")
    val Seq(h1, h2) = hashKeys(corpusCols.map(col))
    val keyed = corpus.withColumn("__h1", h1).withColumn("__h2", h2)
    val refKeys = reference
      .select(hashKeys(referenceCols.map(col)): _*)
      .distinct()
    keyed.join(refKeys, Seq("__h1", "__h2"), "left_anti")
      .drop("__h1", "__h2")
  }

  /** [[exactAgainst]] for reference sets too large to hash-join cheaply:
    * a Bloom filter over the reference's distinct content hashes (built by
    * one distributed aggregation; `fpp` at `expectedDistinct` items sizes
    * the bits) is probed SCAN-LOCALLY on the corpus side, and only the
    * probe's positives — the true duplicates plus an `fpp`-fraction of
    * clean rows — take the exact anti-join. The output is still EXACT:
    * a Bloom "no" is definitive (no false negatives), and every "yes" is
    * verified against the real hash set, so false positives cannot drop
    * clean rows.
    *
    * Scale shape: where [[exactAgainst]] ships the full distinct-hash set
    * (16 B × distinct contents) into a broadcast or shuffles the corpus
    * into a hash join, this variant ships ~1.2 bytes per reference item at
    * 1% fpp — a 10⁹-row reference becomes ~1.2 GB of bits instead of a
    * 16 GB hash broadcast — and the join input shrinks from the whole
    * corpus to `dups + fpp·corpus` rows. The trade: the corpus subtree is
    * evaluated twice (the clean branch and the verify branch — persist it
    * when it's a derived frame rather than a parquet scan), and the
    * reference is scanned twice (bits, then verify keys).
    */
  def exactAgainstBloom(corpus: DataFrame, corpusCols: Seq[String],
      reference: DataFrame, referenceCols: Seq[String],
      expectedDistinct: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    require(corpusCols.length == referenceCols.length,
      "corpusCols and referenceCols must align")
    GraftFunctions.register(corpus.sparkSession)
    // Persisted: three consumers (the empty probe, the bloom build, the
    // verify anti-join) would otherwise each re-run the reference
    // aggregation — a full extra pass over the multi-TB reference this
    // API targets.
    val refKeys = ScopedStorage.persist(reference
      .select(hashKeys(referenceCols.map(col)): _*)
      .distinct())
    // An empty reference has nothing to scrub (and stat.bloomFilter's
    // aggregate returns null bytes over zero rows) — short-circuit.
    if (refKeys.isEmpty) return corpus
    // Bits over __h1 only: the probe is a prefilter, so extra collisions
    // just join a few more rows; exactness comes from the 128-bit verify.
    val bloom = refKeys.stat.bloomFilter("__h1", expectedDistinct, fpp)
    val Seq(h1, h2) = hashKeys(corpusCols.map(col))
    val keyed = corpus.withColumn("__h1", h1).withColumn("__h2", h2)
      .withColumn("__hit", GraftFunctions.bloomMightContain(col("__h1"), bloom))
    val clean = keyed.filter(!col("__hit"))
    val verified = keyed.filter(col("__hit"))
      .join(refKeys, Seq("__h1", "__h2"), "left_anti")
    clean.unionByName(verified).drop("__h1", "__h2", "__hit")
  }

  /** Distinct word shingles (n-grams) — the Jaccard universe of a doc.
    *
    * The token array is bound as a lambda variable
    * ([[graft.functions.GraftFunctions.bindArray]]) before the
    * per-position transform reads it. Written naively —
    * `transform(starts, i => slice(split(text), i, n))` — the split is a
    * subexpression of the lambda body, and Catalyst re-evaluates
    * lambda-body subexpressions PER ELEMENT: the full tokenization runs
    * once per shingle position, O(tokens²) per document (measured 10× the
    * whole funnel's cost at sf0.1: 3.5 s to shingle a 5k-doc corpus whose
    * tokenization alone takes 0.3 s). Bound, the shape is O(tokens), and
    * every consumer (minhash, ngram-Jaccard, the verify intersections,
    * cross-corpus dedup) inherits the fix with no caller changes.
    */
  def shingles(text: Column, n: Int): Column =
    GraftFunctions.bindArray(TextAnalysis.tokens(text)) { toks =>
      val starts = sequence(lit(1), greatest(size(toks) - (n - 1), lit(1)))
      array_distinct(
        transform(starts, i => concat_ws(" ", slice(toks, i, lit(n)))))
    }

  private def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))

  // ------------------------------------------------------------ MinHash+LSH

  final case class MinHashConfig(
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  // Deterministic 31-bit multipliers/offsets per hash function: a*h31 + b
  // stays < 2^62, so no overflow even under ANSI arithmetic.
  private val MersennePrime = 2147483647L
  private def hashParams(i: Int): (Long, Long) = {
    val a = (Kernels.mix(2L * i + 1) >>> 33) | 1L
    val b = Kernels.mix(2L * i + 2) >>> 33
    (a, b)
  }

  /** MinHash signatures: one row per doc, `numHashes` min-columns. One
    * explode + one partially-aggregated groupBy — shuffle volume is
    * O(docs × numHashes), independent of document length.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, cfg.shingleSize)
      .withColumn("h", pmod(xxhash64(col("sh")), lit(MersennePrime)))
    val minCols = (0 until cfg.numHashes).map { i =>
      val (a, b) = hashParams(i)
      min(pmod(col("h") * a + b, lit(MersennePrime))).as(s"mh_$i")
    }
    sh.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
  }

  /** LSH banding: (id, band_idx, band_hash); docs sharing any band bucket
    * become candidate pairs via a bucket self-join.
    */
  def bandedSignatures(sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val bands = (0 until cfg.bands).map { bnd =>
      val parts = (0 until cfg.rowsPerBand)
        .map(r => col(s"mh_${bnd * cfg.rowsPerBand + r}").cast("string"))
      xxhash64(concat_ws("_", lit(bnd.toString) +: parts: _*))
    }
    sigs.select(col("id"), posexplode(array(bands: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Exact Jaccard for candidate pairs (id_a, id_b) over two shingle sides
    * `a` and `b` (id, sh) — touches only candidate docs' shingles, never
    * the corpus square. A within-corpus join passes the same frame as both
    * sides; a cross-corpus join passes each corpus's shingles, id_a
    * indexing `a` and id_b indexing `b`.
    *
    * Both sides are first restricted to the ids of either candidate column
    * (semi-join): candidates are bounded by the bucket caps, so the id set
    * broadcasts and the whole verify phase — the per-doc size aggregation
    * AND both intersection joins — runs over candidate docs' shingles
    * only, scan-local, instead of shuffling the full shingle table
    * (O(docs × shingles) rows) three times. With one frame on both sides
    * the two restricted sides, and their size aggregates, are one subtree.
    * If the candidate set ever outgrows the broadcast threshold, AQE falls
    * back to a shuffled semi-join — no worse than the unfiltered
    * aggregation was. Every candidate pair that shares a shingle comes
    * back, with the Jaccard [[allPairsJaccard]] gives it.
    */
  def verifyJaccard(a: DataFrame, b: DataFrame, candidates: DataFrame): DataFrame = {
    // The candidate pair list is consumed three times below (id set + both
    // intersection joins) and its generation pipeline (banding + bucket
    // aggregation) is the expensive part — persist it (bounded by the
    // bucket caps, so the footprint is pairs, not corpus; scoped — see
    // the Dedup header).
    val cand = ScopedStorage.persist(candidates)
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val shA = a.join(candIds, Seq("id"), "left_semi")
    val shB = b.join(candIds, Seq("id"), "left_semi")
    def sizes(sh: DataFrame) = sh.groupBy("id").agg(count(lit(1)).as("n"))
    cand
      .join(shA.toDF("id_a", "sh"), "id_a")
      .join(shB.toDF("id_b", "sh"), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes(shA).toDF("id_a", "n_a"), "id_a")
      .join(sizes(shB).toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** The verify step of minhash and n-gram Jaccard: exact Jaccard of the
    * candidate reps kept at ≥ `threshold`, plus one identity pair per dup
    * group at 1.0 (identical text's exact measure), fanned out to members.
    */
  private def jaccardFanOut(c: Collapsed, textCol: String, n: Int,
      candidates: DataFrame, threshold: Double): DataFrame = {
    val sh = shingleRows(c.reps, "id", textCol, n)
    val repPairs = verifyJaccard(sh, sh, candidates)
      .filter(col("jaccard") >= threshold)
      .unionByName(c.dupReps.select(col("__rep").as("id_a"),
        col("__rep").as("id_b"), lit(1.0).as("jaccard")))
    fanOut(repPairs, c.members)
  }

  /** Ground-truth pair set: exact Jaccard for EVERY pair of docs sharing at
    * least one shingle. Quadratic in per-shingle frequency — a recall oracle
    * for small corpora, NOT a production path (use [[minhashNearDupPairs]] /
    * [[ngramJaccardPairs]] at scale).
    *
    * One self-join: each co-occurring shingle IS one unit of pair
    * intersection, so `n_inter` falls directly out of
    * count-per-(id_a, id_b) over the join — no candidates→distinct→rejoin
    * detour (which evaluated the pair space twice and the shingle table
    * five times).
    */
  def allPairsJaccard(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleSize)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("id_a", "sh")
      .join(sh.toDF("id_b", "sh"), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** MinHash-LSH near-duplicate pairs: (id_a, id_b, jaccard ≥ threshold).
    * Exact duplicates are pre-routed ([[collapseGroups]]): signatures and
    * buckets are computed over distinct texts only; identical-text pairs
    * come back via [[fanOut]] at jaccard 1.0 (their exact measure).
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val c = collapseGroups(docs, idCol, textCol, cfg.maxBucketSize)
    val sigs = minhashSignatures(c.reps, "id", textCol, cfg)
    val candidates = bucketPairs(bandedSignatures(sigs, cfg), cfg.maxBucketSize)
      .select("id_a", "id_b").distinct()
    jaccardFanOut(c, textCol, cfg.shingleSize, candidates, cfg.threshold)
  }

  /** Cross-corpus NEAR-dup pairs: corpus docs whose text is near-identical
    * (Jaccard ≥ cfg.threshold) to ANY reference doc — the fuzzy complement
    * of [[exactAgainst]] (byte identity) and
    * [[graft.text.Decontamination]] (n-gram overlap hits): dedup a fresh
    * crawl against an already-ingested corpus, or scrub eval-set
    * NEAR-copies a byte-exact check misses. Returns (id, ref_id, jaccard)
    * — one row per (corpus doc, distinct-content reference
    * representative) pair; drop matched ids from the corpus for the
    * filter use-case.
    *
    * Scale shape mirrors [[minhashNearDupPairs]], two-sided, through
    * [[pairsAgainst]]: the corpus collapses to distinct content (a
    * boilerplate doc with 100M copies is signed once and its match fans
    * back out to members), the reference collapses via [[exact]] (min ref
    * id per distinct content); byte-identical cross matches are pre-routed
    * through a 128-bit hash equi-join — a recall guarantee the LSH bucket
    * caps cannot erode — and verify at Jaccard exactly 1.0. The band join
    * is per-bucket capped on BOTH sides (≤ max² candidate pairs per
    * bucket, never |corpus bucket| × |ref bucket|), and verification
    * touches only candidate docs' shingles. Nothing anywhere is quadratic
    * in either corpus. A null text has no shingles and matches nothing.
    */
  def minhashNearDupPairsAgainst(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refIdCol: String, refTextCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val n = cfg.shingleSize
    val ref = keyedBy(distinctText(reference, refIdCol, refTextCol), "id",
      col("__text"), col("__text"))
    pairsAgainst(keyedBy(corpus, idCol, col(textCol), col(textCol).as("__text")),
      ref, cfg.maxBucketSize)(
      df => bandedSignatures(minhashSignatures(df, "id", "__text", cfg), cfg)) {
      (reps, refs, candidates) =>
        verifyJaccard(shingleRows(reps, "id", "__text", n),
          shingleRows(refs, "id", "__text", n), candidates)
          .filter(col("jaccard") >= cfg.threshold)
    }
  }

  /** The filter use-case of [[minhashNearDupPairsAgainst]]: the corpus with
    * every row near-identical to ANY reference doc removed — scrub a crawl
    * against an ingested corpus / eval set in one call. The matched-id set
    * is bounded by the corpus, and the anti-join probe is scan-local when
    * it broadcasts.
    */
  def dropNearDupsAgainst(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refIdCol: String, refTextCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    dropMatched(corpus, idCol, textCol, minhashNearDupPairsAgainst(
      corpus, idCol, textCol, reference, refIdCol, refTextCol, cfg))

  /** The corpus without every row `pairs` (id, ref_id, score) matched.
    * Removal must be TOTAL past the member-enumeration cap: the pair
    * fan-out lists at most maxBucketSize ids per identical-content group,
    * but every byte-identical copy of a matched row matches the same
    * reference — so matched ids translate to their `contentCol` identity
    * and the anti-join runs on that (the group's rep is always among the
    * matched ids and carries the identity for every copy, enumerated or
    * not).
    */
  private def dropMatched(corpus: DataFrame, idCol: String, contentCol: String,
      pairs: DataFrame): DataFrame = {
    val matched = pairs.select(col("id").as(idCol)).distinct()
    val keyed = corpus.select(col("*") +: hashKeys(Seq(col(contentCol))): _*)
    val matchedKeys = keyed
      .join(matched, Seq(idCol), "left_semi")
      .select("__h1", "__h2").distinct()
    keyed.join(matchedKeys, Seq("__h1", "__h2"), "left_anti")
      .drop("__h1", "__h2")
  }

  /** One reference row per distinct text: (id = the min ref id, __text). */
  private def distinctText(reference: DataFrame, refIdCol: String,
      refTextCol: String): DataFrame =
    exact(reference.select(col(refIdCol).as("id"), col(refTextCol).as("__text")),
      Seq("__text"), Seq(col("id")))

  /** The cross-corpus skeleton of the three `*Against` operators.
    *
    *   - `corpus` (id, __h1, __h2, payload…) collapses to distinct content
    *     ([[collapseKeyed]]); a copy of the content keys rides along, so
    *     the reps are keyed like `ref` (id, __h1, __h2, payload…). Both
    *     are persisted: each is read by the exact pre-route, the band join
    *     and, for minhash, the verify.
    *   - Candidates are the byte-identical pre-route (a 16-byte hash
    *     equi-join of reps and `ref`, immune to every bucket cap) and the
    *     two-side-capped band join of `band` over each side, shaped as for
    *     [[bucketPairs]]. Their union is deduplicated once. The pre-route
    *     joins reps, not the raw corpus: a raw-corpus join materializes
    *     (copies × matching refs) rows, quadratic under a byte-dup-heavy
    *     crawl.
    *   - `score` (corpus reps, reference, candidates (id_a, id_b,
    *     payload_a…, payload_b…)) returns the kept (id_a, id_b, score)
    *     pairs. Identical content gets its exact measure from the same
    *     formula (Jaccard 1.0, Hamming 0, the self cosine), so the
    *     pre-route needs no merge.
    *   - Rep-level matches fan out to the corpus members (identical
    *     content ⇒ identical score) as (id, ref_id, score); `members`
    *     holds dup groups only, so the join is left with the rep itself as
    *     fallback.
    */
  private def pairsAgainst(corpus: DataFrame, ref: DataFrame, max: Int)(
      band: DataFrame => DataFrame)(
      score: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val c = collapseKeyed(
      corpus.withColumn("__k1", col("__h1")).withColumn("__k2", col("__h2")),
      max, persistReps = true)
    val reps = c.reps.withColumnRenamed("__k1", "__h1").withColumnRenamed("__k2", "__h2")
    val refs = ScopedStorage.persist(ref)
    val (bandA, bandB) = (band(reps), band(refs))
    val payload = payloadOf(bandA)
    def side(df: DataFrame, s: String) = df.select(col("id").as(s"id_$s") +:
      col("__h1") +: col("__h2") +: payload.map(p => col(p).as(s"${p}_$s")): _*)
    val candidates = side(reps, "a").join(side(refs, "b"), Seq("__h1", "__h2"))
      .drop("__h1", "__h2")
      .unionByName(bucketPairsBetween(bandA, bandB, max))
      .distinct()
    val repPairs = score(reps, refs, candidates)
    val scoreCol = repPairs.columns.filterNot(Set("id_a", "id_b")).head
    repPairs
      .join(c.members.select(col("__rep").as("id_a"), col("id").as("__m")),
        Seq("id_a"), "left")
      .select(coalesce(col("__m"), col("id_a")).as("id"),
        col("id_b").as("ref_id"), col(scoreCol))
  }

  // ------------------------------------------------------------ SimHash

  /** SimHash near-dup pairs: 64-bit signature per doc; banding the signature
    * into 4 × 16-bit chunks guarantees (pigeonhole) that any pair within
    * Hamming distance 3 shares a chunk. Returns (id_a, id_b, hamming ≤ maxDist).
    *
    * The signature is computed scan-locally BEFORE the exact-dup collapse
    * and passed as its payload (identical text ⇒ identical signature), so
    * only (id, 2×8-byte key, 8-byte sig) rides the collapse exchange — the
    * full text never shuffles anywhere in this operator.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val c = collapseKeyed(simhashKeyed(docs, idCol, textCol), maxBucketSize)
    val repPairs = hammingPairs(
      bucketPairs(simhashBands(c.reps), maxBucketSize).distinct(), maxDist)
      .unionByName(c.dupReps.select(col("__rep").as("id_a"),
        col("__rep").as("id_b"), lit(0).cast("int").as("hamming")))
    fanOut(repPairs, c.members)
  }

  /** The 4 × 16-bit chunk bands of (id, sig, …), carrying `sig`. */
  private def simhashBands(df: DataFrame): DataFrame =
    bandRows(df.select("id", "sig"), bands = 4, bandBits = 16)

  /** Candidate pairs (id_a, id_b, sig_a, sig_b) within `maxDist` bits, as
    * (id_a, id_b, hamming).
    */
  private def hammingPairs(candidates: DataFrame, maxDist: Int): DataFrame =
    candidates
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")

  /** Cross-corpus SimHash near-dup: corpus docs within Hamming distance
    * `maxDist` of ANY reference doc — the sketch-side twin of
    * [[minhashNearDupPairsAgainst]] for the "same template, light edits"
    * regime where a 64-bit signature suffices. Returns (id, ref_id,
    * hamming), one row per (corpus doc, distinct-content reference rep).
    *
    * Scale shape mirrors the within-corpus simhash: signatures compute
    * scan-local before any exchange (only ids + 8-byte sigs ride the band
    * join), the corpus collapses exact dups, the reference collapses via
    * [[exact]], byte-identical matches pre-route through the 128-bit hash
    * equi-join (guaranteed found at hamming 0 regardless of bucket caps),
    * and the chunk-banded join is capped on BOTH sides ([[pairsAgainst]]).
    * A null text has no signature and matches nothing.
    */
  def simhashNearDupPairsAgainst(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refIdCol: String, refTextCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val ref = simhashKeyed(distinctText(reference, refIdCol, refTextCol), "id", "__text")
    pairsAgainst(simhashKeyed(corpus, idCol, textCol), ref, maxBucketSize)(
      simhashBands)((_, _, candidates) => hammingPairs(candidates, maxDist))
  }

  // ------------------------------------------------------------ n-gram Jaccard

  /** Set-similarity join on word n-grams with exact Jaccard ≥ threshold,
    * using PPJoin-style prefix filtering: two sets with Jaccard ≥ τ must
    * share a shingle within each other's prefix of the ⌊(1-τ)·|set|⌋+1
    * globally-rarest shingles, so the candidate join runs only over those
    * prefixes — on skewed vocabularies this cuts the bucket join from
    * Σ freq² over ALL shingles to the rare tail. A size-ratio filter
    * (τ·|B| ≤ |A|) prunes the survivors before exact verification.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxBucketSize: Int = 10000): DataFrame = {
    val c = collapseGroups(docs, idCol, textCol, maxBucketSize)
    // Per-doc set size is the shingle-array length — computed scan-local at
    // explode time, so the window below only has to produce the rank (one
    // fewer window function over the same partition+sort).
    // The shingle table feeds BOTH the global-frequency aggregation and the
    // rank join below; the branches re-run the explode, which was MEASURED
    // cheaper than materializing the O(docs × shingles) table (a trial
    // localCheckpoint here more than doubled the gate: the explode is
    // codegen'd over the cached reps, while the checkpoint pays a full
    // write + read of the widest frame in the pipeline).
    val sh = c.reps.select(col("id"), col(textCol))
      .withColumn("__sha", shingles(col(textCol), n))
      .select(col("id"), size(col("__sha")).as("sz"),
        explode(col("__sha")).as("sh"))
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("freq"))
    val wOrd = Window.partitionBy("id").orderBy(col("freq"), col("sh"))
    val sized = sh.join(freq, "sh")
      .withColumn("rn", row_number().over(wOrd))
    // Prefix length is the EXACT-form sz − ⌈t·sz⌉ + 1 with an epsilon
    // inside the ceil: the float product t·sz lands on either side of an
    // integer when t·sz is exactly integral (0.8·10 evaluates to
    // 8.000000000000002), and an unguarded ceil then SHORTENS the prefix
    // below the completeness bound — a true boundary pair (J exactly = t)
    // loses its guaranteed prefix collision and silently disappears.
    // Found by the sf0.1 oracle sweep; the epsilon (≫ the ~1-ulp product
    // error, ≪ the ≥1/sz gap of genuinely fractional products) restores
    // exact-integer behavior.
    val prefix = sized
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("id"), col("sh"), col("sz"), col("rn"))
    // Per-shingle groups are LSH buckets with a constant band_idx (the
    // prefix join has a single logical band); size-ratio pruning applies
    // scan-locally to the generated pairs — same epsilon guard, same
    // boundary reasoning (8 ≥ 0.8·10 must hold).
    //
    // PPJoin POSITION filter, also scan-local: both docs' shingle lists
    // are sorted by the same global total order (freq, then shingle — a
    // strict order, shingles being distinct within a doc), so for a
    // collision at ranks (rn_a, rn_b) the overlap is bounded by
    //   min(rn_a, rn_b) − 1  (common shingles strictly before the match —
    //                         the SAME set on both sides, so ≤ either count)
    //   + 1                  (the match itself)
    //   + min(sz_a − rn_a, sz_b − rn_b)   (the remaining suffixes).
    // Jaccard ≥ τ needs overlap ≥ τ/(1+τ)·(sz_a+sz_b); a pair whose every
    // collision bounds below that can never verify, and a TRUE pair is
    // never lost: the bound is ≥ the real overlap at EVERY collision, so
    // each collision row independently keeps the pair alive. This is what
    // recovers the r08 exact-prefix cost: the (correct, longer) prefixes
    // generate more raw collisions, and the position bound discards the
    // hopeless ones before they reach the distinct exchange and the
    // shingle-intersection verify join. Same epsilon as the prefix bound
    // (τ·(sz_a+sz_b)/(1+τ) lands on either side of an integer when exact).
    val requiredOverlap =
      lit(threshold / (1 + threshold)) * (col("sz_a") + col("sz_b")) - lit(1e-9)
    val candidates = bucketPairs(
      prefix.withColumn("band_idx", lit(0)).withColumnRenamed("sh", "band_hash"),
      maxBucketSize)
      .filter(col("sz_a") >= lit(threshold) * col("sz_b") - lit(1e-9) &&
        col("sz_b") >= lit(threshold) * col("sz_a") - lit(1e-9))
      .filter(least(col("rn_a"), col("rn_b")) +
        least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
        requiredOverlap)
      .select("id_a", "id_b").distinct()
    jaccardFanOut(c, textCol, n, candidates, threshold)
  }

  // ------------------------------------------------------------ Embeddings

  /** Embedding near-dup pairs: sign-random-projection LSH (64 deterministic
    * hyperplanes) → 4 × 16-bit band buckets → exact cosine on candidates.
    * Returns (id_a, id_b, cosine ≥ threshold).
    *
    * Every pair — including the within-group pairs of an exact-duplicate
    * cluster — is subject to the cosine ≥ threshold filter, so groups of
    * degenerate (zero/NaN-norm) vectors are absent from the pair report,
    * exactly as they would be without the collapse.
    *
    * The projection signature is computed scan-locally BEFORE the collapse
    * and passed as its payload (identical vector ⇒ identical signature), so
    * no vector rides the collapse OR bucket exchange — vectors are joined
    * back from the input only for the candidate pairs that survive the
    * distinct.
    */
  def embeddingNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, maxBucketSize: Int = 10000): DataFrame = {
    val c = collapseKeyed(signKeyed(vectors, idCol, vecCol), maxBucketSize)
    val candidates = bucketPairs(signBands(c.reps), maxBucketSize)
      .select("id_a", "id_b").distinct()
    cosineFanOut(c, vectors.select(col(idCol).as("id"), col(vecCol).as("vec")),
      candidates, threshold)
  }

  /** The 4 × 16-bit sign-projection bands of (id, sig, …), ids only. */
  private def signBands(df: DataFrame): DataFrame =
    bandRows(df.select("id", "sig"), bands = 4, bandBits = 16)
      .select("id", "band_idx", "band_hash")

  /** Exact cosine of candidate pairs (id_a, id_b), vectors joined from
    * `vecsA` and `vecsB` (id, vec); (id_a, id_b, cosine) at ≥ threshold.
    */
  private def cosinePairs(candidates: DataFrame, vecsA: DataFrame,
      vecsB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(vecsA.toDF("id_a", "vec_a"), "id_a")
      .join(vecsB.toDF("id_b", "vec_b"), "id_b")
      .withColumn("cosine", GraftFunctions.cosineSim(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** The verify step of embedding and semantic dedup: [[cosinePairs]] of
    * the candidate reps over `vecs` (id, vec), plus one identity pair per
    * dup group, fanned out to members. The identity-pair score is the
    * identical-vector cosine computed by the SAME kernel over the rep's
    * own vector — bit-identical to what the uncollapsed pair would have
    * produced (not a synthesized 1.0, which could differ in the last ulp)
    * — and is subject to the same threshold.
    */
  private def cosineFanOut(c: Collapsed, vecs: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val repPairs = cosinePairs(candidates, vecs, vecs, threshold)
      .unionByName(c.dupReps.join(vecs.toDF("__rep", "vec"), "__rep")
        .select(col("__rep").as("id_a"), col("__rep").as("id_b"),
          GraftFunctions.cosineSim(col("vec"), col("vec")).as("cosine"))
        .filter(col("cosine") >= threshold))
    fanOut(repPairs, c.members)
  }

  /** Cross-corpus EMBEDDING near-dup pairs — semantic decontamination:
    * corpus vectors with cosine ≥ `threshold` against ANY reference vector
    * (a benchmark / eval embedding set), the embedding analog of
    * [[minhashNearDupPairsAgainst]] and the same candidate discipline
    * ([[pairsAgainst]]): a byte-identity pre-route (16-byte vector-hash
    * equi-join — identical vectors are GUARANTEED candidates, immune to
    * every cap) plus a two-side-capped sign-projection band join; exact
    * cosine verifies every candidate, so caps and banding only bound
    * recall of NEAR pairs, never precision. Corpus-side identical vectors
    * collapse before banding and fan back out after verification
    * (identical vectors ⇒ identical cosine); the reference is not
    * collapsed, so a pair comes per reference row.
    *
    * Scale shape: signatures and hash keys compute scan-locally; only
    * (id, 8-byte band keys / 16-byte identity keys) reach the candidate
    * exchanges — vectors appear exclusively in the verify join, restricted
    * to candidates. LSH recall physics per [[graft.similarity.Knn.lshTopK]]:
    * at 4×16-bit bands only HIGH-cosine pairs are retrieved reliably —
    * the near-duplicate regime this filter targets.
    */
  def embeddingNearDupPairsAgainst(corpus: DataFrame, idCol: String,
      vecCol: String, reference: DataFrame, refIdCol: String,
      refVecCol: String, threshold: Double = 0.95,
      maxBucketSize: Int = 10000): DataFrame = {
    val cvecs = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val rvecs = reference.select(col(refIdCol).as("id"), col(refVecCol).as("vec"))
    pairsAgainst(signKeyed(corpus, idCol, vecCol),
      signKeyed(reference, refIdCol, refVecCol), maxBucketSize)(signBands) {
      (_, _, candidates) => cosinePairs(candidates, cvecs, rvecs, threshold)
    }
  }

  /** The filter use-case of [[embeddingNearDupPairsAgainst]]: the corpus
    * with every row semantically near a reference vector removed — scrub
    * training embeddings against a benchmark's embedding set. Removal
    * extends from matched ids to their VECTOR identity, so byte-identical
    * copies past the member-enumeration cap drop too.
    */
  def dropEmbeddingNearDupsAgainst(corpus: DataFrame, idCol: String,
      vecCol: String, reference: DataFrame, refIdCol: String,
      refVecCol: String, threshold: Double = 0.95,
      maxBucketSize: Int = 10000): DataFrame =
    dropMatched(corpus, idCol, vecCol, embeddingNearDupPairsAgainst(corpus,
      idCol, vecCol, reference, refIdCol, refVecCol, threshold, maxBucketSize))

  // ------------------------------------------------------------ semantic dedup

  /** SemDeDup-style semantic near-dup pairs: a k-means coarse quantizer
    * (the [[graft.similarity.Knn.buildIvf]] IVF machinery — driver-trained
    * on a bounded deterministic sample, broadcast, assigned scan-locally)
    * partitions the corpus into `nlist` clusters, and exact cosine runs
    * only WITHIN each cluster. Complementary to [[embeddingNearDupPairs]]:
    * LSH banding has probabilistic recall everywhere in the space, while
    * cluster bucketing concentrates comparisons where semantic duplicates
    * actually live and gives the k-means partition downstream uses anyway
    * (topic routing, per-cluster pruning rates à la SemDeDup); a pair
    * split across a cluster boundary is missed by construction — that is
    * the SemDeDup recall tradeoff, not a defect.
    *
    * Scale shape: quantizer training is corpus-size-independent; cluster
    * assignment is a scan-local codegen'd argmax (no shuffle); identical
    * vectors are collapsed BEFORE pairing by the standard pre-route
    * ([[collapseKeyed]] — hash keys and list id both compute scan-locally,
    * so only (id, 16-byte key, list_id) ever reaches an exchange, never
    * the vector); within-cluster pairing is [[bucketPairs]] with the
    * cluster as the single band, capped at `maxClusterSize` members — a
    * hot cluster contributes ≤ max² pairs, never quadratic. Raise `nlist`
    * with corpus size (FAISS practice ~√n) to keep clusters bounded.
    */
  def semanticNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nlist: Int = 256, maxClusterSize: Int = 10000,
      seed: Long = 42L, maxIter: Int = 4): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val index = graft.similarity.Knn.buildIvf(
      vectors, idCol, vecCol, nlist, seed, maxIter)
    val c = collapseKeyed(
      keyedBy(index.assigned, "neighbor_id", col("neighbor_vec"), col("list_id")),
      maxClusterSize)
    val candidates = bucketPairs(
      c.reps.withColumn("band_idx", lit(0))
        .withColumnRenamed("list_id", "band_hash"),
      maxClusterSize).select("id_a", "id_b")
    cosineFanOut(c, vectors.select(col(idCol).as("id"), col(vecCol).as("vec")),
      candidates, threshold)
  }

  /** Semantic dedup: drop every vector that has a SMALLER-id near-duplicate
    * in its cluster ([[semanticNearDupPairs]] ≥ `threshold`), keep the rest
    * — one deterministic pass, no iteration. Note the rule is pairwise,
    * not greedy-sequential: a vector is removed even when its smaller-id
    * neighbor is itself removed (a ~ b ~ c chains drop b AND c where
    * greedy removal in id order would re-admit c). That is the standard
    * scale-safe choice — greedy re-admission is a sequential recurrence
    * over each duplicate chain; route pairs through
    * [[Clusters.connectedComponents]] instead when per-GROUP
    * representatives are required.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nlist: Int = 256, maxClusterSize: Int = 10000,
      seed: Long = 42L, maxIter: Int = 4): DataFrame = {
    // Persisted: the flagged frame below feeds two consumers (the group
    // aggregate and the final join), which would otherwise re-run the
    // whole pairs pipeline.
    val removed = ScopedStorage.persist(
      semanticNearDupPairs(vectors, idCol, vecCol, threshold,
        nlist, maxClusterSize, seed, maxIter)
        .select(col("id_b").as(idCol)).distinct())
    // Extend removal past the member-enumeration cap by VECTOR identity:
    // the pair fan-out lists at most maxClusterSize members per
    // byte-identical group, but the contract ("drop every vector with a
    // smaller-id near-duplicate") binds every copy. Per identical-vector
    // group: if the group's MIN id was removed, every copy shares its
    // smaller near-neighbor — drop all; else if ANY enumerated member was
    // removed, the identity pairs fired, so every non-min copy has the min
    // as a smaller identical neighbor — keep only the min; else (no
    // removals — e.g. degenerate vectors whose identity cosine misses the
    // threshold) keep all copies.
    val keyed = vectors.select(col("*") +: hashKeys(Seq(col(vecCol))): _*)
    val flagged = keyed.join(
      removed.select(col(idCol), lit(1).as("__rm")), Seq(idCol), "left")
    val groups = flagged.groupBy("__h1", "__h2").agg(
      min(col(idCol)).as("__min_id"),
      min(when(col("__rm") === 1, col(idCol))).as("__min_rm"))
    flagged.join(groups, Seq("__h1", "__h2"))
      .filter(col("__min_rm").isNull ||
        (col("__min_rm") =!= col("__min_id") && col(idCol) === col("__min_id")))
      .drop("__h1", "__h2", "__rm", "__min_id", "__min_rm")
  }
}
