package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{ScopedStorage, Tables}
import graft.core.ScopedStorage.Ops
import graft.dedup.{Clusters, Dedup}
import graft.functions.GraftFunctions
import graft.multimodal.Multimodal
import graft.operators.{Packing, Sampling}
import graft.similarity.Knn
import graft.text.{Bm25, C4Rules, Decontamination, Dsir, DupSpans, LineDedup, NbClassifier, QualityRules, TextAnalysis, TfIdf}

/** Driver-gate queries for the training-data pipeline operators (dedup,
  * similarity search, text analysis, multimodal) over the `documents` and
  * `embeddings` tables. EVERY gate here carries a DuckDB oracle (the r10
  * conversion retired the last rows-only gates): SQL-expressible scorers
  * are replayed directly; sketch/LSH operators gate on derivable
  * contracts instead — planted ground truth, recall floors against
  * brute-force, or algebraic invariants — with raw sketch values pinned
  * by ScalaTest. The invariant is queries.keySet == oracles.keySet;
  * never add a gate without an oracle entry.
  */
object PipelineQueries {

  /** The test corpus has few natural near-dups, so near-dup queries plant
    * deterministic ones: exact copies of docs 0-24 (ids +1,000,000) and
    * two-token-appended copies of docs 25-49 (ids +2,000,000).
    */
  private[graft] def plantedDocs(docs: DataFrame): DataFrame = {
    val copies = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val perturbed = docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat(col("text"), lit(" zq zq")))
    docs.unionByName(copies).unionByName(perturbed)
  }

  // ---------------------------------------------------------------- text
  def txtTokens(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB fragment: whitespace token count of `text`. */
  private val wsTokensFrag =
    """CAST(len(string_split_regex(trim(text), '\s+')) AS INT)"""

  private val txtTokensSql =
    s"""SELECT doc_id,
       |  $wsTokensFrag AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  def txtQuality(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB fragment: the quality score of `text` (mirrors
    * TextAnalysis.qualityScore term-for-term). */
  private val qualityFrag =
    """(least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
      |   + (CASE WHEN (CAST(length(text) AS DOUBLE)
      |                 - (CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) - 1))
      |                / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
      |              BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
      |   + (1.0 - least(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |                  / CAST(length(text) AS DOUBLE) * 5.0, 1.0)) * 0.2)""".stripMargin

  private val txtQualitySql =
    s"""SELECT doc_id,
       |  $wsTokensFrag AS n_tokens,
       |  $qualityFrag AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  def txtLangId(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.langHits(col("text"), "en").as("en_hits"),
        TextAnalysis.langHits(col("text"), "de").as("de_hits"))
      .orderBy(col("doc_id"))
  }

  private def hitsSql(words: Seq[String]): String =
    s"CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), " +
      s"x -> x IN (${words.map(w => s"'$w'").mkString(", ")}))) AS INT)"

  /** DuckDB fragment: the language guess of `text` (mirrors
    * TextAnalysis.langId's profile-vote tiebreak order). */
  private val langGuessFrag = {
    val profiles = TextAnalysis.stopwordProfiles
    val Seq(de, en, es, fr) = Seq("de", "en", "es", "fr").map(l => hitsSql(profiles(l)))
    s"""CASE WHEN $de >= $en AND $de >= $es AND $de >= $fr THEN 'de'
       |       WHEN $en >= $es AND $en >= $fr THEN 'en'
       |       WHEN $es >= $fr THEN 'es'
       |       ELSE 'fr' END""".stripMargin
  }

  private val txtLangIdSql = {
    val profiles = TextAnalysis.stopwordProfiles
    val Seq(de, en) = Seq("de", "en").map(l => hitsSql(profiles(l)))
    s"""SELECT doc_id, lang,
       |  $langGuessFrag AS lang_guess,
       |  $en AS en_hits, $de AS de_hits
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The composed training-data cleaning pipeline: language filter →
    * quality filter → exact dedup (lowest doc_id wins) → corpus accounting.
    * One scan + one dedup shuffle end-to-end; the oracle recomputes the
    * whole chain declaratively, so the COMPOSITION (filter interplay,
    * dedup tiebreak, final accounting) is verified, not just each stage.
    */
  def pipeCleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val c = TextAnalysis.Counts(col("__counts"))
    val scored = TextAnalysis.withCounts(docs, col("text"), "__counts")
      .select(col("doc_id"), col("text"),
        c.tokens.as("n_tokens"),
        TextAnalysis.qualityScore(c).as("quality"),
        TextAnalysis.langId(c).as("lang_guess"))
    val filtered = scored.filter(col("quality") >= 0.5 && col("lang_guess") === "en")
    val deduped = Dedup.exact(filtered, Seq("text"), Seq(col("doc_id")))
    deduped.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      min(col("doc_id")).as("first_doc"))
  }

  private val pipeCleanCorpusSql =
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    $wsTokensFrag AS n_tokens,
       |    $qualityFrag AS quality,
       |    $langGuessFrag AS lang_guess
       |  FROM documents
       |), filtered AS (
       |  SELECT * FROM scored WHERE quality >= 0.5 AND lang_guess = 'en'
       |), deduped AS (
       |  SELECT * FROM filtered
       |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
       |)
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  MIN(doc_id) AS first_doc
       |FROM deduped""".stripMargin

  /** URL/boilerplate normalization over the corpus plus planted noisy rows
    * (every 7th doc gets an upper-cased URL + email + ragged-whitespace
    * tail): casing folds, URLs/emails collapse to placeholder tokens,
    * whitespace runs collapse — the canonicalization that makes
    * trivially-different copies hash identically for dedup.
    */
  def txtNormalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val noisy = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"),
          lit("  Visit HTTPS://Example.COM/a?b=1&utm=x   or mail Bob.Smith+x@Example.org  now")))
        .otherwise(col("text")))
    noisy.select(col("doc_id"),
      TextAnalysis.normalize(col("text")).as("norm_text"))
      .orderBy(col("doc_id"))
  }

  private val txtNormalizeSql =
    """WITH noisy AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN text || '  Visit HTTPS://Example.COM/a?b=1&utm=x   or mail Bob.Smith+x@Example.org  now'
      |         ELSE text END AS text
      |  FROM documents
      |)
      |SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |    'https?://\S+', '<url>', 'g'),
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
      |    '\s+', ' ', 'g')) AS norm_text
      |FROM noisy ORDER BY doc_id""".stripMargin

  /** Stopword ratio (the classic quality-filter signal) over the corpus,
    * rounded to 6 dp on both sides (double-division precedent).
    */
  def txtStopwordRatio(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  private val txtStopwordRatioSql = {
    val words = TextAnalysis.englishStopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |            x -> x IN ($words))) AS DOUBLE)
       |    / len(string_split_regex(trim(text), '\\s+')), 6) AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Normalization wired AHEAD of exact dedup — the composition that makes
    * casing/URL/whitespace variants of the same document collapse: planted
    * noisy copies (ids +6,000,000 — upper-cased, ragged whitespace, a
    * tracking URL swapped for another) must dedup against their originals
    * once both carry the same `<url>`-normalized form. Scan-local
    * normalize + one content-hash agg; the oracle re-derives the chain.
    */
  def pipeNormalizeDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val withUrl = docs.withColumn("text",
      concat(col("text"), lit(" see https://src.example/"), col("doc_id")))
    val noisy = withUrl.filter(col("doc_id") < 40)
      .withColumn("doc_id", col("doc_id") + 6000000L)
      .withColumn("text",
        concat(lit("  "), upper(col("text")), lit("   extra  ")))
      .withColumn("text",
        regexp_replace(col("text"), "HTTPS://\\S+", "https://other.example/tracked?z=1"))
    val corpus = withUrl.unionByName(noisy)
      .withColumn("norm_text", TextAnalysis.normalize(col("text")))
    // noisy copies end as "<original normalized> see <url> extra" — append
    // " extra" to nothing: they differ from originals ONLY by the literal
    // trailing token, so strip it for the dedup key to isolate the
    // normalization effect end-to-end.
    val keyed = corpus.withColumn("dedup_key",
      regexp_replace(col("norm_text"), " extra$", ""))
    val deduped = Dedup.exact(keyed, Seq("dedup_key"), Seq(col("doc_id")))
    deduped.agg(count(lit(1)).as("n_docs"),
      count(when(col("doc_id") >= 6000000L, 1)).as("n_noisy_survivors"))
  }

  /** Multi-epoch repetition plan ([[Sampling.epochRepeat]]): sources get
    * a quality-tier epoch budget (2.5 / 1.0 / 0.25 / 1.5 by source id mod
    * 4 — a stand-in for a quality-score lookup), and every document
    * materializes once per epoch it participates in; fractional epochs
    * draw content-addressed. The oracle replays the tier mapping, the
    * instance spine, and the salted per-epoch draw hash-for-hash.
    */
  def pipeEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tier = pmod(substring(col("source"), 4, 10).cast("int"), lit(4))
    val epochs = when(tier === 0, 2.5).when(tier === 1, 1.0)
      .when(tier === 2, 0.25).otherwise(1.5)
    Sampling.epochRepeat(docs.withColumn("__e", epochs), "doc_id",
      col("__e"), salt = 21L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_instances"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("epoch")).as("max_epoch"))
      .orderBy(col("source"))
  }

  private val pipeEpochPlanSql =
    """WITH tiers AS (
      |  SELECT doc_id, source,
      |    CASE CAST(substr(source, 4) AS INT) % 4
      |      WHEN 0 THEN 2.5 WHEN 1 THEN 1.0 WHEN 2 THEN 0.25
      |      ELSE 1.5 END AS e
      |  FROM documents
      |), inst AS (
      |  SELECT doc_id, source, e,
      |    unnest(range(1, CAST(floor(e) AS BIGINT) +
      |      CASE WHEN e - floor(e) > 0 THEN 1 ELSE 0 END + 1)) AS epoch
      |  FROM tiers
      |), kept AS (
      |  SELECT * FROM inst
      |  WHERE epoch <= CAST(floor(e) AS BIGINT)
      |     OR CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
      |          CAST(epoch AS VARCHAR) || ':21'), 1, 8)) AS BIGINT)
      |        < CAST(round((e - floor(e)) * 4294967296) AS BIGINT)
      |)
      |SELECT source, COUNT(*) AS n_instances,
      |  COUNT(DISTINCT doc_id) AS n_docs, MAX(epoch) AS max_epoch
      |FROM kept GROUP BY source ORDER BY source""".stripMargin

  /** Hard-negative mining — the retrieval-training composition over BM25:
    * per query, the rank-1 hit is the positive and ranks 6–10 are the
    * hard negatives (relevant enough to rank, wrong enough to teach the
    * margin — the standard dense-retriever training recipe). Shares the
    * BM25 gate's queries AND its oracle CTE block, so both gates replay
    * the identical model; only the final role/filter differs.
    */
  def pipeHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq((1L, "spark window sort"), (2L, "hash join merge batch"),
      (3L, "customer stream query zzqzzq")).toDF("query_id", "qtext")
    Bm25.search(Tables.documents(spark, dir), "doc_id", "text",
      qs, "query_id", "qtext", k = 10, k1 = 1.5, b = 0.75)
      .withColumn("role",
        when(col("rank") === 1, lit("pos"))
          .when(col("rank") >= 6, lit("hard_neg")))
      .filter(col("role").isNotNull)
      .select(col("query_id"), col("doc_id"), col("role"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val pipeHardNegativesSql = bm25RankedCtes +
    """
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |  CASE WHEN rank = 1 THEN 'pos' ELSE 'hard_neg' END AS role,
      |  CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank = 1 OR (rank >= 6 AND rank <= 10)
      |ORDER BY query_id, rank""".stripMargin

  /** Curriculum staging: documents bucketed into 4 difficulty stages by
    * EXACT score quartiles (difficulty proxy: BPE-ish token count; the
    * thresholds are SELECTED elements via [[graft.operators.Quantiles]],
    * broadcast back, stage assignment scan-local) — the curriculum-
    * learning layout WITHOUT a global total sort: stage membership needs
    * only the three thresholds, and the within-stage training order is a
    * range-partitioned write-time sort, not a row_number funnel. Boundary
    * ties bucket ≤-threshold deterministically on both engines.
    */
  def pipeCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("score", TextAnalysis.bpeishTokenCount(col("text")))
      .withColumn("__g", lit(1))
    val thresholds = graft.operators.Quantiles
      .groupQuantiles(scored, "__g", "score", "doc_id",
        Seq(("t25", 1, 4), ("t50", 1, 2), ("t75", 3, 4)))
      .select(col("t25"), col("t50"), col("t75"))
    scored.crossJoin(broadcast(thresholds))
      .withColumn("stage",
        when(col("score") <= col("t25"), lit(0))
          .when(col("score") <= col("t50"), lit(1))
          .when(col("score") <= col("t75"), lit(2))
          .otherwise(lit(3)))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"),
        sum(col("score").cast("long")).as("total_tokens"))
      .orderBy(col("stage"))
  }

  private val pipeCurriculumSql =
    """WITH scored AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text,
      |      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS score
      |  FROM documents
      |), ranked AS (
      |  SELECT score,
      |    row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM scored
      |), th AS (
      |  SELECT
      |    MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 THEN score END) AS t25,
      |    MAX(CASE WHEN rn = (1 * (n - 1)) // 2 + 1 THEN score END) AS t50,
      |    MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN score END) AS t75
      |  FROM ranked
      |)
      |SELECT CASE WHEN score <= t25 THEN 0 WHEN score <= t50 THEN 1
      |            WHEN score <= t75 THEN 2 ELSE 3 END AS stage,
      |  COUNT(*) AS n_docs, MIN(score) AS min_score, MAX(score) AS max_score,
      |  CAST(SUM(score) AS BIGINT) AS total_tokens
      |FROM scored CROSS JOIN th
      |GROUP BY 1 ORDER BY stage""".stripMargin

  /** Contrastive triplet mining over the embeddings table: for each
    * anchor, one positive (same label) and one negative (different
    * label), each chosen by CONTENT-ADDRESSED ranking — md5 over the
    * (anchor, candidate, role) triple — so the draw is a pure function of
    * the ids and replays on any engine (the sampler discipline every
    * pipe_* gate uses). min_by keeps the pick a map-side-combinable
    * aggregation; at 100 TB the candidate sides pre-filter by hash bucket
    * before the join instead of scanning the full corpus per anchor.
    */
  def pipeTriplets(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val anchors = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"))
    def pick(cands: DataFrame, sameLabel: Boolean, role: String) = {
      val cond = if (sameLabel)
        col("a_label") === col("label") && col("anchor_id") =!= col("vec_id")
      else col("a_label") =!= col("label")
      anchors.join(cands, cond)
        .groupBy(col("anchor_id"))
        .agg(min_by(col("vec_id"),
          md5(concat(col("anchor_id").cast("string"), lit("|"),
            col("vec_id").cast("string"), lit("|" + role)))).as(role + "_id"))
    }
    pick(vecs, sameLabel = true, "pos")
      .join(pick(vecs, sameLabel = false, "neg"), Seq("anchor_id"))
      .orderBy(col("anchor_id"))
  }

  private val pipeTripletsSql =
    """WITH anchors AS (
      |  SELECT vec_id AS anchor_id, label AS a_label FROM embeddings
      |  WHERE vec_id < 50
      |), pos AS (
      |  SELECT anchor_id, vec_id AS pos_id FROM (
      |    SELECT a.anchor_id, c.vec_id,
      |      row_number() OVER (PARTITION BY a.anchor_id
      |        ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || '|' ||
      |                     CAST(c.vec_id AS VARCHAR) || '|pos')) AS rn
      |    FROM anchors a JOIN embeddings c
      |      ON a.a_label = c.label AND a.anchor_id <> c.vec_id
      |  ) WHERE rn = 1
      |), neg AS (
      |  SELECT anchor_id, vec_id AS neg_id FROM (
      |    SELECT a.anchor_id, c.vec_id,
      |      row_number() OVER (PARTITION BY a.anchor_id
      |        ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || '|' ||
      |                     CAST(c.vec_id AS VARCHAR) || '|neg')) AS rn
      |    FROM anchors a JOIN embeddings c ON a.a_label <> c.label
      |  ) WHERE rn = 1
      |)
      |SELECT p.anchor_id, p.pos_id, n.neg_id
      |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
      |ORDER BY p.anchor_id""".stripMargin

  /** Exact top-10 tokens via the two-pass Misra–Gries operator
    * ([[graft.text.HeavyHitters]]), capacity 64 — above the corpus's
    * ~31-token vocabulary, so MG retention is total and the output is the
    * TRUE top-k, which the oracle recomputes as a plain exact top-k. The
    * operator's value is the plan shape (bounded candidate generation +
    * candidates-only exchange), not a different answer.
    */
  def txtHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.text.HeavyHitters.topTokens(
      Tables.documents(spark, dir), "text", k = 10, capacity = 64)

  private val txtHeavyHittersSql =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT token, COUNT(*) AS n FROM toks WHERE token <> ''
      |  GROUP BY token
      |)
      |SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 10""".stripMargin

  /** The stateless quality filter as a STREAM gate: the lined corpus
    * streamed through the Gopher keep-rules inside the streaming planner
    * (the scan-local rule kernel applies to a stream unchanged — the
    * filter-at-ingest deployment), surviving doc_ids pinned against the
    * batch rule replay. Stateless ⇒ batching-independent by construction;
    * the gate makes that a hash-checked contract instead of a spec claim.
    * `probe` sees the query after the drain
    * ([[graft.streaming.EventStreams.runBoundedToMemory]]).
    */
  def streamQualityFilter(spark: SparkSession, dir: String,
      probe: StreamingQuery => Unit = _ => ()): DataFrame = {
    GraftFunctions.register(spark)
    graft.materialize.Staging.withDir(spark, "stream_gq") { d =>
      val docs = linedDocs(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"))
      docs.write.parquet(s"$d/src")
      val schema = spark.read.parquet(s"$d/src").schema
      val transform: DataFrame => DataFrame =
        df => QualityRules.survivors(df, col("text"))
      val sink = "stream_gq_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(10)
      val res = graft.streaming.EventStreams.runBoundedToMemory(
        spark, s"$d/src", schema, transform, sink,
        statePartitions = Some(8), noDataBatch = false, probe = probe)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
        .cache()
      res.count() // materialize before the staging dir vanishes
      res
    }
  }

  private def streamQualityFilterSql: String =
    s"""WITH $linedDocsSql,
       |${gopherRuleCtes("lined")}
       |SELECT doc_id FROM __gk
       |WHERE quality_keep AND repetition_keep
       |ORDER BY doc_id""".stripMargin

  /** Exact top-10 BIGRAMS via the same two-pass sketch
    * ([[graft.text.HeavyHitters.topGrams]]) — the boilerplate-phrase
    * miner over a gram vocabulary larger than the unigram one. Capacity
    * sizing is the operator's REAL contract and this gate proves it the
    * hard way: at 512 the corpus's 10th bigram frequency (~n/545) sits
    * BELOW the n/(cap+1) retention bound and the top-10 silently loses
    * members — the bound is scale-invariant here (both sides linear in
    * corpus size), so 2048 restores exactness at every sf. The oracle
    * recomputes the full exact bigram top-k.
    */
  def txtHeavyBigrams(spark: SparkSession, dir: String): DataFrame =
    graft.text.HeavyHitters.topGrams(
      Tables.documents(spark, dir), "text", n = 2, k = 10, capacity = 2048)

  private val txtHeavyBigramsSql =
    """WITH toks AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
      |), grams AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS gram
      |  FROM toks
      |), counts AS (
      |  SELECT gram, COUNT(*) AS n FROM grams WHERE gram <> ''
      |  GROUP BY gram
      |)
      |SELECT gram, n FROM counts ORDER BY n DESC, gram LIMIT 10""".stripMargin

  /** Corpus snapshot diff ([[graft.operators.SnapshotDiff]]): v1 is a
    * deterministic past version of the documents corpus — every doc_id%5==0
    * doc not yet ingested (→ added), every (kept) doc_id%3==0 doc carrying
    * older text (→ changed), plus 25 since-deleted synthetic docs
    * (→ removed). Content compares by scan-local md5, so the full-outer
    * join exchanges 40-byte rows, never text.
    */
  def pipeCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 8000000L))
    graft.operators.SnapshotDiff.summary(v1, docs, "doc_id", Seq("text"))
      .orderBy(col("status"))
  }

  private val pipeCorpusDiffSql =
    """WITH v1 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN text || ' v1' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 <> 0
      |  UNION ALL
      |  SELECT doc_id + 8000000, text FROM documents WHERE doc_id < 25
      |), o AS (SELECT doc_id AS key, md5(text) AS h FROM v1),
      |c AS (SELECT doc_id AS key, md5(text) AS h FROM documents)
      |SELECT CASE WHEN o.key IS NULL THEN 'added'
      |            WHEN c.key IS NULL THEN 'removed'
      |            WHEN o.h <> c.h THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      |  COUNT(*) AS n
      |FROM o FULL JOIN c ON o.key = c.key
      |GROUP BY 1 ORDER BY status""".stripMargin

  /** Quality-argmax dedup survivors ([[Dedup.keepBest]]): planted
    * normalize-equal variants (case + whitespace noise, 5 chars longer)
    * must WIN their cluster under the keep-longest policy — the opposite
    * outcome of the keep-min-id [[Dedup.exact]] every other dedup gate
    * pins, which is exactly the point: survivor choice is a policy, and
    * curation wants the best copy, not the first.
    */
  def pipeClusterBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val variants = docs.filter(col("doc_id") < 60)
      .withColumn("doc_id", col("doc_id") + 7000000L)
      .withColumn("text", concat(lit("  "), upper(col("text")), lit("   ")))
    val corpus = docs.unionByName(variants)
      .withColumn("norm", TextAnalysis.normalize(col("text")))
    Dedup.keepBest(corpus, Seq("norm"),
      Seq(length(col("text")), negate(col("doc_id"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_survivors"),
        count(when(col("doc_id") >= 7000000L, 1)).as("n_variant_wins"),
        sum(length(col("text"))).as("total_len"))
      .orderBy(col("source"))
  }

  private val pipeClusterBestSql =
    """WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 7000000, '  ' || upper(text) || '   ', source
      |  FROM documents WHERE doc_id < 60
      |), keyed AS (
      |  SELECT doc_id, text, source,
      |    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |      'https?://\S+', '<url>', 'g'),
      |      '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
      |      '\s+', ' ', 'g')) AS norm
      |  FROM corpus
      |), best AS (
      |  SELECT doc_id, text, source FROM keyed
      |  QUALIFY row_number() OVER (PARTITION BY norm
      |    ORDER BY length(text) DESC, doc_id ASC) = 1
      |)
      |SELECT source, COUNT(*) AS n_survivors,
      |  COUNT(CASE WHEN doc_id >= 7000000 THEN 1 END) AS n_variant_wins,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_len
      |FROM best GROUP BY source ORDER BY source""".stripMargin

  private val pipeNormalizeDedupSql =
    """WITH with_url AS (
      |  SELECT doc_id, text || ' see https://src.example/' || doc_id AS text
      |  FROM documents
      |), noisy AS (
      |  SELECT doc_id + 6000000 AS doc_id,
      |    regexp_replace('  ' || upper(text) || '   extra  ',
      |      'HTTPS://\S+', 'https://other.example/tracked?z=1', 'g') AS text
      |  FROM with_url WHERE doc_id < 40
      |), corpus AS (
      |  SELECT doc_id, text FROM with_url UNION ALL SELECT doc_id, text FROM noisy
      |), keyed AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |        'https?://\S+', '<url>', 'g'),
      |        '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
      |        '\s+', ' ', 'g')),
      |      ' extra$', '') AS dedup_key
      |  FROM corpus
      |), deduped AS (
      |  SELECT doc_id FROM keyed
      |  QUALIFY row_number() OVER (PARTITION BY dedup_key ORDER BY doc_id) = 1
      |)
      |SELECT COUNT(*) AS n_docs,
      |  CAST(COUNT(CASE WHEN doc_id >= 6000000 THEN 1 END) AS BIGINT) AS n_noisy_survivors
      |FROM deduped""".stripMargin

  /** PII detection + redaction over the corpus plus planted PII rows (every
    * 11th doc gets an email + phone + IPv4 appended): staged counts (emails
    * on raw text, IPs on email-redacted, phones on email+IP-redacted — no
    * double counting) and the fully scrubbed text. Scan-local regex chains;
    * the oracle replays the identical patterns in RE2.
    */
  def txtPii(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val noisy = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(col("text"),
          lit(" Contact J.Doe+spam@Corp.example, call +1 (415) 555-0134, host 192.168.10.42.")))
        .otherwise(col("text")))
    noisy.select(col("doc_id"),
      TextAnalysis.piiEmails(col("text")).as("n_emails"),
      TextAnalysis.piiIps(col("text")).as("n_ips"),
      TextAnalysis.piiPhones(col("text")).as("n_phones"),
      TextAnalysis.scrubPii(col("text")).as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  private val txtPiiSql = {
    val (email, ip, phone) =
      (TextAnalysis.emailRe, TextAnalysis.ipv4Re, TextAnalysis.phoneRe)
    s"""WITH noisy AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0
       |         THEN text || ' Contact J.Doe+spam@Corp.example, call +1 (415) 555-0134, host 192.168.10.42.'
       |         ELSE text END AS text
       |  FROM documents
       |), staged AS (
       |  SELECT doc_id, text,
       |    regexp_replace(text, '$email', '<email>', 'g') AS t1
       |  FROM noisy
       |), staged2 AS (
       |  SELECT *, regexp_replace(t1, '$ip', '<ip>', 'g') AS t2 FROM staged
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$ip')) AS INT) AS n_ips,
       |  CAST(len(regexp_extract_all(t2, '$phone')) AS INT) AS n_phones,
       |  regexp_replace(t2, '$phone', '<phone>', 'g') AS scrubbed
       |FROM staged2 ORDER BY doc_id""".stripMargin
  }

  /** Near-dup pairs → duplicate CLUSTERS via distributed min-label
    * propagation (graft.dedup.Clusters): the transitive closure pairwise
    * dedup can't see (a~b, b~c ⇒ {a,b,c} one cluster). Edges are the
    * exact-verified MinHash-LSH pairs — the SAME upstream the end-to-end
    * `pipe_neardup_clusters` gate builds (the two gates assert different
    * surfaces of one computation: this one the full per-id label mapping
    * row-by-row, that one the survivor slice), so the operator's bench
    * budget isn't spent evaluating two distinct pair pipelines; the n-gram
    * pipeline keeps its own dedicated gate (`dd_ngram_jaccard`). Verified
    * pairs are exact (candidates-then-verify; recall independently pinned
    * by `dd_minhash_recall`), so the oracle can rebuild the same graph
    * brute-force and chase connectivity with a recursive CTE — the
    * ITERATIVE distributed algorithm is checked against a declarative
    * ground truth.
    */
  def ddCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(Tables.documents(spark, dir))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
    Clusters.connectedComponents(pairs)
      .orderBy(col("id"))
  }

  // lazy: bruteJaccardSql reads plantedDocsSql, a val defined further down
  // this object — eager init here would interpolate null.
  private lazy val ddClusterSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT id_a, id_b FROM (${bruteJaccardSql(0.7)})
       |), edges AS (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION ALL
       |  SELECT id_b AS s, id_a AS d FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
       |)
       |SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** The whole transitive-dedup story END-TO-END: MinHash-LSH near-dup
    * pairs → connected components → survivor filter over the corpus. A doc
    * is dropped iff it appears in the near-dup graph and is NOT its
    * cluster's canonical (minimum) id — the `id == cluster` slice of the
    * labels IS [[graft.dedup.Clusters.survivors]], read off one components
    * run instead of two. The output pins the surviving corpus both by
    * COUNT and by id-sum, so the oracle verifies WHICH docs survive, not
    * just how many.
    *
    * Oracle-checkable because LSH here is candidates-then-verify with
    * exact-Jaccard verification: found pairs ⊆ true pairs always, and on
    * this corpus recall is exactly 100% (the deterministic sketch finds
    * every pair ≥ 0.7 — independently pinned by `dd_minhash_recall`), so
    * DuckDB can rebuild the same graph brute-force and chase connectivity
    * with a recursive CTE.
    */
  def pipeNeardupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(Tables.documents(spark, dir))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
    val cc = Clusters.connectedComponents(pairs)
    val nonSurvivors = cc.filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    val kept = docs.join(nonSurvivors, Seq("doc_id"), "left_anti")
    kept.agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
      .crossJoin(cc.agg(countDistinct(col("cluster")).as("n_clusters")))
      .select("n_kept", "n_clusters", "kept_id_sum")
  }

  private lazy val pipeNeardupClustersSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT id_a, id_b FROM (${bruteJaccardSql(0.7)})
       |), edges AS (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION ALL
       |  SELECT id_b AS s, id_a AS d FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
       |), cc AS (
       |  SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id
       |), base AS (
       |  SELECT doc_id, text FROM documents
       |), docs AS (
       |  $plantedDocsSql
       |), kept AS (
       |  SELECT d.doc_id FROM docs d
       |  LEFT JOIN cc ON cc.id = d.doc_id
       |  WHERE cc.id IS NULL OR cc.cluster = d.doc_id
       |)
       |SELECT (SELECT COUNT(*) FROM kept) AS n_kept,
       |  (SELECT COUNT(DISTINCT cluster) FROM cc) AS n_clusters,
       |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept) AS kept_id_sum""".stripMargin

  /** Per-language corpus length statistics with EXACT interpolated
    * percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`). Exact
    * percentile buffers each group's values on the agg task — fine for
    * bounded-cardinality groups like languages; per-doc-scale groups at
    * 100 TB use `approx_percentile` (same plan shape, mergeable sketch),
    * which no external oracle can replay — this gate pins the exact path.
    */
  def txtLengthStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("mean_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.9)), 6).as("p90_chars"),
        round(percentile(col("n_chars"), lit(0.99)), 6).as("p99_chars"))
      .orderBy(col("lang"))

  private val txtLengthStatsSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  round(avg(n_chars), 6) AS mean_chars,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
      |  round(quantile_cont(n_chars, 0.99), 6) AS p99_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Context-length chunking: 64-token windows with 16-token overlap, one
    * output row per (doc, window). Scan-local explode — the oracle replays
    * the exact window arithmetic (starts, clipping, 1-based slices) over
    * the same whitespace tokenization.
    */
  def txtChunk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.chunkTokens(col("text"), maxTokens = 64,
          overlap = 16)).as(Seq("chunk_idx", "chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val txtChunkSql =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, toks,
      |    unnest(range(1, greatest(len(toks) - 16, 1) + 1, 48)) AS st
      |  FROM t
      |)
      |SELECT doc_id, CAST((st - 1) / 48 AS INT) AS chunk_idx,
      |  array_to_string(toks[st : st + 63], ' ') AS chunk
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** Duplicated-span statistics ([[DupSpans.duplicatedSpanStats]], word
    * 3-grams): fraction of each doc's gram occurrences that occur in ≥2
    * distinct documents — the distributed substring-dedup signal. The
    * Spark side runs the production path (grams carried as xxhash64 keys
    * through both aggregations); the oracle recomputes the identical
    * counts from the gram STRINGS, so the gate also proves the hashed
    * shuffle is count-preserving on this corpus.
    */
  def txtDupSpans(spark: SparkSession, dir: String): DataFrame =
    DupSpans.duplicatedSpanStats(Tables.documents(spark, dir),
      "doc_id", "text", n = 3, minDocs = 2)
      .orderBy(col("doc_id"))

  private val txtDupSpansSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS g
      |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3
      |), per_doc AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g
      |), dup AS (
      |  SELECT g FROM per_doc GROUP BY g HAVING COUNT(*) >= 2
      |)
      |SELECT p.doc_id,
      |  CAST(SUM(p.c) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(SUM(p.c) FILTER (WHERE d.g IS NOT NULL), 0) AS BIGINT)
      |    AS n_dup,
      |  round(COALESCE(SUM(p.c) FILTER (WHERE d.g IS NOT NULL), 0)
      |    / CAST(SUM(p.c) AS DOUBLE), 6) AS dup_frac
      |FROM per_doc p LEFT JOIN dup d USING (g)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  /** Substring-dedup transform ([[DupSpans.removeDuplicatedSpans]], word
    * 3-grams): every token covered by a cross-document duplicated gram is
    * cut and the doc rebuilt — the codegen'd [[graft.functions.RemoveSpans]]
    * kernel's sweep, replayed by the oracle as gram → covered-token-index →
    * anti-join → ordered string_agg. doc_id < 200 bounds the output
    * volume; the dup-gram statistics still come from the WHOLE corpus, so
    * the slice is a projection, not a different computation.
    */
  def txtRemoveSpans(spark: SparkSession, dir: String): DataFrame =
    DupSpans.removeDuplicatedSpans(Tables.documents(spark, dir),
      "doc_id", "text", n = 3, minDocs = 2)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("clean_text"))
      .orderBy(col("doc_id"))

  private val txtRemoveSpansSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, i, array_to_string(t[i : i + 2], ' ') AS g
      |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3
      |), dup AS (
      |  SELECT g FROM (
      |    SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY g
      |  ) WHERE nd >= 2
      |), cov AS (
      |  SELECT DISTINCT g.doc_id, c.ci
      |  FROM g JOIN dup USING (g), UNNEST(generate_series(g.i, g.i + 2)) AS c(ci)
      |), tok_pos AS (
      |  SELECT doc_id, p.ti, t[p.ti] AS tok
      |  FROM toks, UNNEST(generate_series(1, len(t))) AS p(ti)
      |)
      |SELECT tp.doc_id,
      |  COALESCE(string_agg(tp.tok, ' ' ORDER BY tp.ti)
      |             FILTER (WHERE cov.ci IS NULL), '') AS clean_text
      |FROM tok_pos tp
      |LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.ci = tp.ti
      |WHERE tp.doc_id < 200
      |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin

  /** The corpus's most-duplicated spans ([[DupSpans.topDuplicatedSpans]]):
    * top-10 3-grams by distinct-document frequency — the boilerplate
    * detector. Total-ordered tie-break (n_docs desc, gram asc) keeps the
    * limit boundary deterministic on both engines.
    */
  def txtTopSpans(spark: SparkSession, dir: String): DataFrame =
    DupSpans.topDuplicatedSpans(Tables.documents(spark, dir),
      "doc_id", "text", n = 3, k = 10, minDocs = 2)

  private val txtTopSpansSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3
      |)
      |SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram
      |HAVING COUNT(*) >= 2
      |ORDER BY n_docs DESC, gram LIMIT 10""".stripMargin

  /** Corpus TF-IDF keyword extraction ([[graft.text.TfIdf]]): smoothed IDF
    * over the WHOLE corpus, per-doc top-3 salient terms for the doc_id<50
    * slice. Scores are bit-replayable (same IEEE double ops on both
    * engines), so the oracle checks term, score, and rank row-by-row.
    */
  def txtTfidf(spark: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("term"),
        round(col("score"), 6).as("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))

  private val txtTfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
      |), pairs AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), dfs AS (
      |  SELECT term, COUNT(*) AS df FROM pairs GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n FROM documents
      |), scored AS (
      |  SELECT p.doc_id, p.term,
      |    p.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df + 1)) + 1) AS score
      |  FROM pairs p JOIN dfs USING (term) CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, term, round(score, 6) AS score,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term ASC) AS INT) AS rank
      |  FROM scored
      |)
      |SELECT doc_id, term, score, rank FROM ranked
      |WHERE rank <= 3 AND doc_id < 50
      |ORDER BY doc_id, rank""".stripMargin

  /** Compression-ratio quality signal ([[TextAnalysis.compressionRatio]]):
    * the ratio itself is zlib-algorithmic (no SQL oracle can recompute
    * it), so the gate pins the PROPERTIES that make it a usable quality
    * signal, each as a boolean the oracle expects TRUE: looped
    * boilerplate compresses an order of magnitude below varied text,
    * self-concatenation strictly improves every document's ratio, and the
    * whole corpus stays in the sane (0, 1.1] band.
    */
  def txtCompression(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val corpus = docs.select(
      TextAnalysis.compressionRatio(col("text")).as("r"),
      TextAnalysis.compressionRatio(concat(col("text"), lit(" "), col("text")))
        .as("r2"))
      .agg(min(col("r")).as("mn"), max(col("r")).as("mx"),
        max(col("r2") - col("r")).as("worst_gain"))
    // Deterministic probes: pure repetition vs varied (hash-hex) text.
    val repetitive = "spam ham " * 500
    val varied = (0 until 500)
      .map(i => java.lang.Long.toHexString(i * 2654435761L + 11)).mkString(" ")
    val probes = Seq((repetitive, varied)).toDF("rep", "var")
      .select(TextAnalysis.compressionRatio(col("rep")).as("pr"),
        TextAnalysis.compressionRatio(col("var")).as("pv"))
    corpus.crossJoin(probes).select(expr(
      """stack(4,
        |  'corpus_in_range', mn > 0.0 AND mx <= 1.1,
        |  'repetitive_low', pr < 0.05,
        |  'selfconcat_compresses', worst_gain < 0.0,
        |  'varied_higher', pv > pr * 4
        |) AS (item, ok)""".stripMargin))
      .orderBy(col("item"))
  }

  private val txtCompressionSql =
    """SELECT * FROM (VALUES
      |  ('corpus_in_range', TRUE),
      |  ('repetitive_low', TRUE),
      |  ('selfconcat_compresses', TRUE),
      |  ('varied_higher', TRUE)
      |) AS t(item, ok) ORDER BY item""".stripMargin

  /** Rolling-hash fingerprint (custom codegen'd expression). Formerly a
    * rows-only value dump; now fully oracle-checked (r10 verdict item 3)
    * on the function's checkable CONTRACT over the planted corpus:
    * fingerprints must refine text-equality classes (`class_consistent` —
    * every class of byte-identical docs, including the 25 planted copy
    * classes, shares ONE fingerprint), must vary across the corpus
    * (`fp_varies` — a constant kernel would pass the first check
    * vacuously), and the class structure itself (`n_docs`,
    * `n_text_classes`, `n_multi_doc_classes`) is replayed exactly by the
    * oracle. The raw 64-bit values stay sketch-dependent and are pinned
    * per-row by txt_fingerprint_planted plus specs.
    */
  def txtFingerprint(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = plantedDocs(Tables.documents(spark, dir))
    // Text-equality classes keyed by a scan-local 128-bit content hash,
    // not the raw text — the exchange carries 32 bytes per row, never
    // documents (the Dedup discipline; md5 equality stands in for byte
    // equality here exactly as it does in Dedup.exact).
    val fps = ScopedStorage.persist(docs
      .select(col("doc_id"), md5(col("text")).as("__ch"),
        TextAnalysis.fingerprint(col("text")).as("fp")))
    val classes = fps.groupBy(col("__ch"))
      .agg(countDistinct(col("fp")).as("__nfp"), count(lit(1)).as("__n"))
    classes.agg(
      count(lit(1)).as("n_text_classes"),
      sum(col("__n")).cast("long").as("n_docs"),
      count(when(col("__n") > 1, 1)).as("n_multi_doc_classes"),
      (max(col("__nfp")) === 1L).as("class_consistent"))
      .crossJoin(fps.agg((countDistinct(col("fp")) > 1).as("fp_varies")))
  }

  private val txtFingerprintSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' zq zq' FROM documents
      |  WHERE doc_id >= 25 AND doc_id < 50
      |), classes AS (
      |  SELECT text, COUNT(*) AS n FROM corpus GROUP BY text
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_text_classes,
      |  CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(COUNT(CASE WHEN n > 1 THEN 1 END) AS BIGINT)
      |    AS n_multi_doc_classes,
      |  TRUE AS class_consistent, TRUE AS fp_varies
      |FROM classes""".stripMargin

  /** The deterministic slice of the fingerprint (the dd_simhash_planted
    * recipe): identical text MUST fingerprint identically (planted exact
    * copies, ids +1,000,000 — row-by-row), and the fingerprint must VARY
    * across the corpus (fp_varies — a constant kernel would satisfy the
    * copy half vacuously). NOT asserted: injectivity or sensitivity to
    * small appends — the fingerprint is a rolling MIN-hash (one-permutation
    * minhash), so two distinct docs sharing their globally-minimal window
    * legitimately collide, and suffix edits usually leave the min intact;
    * the raw 64-bit values are sketch-dependent and pinned ONLY by
    * ScalaTest specs — txt_fingerprint gates class statistics, not value
    * dumps, so a kernel change that preserves equality classes passes the
    * driver gates and is caught by the specs alone.
    */
  def txtFingerprintPlanted(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val base = Tables.documents(spark, dir)
    val fps = plantedDocs(base)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val copies = fps.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("fp").as("fp_copy"))
    fps.join(copies, Seq("doc_id"))
      .select(col("doc_id"), (col("fp") === col("fp_copy")).as("fp_same"))
      .crossJoin(base
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg((countDistinct(col("fp")) > 1).as("fp_varies")))
      .orderBy(col("doc_id"))
  }

  private val txtFingerprintPlantedSql =
    """SELECT doc_id, TRUE AS fp_same, TRUE AS fp_varies
      |FROM documents WHERE doc_id < 25
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- dedup
  def ddExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = Dedup.exact(docs, Seq("text"), Seq(col("doc_id")))
    docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
  }

  private val ddExactSql =
    "SELECT COUNT(*) AS n_total, COUNT(DISTINCT text) AS n_kept FROM documents"

  /** Planted-docs corpus as DuckDB SQL — the oracle-side twin of
    * [[plantedDocs]], over a `base` CTE supplied by the caller. */
  private val plantedDocsSql =
    """SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' zq zq' AS text
      |  FROM base WHERE doc_id >= 25 AND doc_id < 50""".stripMargin

  /** Brute-force exact word-3-gram Jaccard pairs ≥ threshold, as DuckDB SQL
    * (mirrors [[Dedup.shingles]] and [[Dedup.verifyJaccard]] exactly — the
    * one verify both the within-corpus and the cross-corpus operators use).
    * `sample` restricts the base corpus to doc_id < RecallSampleDocs (the
    * recall query's sf-stable sample). */
  private def bruteJaccardSql(threshold: Double, sample: Boolean = false): String =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents${if (sample) s" WHERE doc_id < $RecallSampleDocs" else ""}
       |), docs AS (
       |  $plantedDocsSql
       |), toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM docs
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS sh
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i
       |        FROM toks)
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |  CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = id_a
       |JOIN sizes nb ON nb.doc_id = id_b
       |WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= $threshold""".stripMargin

  /** Bounded corpus prefix (1000 docs ⊇ all 50 planted ids; the full
    * corpus still runs through the same pipeline in the composed gates —
    * pipe_neardup_clusters, pipe_clean_corpus). Formerly a rows-only
    * sketch dump; now fully oracle-checked (r10 verdict item 3) on the
    * parts DuckDB CAN derive from the SAME full-pipeline output:
    * per-planted-pair rows (each copy must pair its original at jaccard
    * exactly 1.0 — the exact-collapse pre-route), `n_exact_pairs` = the
    * count of retrieved pairs at jaccard 1.0, which the oracle replays
    * as the brute-force count of identical-shingle-SET pairs (identical
    * sets ⇒ identical signatures ⇒ all-band collision ⇒ retrieval is
    * structural, not probabilistic, PROVIDED no duplicate class nears
    * the operator's group/bucket caps — an in-gate require guards that
    * precondition loudly), and `sound` = every retrieved pair
    * is at or above the verify threshold. The statistical recall story
    * stays in dd_minhash_recall; per-row planted identity stays in
    * dd_minhash_planted.
    */
  def ddMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(Tables.documents(spark, dir)
      .filter(col("doc_id") < 1000))
    val pairs = ScopedStorage.persist(
      Dedup.minhashNearDupPairs(docs, "doc_id", "text"))
    val planted = pairs
      .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 25)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val summary = pairs.agg(
      count(when(col("jaccard") === 1.0, 1)).as("n_exact_pairs"),
      (min(col("jaccard")) >= 0.7).as("sound")) // MinHashConfig threshold
    // The n_exact_pairs oracle replays an UNCAPPED n·(n−1)/2 over
    // identical-shingle-SET classes; the operator's dup-group and bucket
    // caps (maxBucketSize = 10000) would silently drop pairs past them.
    // Guard the precondition on the SAME equivalence the oracle counts:
    // shingle-set classes MERGE texts that differ only in whitespace/token
    // runs, so an md5(text) guard (the r11 shape) could stay quiet while
    // a shingle-set class silently crossed the caps — exactly the opaque
    // hash mismatch the guard exists to prevent. `Dedup.shingles` is the
    // operator's own shingle function, so identical guard-class ⇔
    // identical signature ⇔ structural retrieval.
    val shingleClass = md5(concat_ws("\u0001",
      array_sort(graft.dedup.Dedup.shingles(col("text"),
        // derive from the config the operator under test runs with:
        // a literal here would silently decouple the guard's
        // equivalence from the signature equivalence if tuned
        graft.dedup.Dedup.MinHashConfig().shingleSize))))
    val maxClassRow = docs.groupBy(shingleClass).count()
      .agg(max(col("count"))).head()
    val maxClass = if (maxClassRow.isNullAt(0)) 0L else maxClassRow.getLong(0)
    require(maxClass < 1000,
      s"identical-shingle-set class of $maxClass docs nears the dedup caps" +
        " — the uncapped-pair oracle no longer replays this corpus")
    planted.crossJoin(summary).orderBy(col("id_a"))
  }

  private val ddMinhashSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' zq zq' FROM documents
      |  WHERE doc_id >= 25 AND doc_id < 50
      |), toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS sh
      |  FROM (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i
      |        FROM toks)
      |), sets AS (
      |  SELECT doc_id, array_agg(sh ORDER BY sh) AS sig FROM sh GROUP BY doc_id
      |), classes AS (
      |  SELECT sig, COUNT(*) AS n FROM sets GROUP BY sig
      |), summary AS (
      |  SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT)
      |    AS n_exact_pairs, TRUE AS sound
      |  FROM classes
      |)
      |SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
      |  CAST(1.0 AS DOUBLE) AS jaccard, n_exact_pairs, sound
      |FROM documents CROSS JOIN summary
      |WHERE doc_id < 25 ORDER BY id_a""".stripMargin

  /** The recall harness's sample bound. 300 docs keeps the QUADRATIC
    * ground-truth machinery (not the operator under test) well inside the
    * bench's measured ±15% run-to-run noise floor — at 500 docs the gate
    * sat near 1.5× its round-2 recording purely from the harness cost plus
    * the (reviewed, scale-motivated) exact-dup collapse overhead, and
    * flapped the regression guard. The statistical contract is unchanged:
    * the sketch is deterministic and the ≥90% threshold is judged over
    * dozens of true pairs (measured recall remains 1.00).
    */
  private val RecallSampleDocs = 300L

  /** MinHash-LSH recall against brute-force ground truth (Jaccard ≥ 0.7):
    * the LSH output is sketch-dependent, but its RECALL against the exact
    * pair set is checkable — the oracle computes the true pair count and
    * expects ≥ 90% of them retrieved (the 16-band × 4-row curve puts
    * expected recall at J=0.7 around 99%). Ground truth is quadratic, so
    * the check runs over a bounded sample (sf-stable) — a recall estimate
    * needs a representative corpus, not the whole table.
    */
  def ddMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(
      Tables.documents(spark, dir).filter(col("doc_id") < RecallSampleDocs))
    // Per-pair surface (r17): every ground-truth pair rides the hashed
    // output — the oracle re-derives the exact Jaccard pair SET, not
    // just its count — through the same [[recallSurface]] protocol as
    // the ANN gates (which checkpoints the multiply-consumed quadratic
    // truth side once; the LSH `found` side is consumed once and stays
    // lazy).
    val truth = Dedup.allPairsJaccard(docs, "doc_id", "text", shingleSize = 3)
      .filter(col("jaccard") >= 0.7)
      .select("id_a", "id_b")
    val found = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
    recallSurface(truth, found, Seq("id_a", "id_b"))
  }

  private def ddMinhashRecallSql =
    s"""SELECT id_a, id_b, TRUE AS recall_ok
       |FROM (${bruteJaccardSql(0.7, sample = true)})
       |ORDER BY 1, 2""".stripMargin

  /** Formerly a rows-only sketch dump; now fully oracle-checked (r10
    * verdict item 3) on the parts DuckDB CAN derive from the same
    * full-pipeline output: the planted copy pairs at hamming 0,
    * `n_identical_found` = the count of retrieved pairs whose TEXTS are
    * byte-equal (the exact-collapse pre-route makes finding every
    * byte-identical pair structural — immune to bucket caps — so the
    * oracle replays it as the corpus's identical-text pair count), and
    * `all_within` = no retrieved pair exceeds the hamming bound. The full
    * sketch-dependent pair set stays covered by dd_simhash_planted and
    * the ScalaTest distance-bound spec.
    */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = plantedDocs(Tables.documents(spark, dir))
    val pairs = ScopedStorage.persist(
      Dedup.simhashNearDupPairs(docs, "doc_id", "text"))
    val planted = pairs
      .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 25)
      .select(col("id_a"), col("id_b"), col("hamming"))
    // Byte-equality via scan-local 128-bit content hashes — the joins
    // exchange (id, 32-byte hash), never document text. Persisted: THREE
    // consumers (both join sides + the class guard) would otherwise each
    // re-scan the documents and re-hash every text — at 100 TB that is
    // two avoidable full-corpus scans for a 48 B/row frame.
    val texts = ScopedStorage.persist(docs.select(col("doc_id"),
      md5(col("text")).as("__ch")))
    val identFound = pairs
      .join(texts.select(col("doc_id").as("id_a"), col("__ch").as("__ca")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("__ch").as("__cb")), "id_b")
      .filter(col("__ca") === col("__cb"))
    val summary = identFound.agg(
      count(lit(1)).as("n_identical_found"),
      coalesce(max(col("hamming")) === 0, lit(true)).as("identical_h0"))
      .crossJoin(pairs.agg((max(col("hamming")) <= 3).as("all_within")))
    // Same cap-precondition guard as dd_minhash: the identical-pair
    // oracle assumes uncapped fan-out of duplicate groups.
    val maxClassRow = texts.groupBy(col("__ch")).count()
      .agg(max(col("count"))).head()
    val maxClass = if (maxClassRow.isNullAt(0)) 0L else maxClassRow.getLong(0)
    require(maxClass < 1000,
      s"identical-text class of $maxClass docs nears the dedup caps — " +
        "the uncapped-pair oracle no longer replays this corpus")
    planted.crossJoin(summary).orderBy(col("id_a"))
  }

  private val ddSimhashSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' zq zq' FROM documents
      |  WHERE doc_id >= 25 AND doc_id < 50
      |), classes AS (
      |  SELECT text, COUNT(*) AS n FROM corpus GROUP BY text
      |), summary AS (
      |  SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT)
      |    AS n_identical_found, TRUE AS identical_h0, TRUE AS all_within
      |  FROM classes
      |)
      |SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
      |  CAST(0 AS INTEGER) AS hamming, n_identical_found, identical_h0,
      |  all_within
      |FROM documents CROSS JOIN summary
      |WHERE doc_id < 25 ORDER BY id_a""".stripMargin

  /** The deterministic slice of the simhash output (the same pattern as
    * sim_knn_lsh's rank-1 contract): an exact copy shares every signature
    * bit with its original, so each planted copy pair (doc, doc+1,000,000)
    * MUST appear at hamming 0 — a missing or nonzero row hash-mismatches.
    * The full pair set stays sketch-dependent (dd_simhash, rows-only); this
    * gate pins the part an oracle CAN derive.
    */
  def ddSimhashPlanted(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = plantedDocs(Tables.documents(spark, dir))
    // id_a < 25 pins the slice to the PLANTED copy range: at a larger scale
    // factor a natural pair could sit exactly 1,000,000 ids apart (or real
    // ids could reach the planted range) and add rows the fixed oracle
    // cannot predict.
    Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 25)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"))
  }

  private val ddSimhashPlantedSql =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
      |FROM documents WHERE doc_id < 25 ORDER BY id_a""".stripMargin

  /** The deterministic slice of the minhash output (the dd_simhash_planted
    * recipe): an exact copy collapses with its original in the exact-dup
    * pre-route, so each planted pair (doc, doc+1,000,000) MUST appear at
    * jaccard exactly 1.0 — complementing the statistical recall gate with a
    * row-by-row oracle over the part DuckDB CAN derive. Runs over a
    * bounded corpus prefix (all 25 planted originals plus surrounding
    * docs): the planted-pair contract is corpus-size independent (the pair
    * comes from the exact collapse, and no natural doc can satisfy
    * id_b = id_a + 1,000,000 with id_a < 25), so gate budget is not spent
    * re-running the full pipeline a third time — dd_minhash and the
    * composed gates already cover the full corpus.
    */
  def ddMinhashPlanted(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(
      Tables.documents(spark, dir).filter(col("doc_id") < 100))
    Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .filter(col("id_b") === col("id_a") + 1000000L && col("id_a") < 25)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"))
  }

  private val ddMinhashPlantedSql =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
      |  CAST(1.0 AS DOUBLE) AS jaccard
      |FROM documents WHERE doc_id < 25 ORDER BY id_a""".stripMargin

  /** Cross-corpus NEAR-dup ([[Dedup.minhashNearDupPairsAgainst]]): the
    * corpus is scrubbed against a reference built from its own head —
    * docs 0-24 verbatim (byte-identical: the hash pre-route must find
    * them at jaccard exactly 1.0) and docs 25-49 with ' zq zq' appended
    * (near-identical: LSH + exact verify must find them at the Jaccard
    * the oracle recomputes brute-force) — plus whatever natural cross
    * matches exist, which the oracle's full cross-product Jaccard also
    * derives. Recall on this corpus is exactly 100% (the same
    * deterministic sketch contract dd_minhash_recall pins), so found ≡
    * true and the brute-force SQL is a complete row-by-row oracle.
    */
  def ddCrossNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val reference = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 7000000L).as("ref_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
        .select((col("doc_id") + 8000000L).as("ref_id"),
          concat(col("text"), lit(" zq zq")).as("text")))
    Dedup.minhashNearDupPairsAgainst(docs, "doc_id", "text",
      reference, "ref_id", "text")
      .select(col("id"), col("ref_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id"), col("ref_id"))
  }

  private val ddCrossNeardupSql =
    """WITH refs AS (
      |  SELECT doc_id + 7000000 AS ref_id, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 8000000 AS ref_id, text || ' zq zq' AS text
      |  FROM documents WHERE doc_id >= 25 AND doc_id < 50
      |), ref_reps AS (
      |  SELECT ref_id, text FROM refs
      |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY ref_id) = 1
      |), csh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
      |          unnest(range(1,
      |            greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1) + 1)) AS i
      |        FROM documents)
      |), rsh AS (
      |  SELECT DISTINCT ref_id, array_to_string(t[i : i + 2], ' ') AS sh
      |  FROM (SELECT ref_id, string_split_regex(trim(text), '\s+') AS t,
      |          unnest(range(1,
      |            greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1) + 1)) AS i
      |        FROM ref_reps)
      |), csizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id
      |), rsizes AS (
      |  SELECT ref_id, COUNT(*) AS n FROM rsh GROUP BY ref_id
      |), inter AS (
      |  SELECT c.doc_id, r.ref_id, COUNT(*) AS n_inter
      |  FROM csh c JOIN rsh r ON c.sh = r.sh
      |  GROUP BY 1, 2
      |)
      |SELECT inter.doc_id AS id, inter.ref_id,
      |  round(CAST(n_inter AS DOUBLE) / (cs.n + rs.n - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN csizes cs ON cs.doc_id = inter.doc_id
      |JOIN rsizes rs ON rs.ref_id = inter.ref_id
      |WHERE CAST(n_inter AS DOUBLE) / (cs.n + rs.n - n_inter) >= 0.7
      |ORDER BY id, inter.ref_id""".stripMargin

  /** Cross-corpus SimHash ([[Dedup.simhashNearDupPairsAgainst]]),
    * deterministic planted slice (the dd_simhash_planted recipe): each
    * corpus doc < 25 is byte-identical to its planted reference twin
    * (ids +7,000,000) and MUST surface at hamming exactly 0 through the
    * cap-immune hash pre-route; the full sketch-dependent pair set stays
    * spec-covered.
    */
  def ddCrossSimhashPlanted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val reference = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 7000000L).as("ref_id"), col("text"))
    Dedup.simhashNearDupPairsAgainst(docs, "doc_id", "text",
      reference, "ref_id", "text")
      .filter(col("id") < 25 && col("ref_id") === col("id") + 7000000L)
      .orderBy(col("id"))
  }

  private val ddCrossSimhashPlantedSql =
    """SELECT doc_id AS id, doc_id + 7000000 AS ref_id,
      |  CAST(0 AS INT) AS hamming
      |FROM documents WHERE doc_id < 25 ORDER BY id""".stripMargin

  /** Prefix filtering is lossless, so this one is EXACT: the DuckDB
    * brute-force pair set is a full oracle, not just a recall floor. */
  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(Tables.documents(spark, dir))
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val ddNgramJaccardSql =
    s"${bruteJaccardSql(0.8)}\nORDER BY id_a, id_b"

  /** Cosine is rounded to 6 dp on both sides: the engines accumulate the
    * same float values in double in the same order, so agreement far beyond
    * 6 dp is expected — rounding just absorbs the last-ulp difference. */
  def ddEmbedding(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
    val planted = vecs.unionByName(
      vecs.filter(col("vec_id") < 25).withColumn("vec_id", col("vec_id") + 1000000L))
    Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding", threshold = 0.98)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val ddEmbeddingSql =
    """WITH planted AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < 25
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM planted a JOIN planted b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.98
      |ORDER BY id_a, id_b""".stripMargin

  /** Semantic dedup ([[Dedup.semanticDedup]], the SemDeDup shape): k-means
    * clusters bucket the corpus, exact cosine ≥ 0.98 within each cluster
    * drops the larger id of every near-dup pair. Identical-copy planted
    * protocol (sim_knn_ivfpq precedent): copies of vec_id < 25 are planted
    * at +1,000,000; the quantizer routes an identical copy to its
    * original's list (same kernel, same tie-break), the pair's cosine is
    * 1.0, and the copy (larger id) is dropped — while the max NATURAL
    * cosine in this corpus is ≈0.60 (measured at every SF), far below the
    * 0.98 bar, so the kept set is exactly the originals and the oracle
    * derives it without running k-means.
    */
  def ddSemantic(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val planted = vecs.unionByName(
      vecs.filter(col("vec_id") < 25)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    Dedup.semanticDedup(planted, "vec_id", "embedding",
      threshold = 0.98, nlist = 16)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  private val ddSemanticSql =
    "SELECT vec_id FROM embeddings WHERE vec_id < 500 ORDER BY vec_id"

  /** Embedding mean-pooling ([[GraftFunctions.vecMean]]): group the
    * embeddings table into 10 synthetic "documents" (vec_id % 10 — stand-in
    * for token→doc pooling) and mean-pool each group with the dim-sized
    * aggregate. The oracle replays the element-wise mean by unnesting with
    * positions; 6-dp rounding absorbs the last-ulp difference between the
    * two engines' partial-sum orders (cosine-gate precedent). The pooled
    * vector is posexploded into one (grp, n, i, m) row per element so the
    * gate emits only scalar columns — the driver's comparator sorts rows
    * through pandas, which cannot order array cells (r07 lesson).
    */
  def simMeanPool(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .groupBy(pmod(col("vec_id"), lit(10)).as("grp"))
      .agg(count(lit(1)).as("n"),
        GraftFunctions.vecMean(col("embedding")).as("__m"))
      .select(col("grp"), col("n"),
        posexplode(transform(col("__m"), x => round(x, 6))).as(Seq("i", "m")))
      .orderBy(col("grp"), col("i"))
  }

  private val simMeanPoolSql =
    """WITH pos AS (
      |  SELECT vec_id % 10 AS grp, vec_id,
      |    unnest(range(1, len(embedding) + 1)) AS i, embedding
      |  FROM embeddings
      |), elems AS (
      |  SELECT grp, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
      |  FROM pos GROUP BY grp, i
      |), cnt AS (
      |  SELECT vec_id % 10 AS grp, COUNT(*) AS n FROM embeddings GROUP BY 1
      |)
      |SELECT elems.grp, cnt.n, CAST(elems.i - 1 AS INT) AS i,
      |  round(elems.m, 6) AS m
      |FROM elems JOIN cnt ON cnt.grp = elems.grp
      |ORDER BY elems.grp, elems.i""".stripMargin

  /** The embedding stack composed end-to-end (the similarity-side analog
    * of `pipe_neardup_clusters`): token-level vectors pool into 50
    * "document" vectors ([[GraftFunctions.vecMean]]) and each of the first
    * 5 pooled vectors retrieves its nearest pooled neighbor by exact
    * cosine — pool → search, the retrieval shape of a dedup-by-centroid or
    * topic-assignment pipeline. The oracle replays the WHOLE composition
    * declaratively (element-wise means, cosine, rank-1 with the same tie
    * order); cosine rounds to 6 dp after ranking (dd_embedding precedent).
    */
  def pipePooledKnn(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val pooled = Tables.embeddings(spark, dir)
      .groupBy(pmod(col("vec_id"), lit(50)).as("grp"))
      .agg(GraftFunctions.vecMean(col("embedding")).as("__mv"))
      // the cosine kernel reads float vectors; pooled means are double
      .select(col("grp"),
        transform(col("__mv"), x => x.cast("float")).as("vec"))
    val queries = pooled.filter(col("grp") < 5)
    Knn.bruteForceTopK(queries, pooled, "grp", "vec", k = 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"))
  }

  private val pipePooledKnnSql =
    """WITH pos AS (
      |  SELECT vec_id % 50 AS grp,
      |    unnest(range(1, len(embedding) + 1)) AS i, embedding
      |  FROM embeddings
      |), pooled AS (
      |  SELECT grp, i, CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT) AS m
      |  FROM pos GROUP BY grp, i
      |), pairs AS (
      |  SELECT q.grp AS query_id, c.grp AS neighbor_id,
      |    SUM(q.m * c.m)
      |      / (sqrt(SUM(q.m * q.m)) * sqrt(SUM(c.m * c.m))) AS cosine
      |  FROM pooled q JOIN pooled c ON q.i = c.i AND q.grp <> c.grp
      |  WHERE q.grp < 5
      |  GROUP BY 1, 2
      |), best AS (
      |  SELECT query_id, neighbor_id, cosine
      |  FROM pairs
      |  QUALIFY row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) = 1
      |)
      |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
      |FROM best ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- knn
  /** Dataset card — the release-documentation rollup every published
    * corpus ships (datasheet/data-statement practice): volume, language
    * composition, duplication rate, and length distribution in ONE
    * (section, metric, value) frame. Each number is an exact count, a
    * selected element (discrete median via [[graft.operators.Quantiles]]),
    * or one division of exact integers — the whole card replays
    * bit-for-bit. Every sub-aggregate is map-side combined; the unioned
    * result is metadata-sized.
    */
  def pipeDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
      .withColumn("__tok", TextAnalysis.tokenCount(col("text")))
    val volume = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("__tok").cast("long")).as("n_tokens"))
      .selectExpr("stack(3, 'n_docs', CAST(n_docs AS DOUBLE), " +
        "'n_chars', CAST(n_chars AS DOUBLE), " +
        "'n_tokens', CAST(n_tokens AS DOUBLE)) AS (metric, value)")
      .withColumn("section", lit("volume"))
    val langs = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(lit("language").as("section"),
        concat(lit("docs:"), col("lang")).as("metric"),
        col("n").cast("double").as("value"))
    val dup = docs
      .agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text"))).as("nd"))
      .selectExpr(
        "stack(2, 'distinct_texts', CAST(nd AS DOUBLE), " +
          "'dup_rate', 1.0 - CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)) " +
          "AS (metric, value)")
      .withColumn("section", lit("duplication"))
    val lengths = graft.operators.Quantiles
      .groupQuantiles(docs.withColumn("__g", lit(1)), "__g", "n_chars",
        "doc_id", Seq(("p50", 1, 2)))
      .join(docs.agg(min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx")))
      .selectExpr("stack(3, 'chars_min', CAST(mn AS DOUBLE), " +
        "'chars_p50', CAST(p50 AS DOUBLE), " +
        "'chars_max', CAST(mx AS DOUBLE)) AS (metric, value)")
      .withColumn("section", lit("length"))
    volume.unionByName(langs).unionByName(dup).unionByName(lengths)
      .select(col("section"), col("metric"), col("value"))
      .orderBy(col("section"), col("metric"))
  }

  private val pipeDatasetCardSql =
    """WITH toks AS (
      |  SELECT doc_id, lang, n_chars, text,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
      |  FROM documents
      |), ranked AS (
      |  SELECT n_chars,
      |    row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM toks
      |)
      |SELECT section, metric, value FROM (
      |  SELECT 'volume' AS section, 'n_docs' AS metric,
      |    CAST(COUNT(*) AS DOUBLE) AS value FROM toks
      |  UNION ALL SELECT 'volume', 'n_chars',
      |    CAST(SUM(n_chars) AS DOUBLE) FROM toks
      |  UNION ALL SELECT 'volume', 'n_tokens',
      |    CAST(SUM(tok) AS DOUBLE) FROM toks
      |  UNION ALL SELECT 'language', 'docs:' || lang,
      |    CAST(COUNT(*) AS DOUBLE) FROM toks GROUP BY lang
      |  UNION ALL SELECT 'duplication', 'distinct_texts',
      |    CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) FROM toks
      |  UNION ALL SELECT 'duplication', 'dup_rate',
      |    1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE) FROM toks
      |  UNION ALL SELECT 'length', 'chars_min',
      |    CAST(MIN(n_chars) AS DOUBLE) FROM toks
      |  UNION ALL SELECT 'length', 'chars_p50',
      |    CAST(MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN n_chars END)
      |      AS DOUBLE) FROM ranked
      |  UNION ALL SELECT 'length', 'chars_max',
      |    CAST(MAX(n_chars) AS DOUBLE) FROM toks
      |) ORDER BY section, metric""".stripMargin

  /** Train/val leakage check — the eval-integrity screen every training
    * run owes its benchmark numbers: split the corpus content-addressed,
    * then count val documents whose TEXT also appears in train (planted
    * duplicate ids guarantee cross-split copies exist at every scale;
    * which side each copy lands on is itself deterministic in the md5
    * split). The probe joins on md5(text) computed scan-local, left_semi
    * — text never rides an exchange and val rows count once regardless
    * of how many train copies match. At 100 TB the same check runs with
    * the near-dup operators in place of exact-hash equality.
    */
  def pipeSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 9100000L))
    val split = Sampling.withSplit(corpus, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.2), salt = 17L)
    val train = split.filter(col("split") === "train")
    val va = split.filter(col("split") === "val")
    val leaked = va
      .select(col("doc_id"), md5(col("text")).as("__h"))
      .join(train.select(md5(col("text")).as("__h")).distinct(),
        Seq("__h"), "left_semi")
    va.agg(count(lit(1)).as("n_val")).crossJoin(
      train.agg(count(lit(1)).as("n_train"))).crossJoin(
      leaked.agg(count(lit(1)).as("n_leaked_val_docs")))
      .select(col("n_train"), col("n_val"), col("n_leaked_val_docs"))
  }

  private val pipeSplitLeakageSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 9100000, text FROM documents WHERE doc_id < 50
       |), sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ${bucketSql("doc_id", 17L)} < ${Sampling.threshold(0.8)}
       |         THEN 'train' ELSE 'val' END AS split
       |  FROM corpus
       |)
       |SELECT
       |  (SELECT COUNT(*) FROM sp WHERE split = 'train') AS n_train,
       |  (SELECT COUNT(*) FROM sp WHERE split = 'val') AS n_val,
       |  (SELECT COUNT(*) FROM (
       |     SELECT DISTINCT v.doc_id FROM sp v
       |     JOIN sp t ON t.split = 'train' AND md5(t.text) = md5(v.text)
       |     WHERE v.split = 'val'
       |  )) AS n_leaked_val_docs""".stripMargin

  /** Filtered/hybrid KNN ([[Knn.filteredTopK]]): per query, top-3 among
    * ONLY label-0 corpus vectors (pre-filter semantics — always 3 rows
    * per query). The oracle applies the same predicate before ranking.
    */
  def simKnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
    Knn.filteredTopK(vecs.filter(col("vec_id") < 5), vecs,
      "vec_id", "embedding", k = 3, corpusFilter = col("label") === 0)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simKnnFilteredSql =
    """WITH vecs AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |), scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.v, c.v) AS cos_raw
      |  FROM vecs q JOIN vecs c
      |    ON c.vec_id <> q.vec_id AND c.label = 0
      |  WHERE q.vec_id < 5
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cos_raw,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_raw DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
      |  CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Radius search ([[Knn.rangeSearch]]): planted query copies (+5M ids)
    * must pull their originals at cosine 1 plus every corpus vector in
    * the ≥ 0.3 band — a SET result (no rank cut), so the oracle replays
    * membership exactly; scores round to 6 dp (cosine-gate precedent).
    */
  def simRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    Knn.rangeSearch(probes, vecs, "vec_id", "embedding", minCosine = 0.3)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  private val simRangeSearchSql =
    """WITH vecs AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), probes AS (
      |  SELECT vec_id + 5000000 AS query_id, v FROM vecs WHERE vec_id < 5
      |)
      |SELECT q.query_id, c.vec_id AS neighbor_id,
      |  round(list_cosine_similarity(q.v, c.v), 6) AS cosine
      |FROM probes q JOIN vecs c ON c.vec_id <> q.query_id
      |WHERE list_cosine_similarity(q.v, c.v) >= 0.3
      |ORDER BY query_id, neighbor_id""".stripMargin

  def simKnnBrute(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
    Knn.bruteForceTopK(vecs.filter(col("vec_id") < 5), vecs, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simKnnBruteSql =
    """WITH vecs AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.v, c.v) AS cos_raw
      |  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cos_raw,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_raw DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** LSH ANN in its sweet spot — near-duplicate retrieval: the queries are
    * copies of corpus vectors (ids +5,000,000), and the LSH index must pull
    * the original back as the top hit without scanning the corpus. Ranks
    * 2+ depend on bucket contents (sketch-dependent), but rank 1 is a
    * deterministic contract — an identical vector shares every band, so
    * the original is always a candidate and wins at cosine 1 — which makes
    * the rank-1 slice fully oracle-checkable.
    */
  def simKnnLsh(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    Knn.lshTopK(probes, vecs, "vec_id", "embedding", 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"))
  }

  // The cosine is recomputed by DuckDB over the same vectors (identical
  // float arrays accumulated in double round to 1.0 at 6 dp on both
  // engines) rather than pinned as a literal.
  private val simKnnLshSql =
    """SELECT vec_id + 5000000 AS query_id, vec_id AS neighbor_id,
      |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |        CAST(embedding AS DOUBLE[])), 6) AS cosine,
      |  1 AS rank
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin

  /** IVF ANN in the same near-duplicate-retrieval harness as the LSH path:
    * probes are exact copies of corpus vectors (+5,000,000); the coarse
    * quantizer must route each probe to its original's inverted list, so
    * rank-1 retrieval of the original is the deterministic contract the
    * oracle checks (an identical vector always lands in the same list).
    */
  def simKnnIvf(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // Bounded corpus prefix: the contract (quantizer routes an identical
    // copy to its original's list; rank-1 self-retrieval) is corpus-size
    // independent, and the corpus-sized halves (normalize + assign) are
    // plain scan-local transforms other gates already cover at full scale
    // — so the gate doesn't pay a fresh full-corpus KMeans per bench run
    // (the r07 verdict's IVF-training-duplication item). The recall gate
    // (sim_knn_ivf_recall) keeps its own independent corpus + training.
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 5000)
    val probes = vecs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    Knn.ivfTopK(probes, vecs, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  // The oracle derives the expected rank-1 mapping itself (each probe must
  // retrieve its source vector), so a routing or ranking bug hash-mismatches
  // row-by-row — no aggregate TRUE-literal involved.
  private val simKnnIvfSql =
    """SELECT vec_id + 5000000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin

  /** The recall-gate probe set: deterministic 95/5 blends of neighboring
    * corpus vectors under fresh ids (+7,000,000) — close to their source
    * but NOT byte-identical. Shared with the scale harness (graft.Scale's
    * ANN legs) so every recall measurement runs the exact workload the
    * gate runs.
    */
  private[graft] def ivfRecallProbes(corpus: DataFrame): DataFrame = {
    val a = corpus.select(col("vec_id").as("pid"), col("embedding").as("va"))
    val b = corpus.select(col("vec_id").as("nid"), col("embedding").as("vb"))
    a.join(b, col("nid") === (col("pid") + 1) % 500)
      .select((col("pid") + 7000000L).as("vec_id"),
        transform(zip_with(col("va"), col("vb"),
          (x, y) => x.cast("double") * 0.95 + y.cast("double") * 0.05),
          v => v.cast("float")).as("embedding"))
  }

  /** The shared surface of every ANN recall gate (r17 — the thin-oracle
    * class the r16/r17 verdicts closed for quantiles, closed here for
    * retrieval): one row per probe carrying the BRUTE-FORCE ground truth
    * (query_id, neighbor_id) that DuckDB independently re-derives — the
    * 95/5 blend, the double-widened cosine, and the (score desc, id asc)
    * argmax replayed in SQL — plus the gate's recall verdict repeated
    * per row (a global recall below the bar flips EVERY row's boolean,
    * so the aggregate contract still hashes; the sketch's own picks stay
    * engine-side, as they must). A drifted brute-force baseline — the
    * reference the recall is measured AGAINST — now hash-mismatches
    * row-by-row instead of silently redefining truth.
    */
  private def recallSurface(truth: DataFrame, found: DataFrame,
      keyCols: Seq[String] = Seq("query_id", "neighbor_id")): DataFrame = {
    // `truth` is consumed THREE times (the intersect probe, the count
    // aggregate, and the emitted rows) and is the expensive side of every
    // recall gate (a quadratic scoring pipeline) — materialize it once;
    // `found` is consumed once and stays lazy. The ≥90% bar is the
    // hit-based inequality hit·10 ≥ 9·n — for a distinct truth set,
    // algebraically the same bar as the historical missed·10 ≤ n
    // (hit = n − missed), now stated once for all six gates.
    val t = truth.scopedCheckpoint()
    val hit = t.intersect(found)
    val verdict = t.agg(count(lit(1)).as("__n_q"))
      .crossJoin(hit.agg(count(lit(1)).as("__n_hit")))
      .select((col("__n_hit") * 10 >= col("__n_q") * 9).as("recall_ok"))
    t.crossJoin(broadcast(verdict))
      .select(keyCols.map(col) :+ col("recall_ok"): _*)
      .orderBy(keyCols.map(col): _*)
  }

  /** DuckDB replay of the recall gates' ground truth: rebuild the
    * [[ivfRecallProbes]] blends (double arithmetic, cast back to FLOAT —
    * the same rounding Spark's transform/zip_with pipeline applies),
    * score them against the corpus with list_cosine_similarity, and take
    * the (cosine desc, vec_id asc) argmax — [[graft.similarity.Knn]]'s
    * topK tie-break. The argmax margins are structural (a 95% blend
    * scores ≈0.999 against its source vs ≈0.3 isotropic noise), so
    * float-vs-double engine differences cannot flip a winner. A `def`:
    * object-val initialization order made shared-val SQL fragments read
    * as null (the bm25RankedCtes lesson).
    */
  private def recallTruthSql: String =
    """WITH c AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
      |), probes AS (
      |  SELECT a.vec_id + 7000000 AS query_id,
      |    list_transform(list_zip(a.embedding, b.embedding),
      |      s -> CAST(CAST(s[1] AS DOUBLE) * 0.95 +
      |                CAST(s[2] AS DOUBLE) * 0.05 AS FLOAT)) AS q
      |  FROM c a JOIN c b ON b.vec_id = (a.vec_id + 1) % 500
      |), scored AS (
      |  SELECT p.query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY list_cosine_similarity(p.q, c.embedding) DESC,
      |               c.vec_id ASC) AS rn
      |  FROM probes p CROSS JOIN c
      |)
      |SELECT query_id, neighbor_id, TRUE AS recall_ok
      |FROM scored WHERE rn = 1 ORDER BY query_id""".stripMargin

  /** IVF recall against brute-force ground truth (the FAISS recall@1
    * protocol, mirroring dd_minhash_recall): probes are the
    * [[ivfRecallProbes]] blends — close to their source but NOT
    * byte-identical, so the coarse quantizer must route a genuinely
    * novel point. At nprobe=4 of nlist=16 the gate demands ≥90% of probes
    * retrieve their true nearest neighbor. recall@1 (not @k) because the
    * synthetic corpus is isotropic — ranks 2+ sit in the noise floor
    * (cosine ≈ 0.3) and spread uniformly across lists, so recall@k>1
    * would measure the corpus, not the index. Bounded 500-vector sample,
    * sf-stable. Surface: [[recallSurface]] — per-probe replayed truth.
    */
  def simKnnIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val corpus = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val probes = ivfRecallProbes(corpus)
    val truth = Knn.bruteForceTopK(probes, corpus, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val found = Knn.ivfTopK(probes, corpus, "vec_id", "embedding", k = 1,
      nlist = 16, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"))
    recallSurface(truth, found)
  }

  private def simKnnIvfRecallSql = recallTruthSql

  /** IVF-PQ in the near-duplicate-retrieval harness: probes are exact
    * copies of corpus vectors (+6,000,000). The coarse quantizer routes an
    * identical copy to its original's list (same kernel and tie-break as
    * assignment); the original's ADC score is its own reconstruction
    * similarity (≈0.9 on this corpus), far above the ≈0.3 isotropic noise
    * floor, so it always survives the top-`refine` cut; the exact-cosine
    * refine then ranks it first at cosine 1.0. Rank-1 retrieval of the
    * original is therefore a deterministic contract the oracle derives
    * itself — same as `sim_knn_ivf`, but through the compressed
    * (id, list_id, 8 bytes) index + refine path rather than raw vectors.
    */
  def simKnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 5000)
    val probes = vecs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 6000000L)
    Knn.ivfPqTopK(probes, vecs, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  private val simKnnIvfPqSql =
    """SELECT vec_id + 6000000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin

  /** IVF-PQ recall against brute-force ground truth — the same FAISS
    * recall@1 protocol and probe set as `sim_knn_ivf_recall` (95/5 blends,
    * genuinely novel points), but retrieval runs through the compressed
    * codes: coarse routing + ADC candidate ranking + top-32 exact refine
    * must together keep ≥90% of true nearest neighbors at rank 1. This is
    * the gate that would catch a lossy-compression regression (bad
    * codebooks, mis-sliced subspaces, table/code disagreement) that the
    * identical-copy gate can't see.
    */
  def simKnnIvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val corpus = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val probes = ivfRecallProbes(corpus)
    val truth = Knn.bruteForceTopK(probes, corpus, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val found = Knn.ivfPqTopK(probes, corpus, "vec_id", "embedding", k = 1,
      nlist = 16, m = 8, nprobe = 4, refine = 32)
      .select(col("query_id"), col("neighbor_id"))
    recallSurface(truth, found)
  }

  private def simKnnIvfPqRecallSql = recallTruthSql

  /** SQ8 retrieval, identical-copy protocol (`sim_knn_ivfpq` precedent):
    * planted exact copies must come back at rank 1 through the quantized
    * scan + exact refine. An sq8 code collision cannot break this — the
    * copy shares its original's code, ties into the refine set, and the
    * exact-cosine re-rank puts it first.
    */
  def simKnnSq(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 5000)
    val probes = vecs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 6000000L)
    Knn.sq8TopK(probes, vecs, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  private val simKnnSqSql =
    """SELECT vec_id + 6000000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin

  /** SQ8 recall against brute-force ground truth — the FAISS recall@1
    * protocol of `sim_knn_ivf_recall` (95/5 blends, genuinely novel
    * points) through the int8 path: quantized candidate ranking + top-32
    * exact refine must keep ≥90% of true nearest neighbors at rank 1.
    * This is the gate that would catch a quantization regression (bad
    * scaling, rounding drift, truncated codes) the identical-copy gate
    * can't see.
    */
  def simKnnSqRecall(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val corpus = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val probes = ivfRecallProbes(corpus)
    val truth = Knn.bruteForceTopK(probes, corpus, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val found = Knn.sq8TopK(probes, corpus, "vec_id", "embedding", k = 1,
      refine = 32)
      .select(col("query_id"), col("neighbor_id"))
    recallSurface(truth, found)
  }

  private def simKnnSqRecallSql = recallTruthSql

  /** Binary-quantization code packing pinned bit-for-bit: the oracle
    * rebuilds every 32-bit word of the first five vectors' sign-bit
    * codes from the raw floats (sum of distinct powers — the reason the
    * operator packs 32 bits per word, [[graft.similarity.Knn
    * .withBinaryCodes]]) and must match the engine's words exactly.
    */
  def simBqCodes(spark: SparkSession, dir: String): DataFrame =
    Knn.withBinaryCodes(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")), "embedding")
      .select(col("vec_id"), posexplode(col("bq_codes")).as(Seq("word_idx", "word")))
      .orderBy(col("vec_id"), col("word_idx"))

  private val simBqCodesSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE vec_id < 5
      |), words AS (
      |  SELECT vec_id, w.wi AS word_idx,
      |    CAST(list_sum(list_transform(range(0, 32), b ->
      |      CASE WHEN w.wi * 32 + b < len(v)
      |             AND v[w.wi * 32 + b + 1] > 0
      |        THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS word
      |  FROM v, (SELECT unnest(range(0, 2)) AS wi) w
      |)
      |SELECT vec_id, CAST(word_idx AS INT) AS word_idx, word
      |FROM words ORDER BY vec_id, word_idx""".stripMargin

  /** Matryoshka/truncated retrieval on planted copies ([[Knn
    * .truncatedTopK]], first 16 of 64 dims): an identical vector's
    * truncation is identical, survives any refine cut at truncated
    * cosine 1, and wins the full-dim re-rank — the `sim_knn_sq` rank-1
    * identity protocol through the prefix-dimension path.
    */
  def simKnnTrunc(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 5000)
    val probes = vecs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 8000000L)
    Knn.truncatedTopK(probes, vecs, "vec_id", "embedding", d = 16, k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  private val simKnnTruncSql =
    """SELECT vec_id + 8000000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin

  /** Truncated-retrieval recall vs brute force (the recall protocol of
    * the other first stages): 16-of-64-dim first pass + exact full-dim
    * refine of the top 128 must keep ≥90% of true nearest neighbors at
    * rank 1 — like `sim_knn_binary_recall`, a crude first stage buys
    * its recall back with a wider refine.
    */
  def simKnnTruncRecall(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val corpus = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val probes = ivfRecallProbes(corpus)
    val truth = Knn.bruteForceTopK(probes, corpus, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val found = Knn.truncatedTopK(probes, corpus, "vec_id", "embedding",
      d = 16, k = 1, refine = 128)
      .select(col("query_id"), col("neighbor_id"))
    recallSurface(truth, found)
  }

  private def simKnnTruncRecallSql = recallTruthSql

  /** Binary-quantized ANN on planted copies: an identical vector has
    * Hamming distance 0, survives any refine cut, and wins the exact
    * cosine re-rank — rank 1 is a deterministic identity contract, the
    * same protocol as `sim_knn_sq`.
    */
  def simKnnBinary(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 5000)
    val probes = vecs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 7000000L)
    Knn.binaryTopK(probes, vecs, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  private val simKnnBinarySql =
    """SELECT vec_id + 7000000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin

  /** Binary-quantization recall against brute-force ground truth (the
    * `sim_knn_sq_recall` protocol through the 1-bit path): sign-bit
    * Hamming candidates + exact refine must keep ≥90% of true nearest
    * neighbors at rank 1. 1 bit/dim is the crudest quantizer in the
    * matrix, so the refine budget is wider (128 of ≤500) — the
    * accuracy/cost dial made explicit.
    */
  def simKnnBinaryRecall(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val corpus = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val probes = ivfRecallProbes(corpus)
    val truth = Knn.bruteForceTopK(probes, corpus, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val found = Knn.binaryTopK(probes, corpus, "vec_id", "embedding", k = 1,
      refine = 128)
      .select(col("query_id"), col("neighbor_id"))
    recallSurface(truth, found)
  }

  private def simKnnBinaryRecallSql = recallTruthSql

  // ---------------------------------------------------------------- multimodal
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.packDocuments(Tables.documents(spark, dir))
    val features = Multimodal.decode(spark, media)
    val frames = Multimodal.frameSample(media, n = 4)
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    features.join(frames, "media_id")
      .select(col("media_id"), col("format"), col("n_bytes"),
        col("n_frames").cast("int").as("n_frames"))
      .orderBy(col("media_id"))
  }

  private val mmFeaturesSql =
    """SELECT doc_id AS media_id, 'raw' AS format,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  4 AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  /** Image near-dup dedup ([[Multimodal.nearDupSurvivors]]): aHash
    * signatures collapse a brightness-perturbed PPM copy into its
    * original (uniform +2 moves every cell and the mean together) and a
    * repainted flat BMP into the original gray (flat images share the
    * all-ones signature); an INVERTED gradient and a non-image payload
    * survive. Every survivor row and group size is a hand-derived
    * literal in the oracle.
    */
  def mmNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Uniform luma shift: bump every raster byte (saturating) past the
    // 13-byte PPM header. The 8x8 resample of the 16x16 gradient only
    // reads values <= 238, so the shift never saturates a sampled cell
    // and the signature is bit-identical to the original's.
    def shiftPpm(bytes: Array[Byte], delta: Int): Array[Byte] = {
      val out = bytes.clone()
      var i = 13
      while (i < out.length) {
        out(i) = math.min(255, (out(i) & 0xff) + delta).toByte
        i += 1
      }
      out
    }
    // Repaint the flat BMP's pixels (offset 54+) to a different gray.
    def repaintBmp(bytes: Array[Byte], gray: Int): Array[Byte] = {
      val out = bytes.clone()
      var i = 54
      while (i < out.length) { out(i) = gray.toByte; i += 1 }
      out
    }
    // Inverted gradient: a distinct image that must NOT merge.
    def invertPpm(bytes: Array[Byte]): Array[Byte] = {
      val out = bytes.clone()
      var i = 13
      while (i < out.length) { out(i) = (255 - (out(i) & 0xff)).toByte; i += 1 }
      out
    }
    val g = Multimodal.Fixtures.ppmGradient16
    val b = Multimodal.Fixtures.bmpGray4
    val fixtures = Seq[(Long, Array[Byte])](
      (1L, g), (2L, shiftPpm(g, 2)),
      (3L, b), (4L, repaintBmp(b, 130)),
      (5L, Multimodal.Fixtures.wavAlternating8),
      (6L, invertPpm(g)))
      .toDF("media_id", "media")
    Multimodal.nearDupSurvivors(spark, fixtures)
      .orderBy(col("media_id"))
  }

  private val mmNearDupSql =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'ppm', CAST(2 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'bmp', CAST(2 AS BIGINT)),
      |  (CAST(5 AS BIGINT), 'raw', CAST(1 AS BIGINT)),
      |  (CAST(6 AS BIGINT), 'ppm', CAST(1 AS BIGINT))
      |) AS v(media_id, format, n_dups)
      |ORDER BY media_id""".stripMargin

  /** The REAL decoders ([[graft.multimodal.MediaCodecs]]) against planted
    * fixtures whose features are hand-computable: a 16×16 PPM gray
    * gradient (uniform luminance histogram), a 4×4 all-gray-128 BMP
    * (single luminance bin), an 8-sample ±16384 WAV (two amplitude bins),
    * and a 16-byte raw payload exercising the unknown-format fallback
    * (one byte per high nibble — uniform byte histogram). Every decoded
    * value — format, dimensions, sample count, and each histogram bin —
    * is pinned row-by-row; the oracle derives them from the fixture
    * DEFINITIONS, not from running any decoder. The histogram is
    * posexploded into one (media_id, …, bin, p) row per bucket so the
    * gate emits only scalar columns — the driver's comparator sorts rows
    * through pandas, which cannot order array cells (r07 lesson).
    */
  def mmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fixtures = Seq[(Long, Array[Byte])](
      (1L, Multimodal.Fixtures.ppmGradient16),
      (2L, Multimodal.Fixtures.bmpGray4),
      (3L, Multimodal.Fixtures.wavAlternating8),
      (4L, (0 until 16).map(n => (n << 4).toByte).toArray))
      .toDF("media_id", "media")
    Multimodal.decode(spark, fixtures)
      .select(col("media_id"), col("format"), col("n_bytes"),
        col("width"), col("height"), col("n_samples"),
        posexplode(col("histogram")).as(Seq("bin", "p")))
      .orderBy(col("media_id"), col("bin"))
  }

  private val mmDecodeSql =
    """WITH t AS (SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'ppm', CAST(13 + 768 AS INT), CAST(16 AS INT),
      |   CAST(16 AS INT), CAST(NULL AS BIGINT),
      |   CAST([0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625,
      |    0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625] AS DOUBLE[])),
      |  (CAST(2 AS BIGINT), 'bmp', CAST(54 + 48 AS INT), CAST(4 AS INT),
      |   CAST(4 AS INT), CAST(NULL AS BIGINT),
      |   CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      |    1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[])),
      |  (CAST(3 AS BIGINT), 'wav', CAST(44 + 16 AS INT), CAST(NULL AS INT),
      |   CAST(NULL AS INT), CAST(8 AS BIGINT),
      |   CAST([0.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0,
      |    0.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0] AS DOUBLE[])),
      |  (CAST(4 AS BIGINT), 'raw', CAST(16 AS INT), CAST(NULL AS INT),
      |   CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |   CAST([0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625,
      |    0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625, 0.0625] AS DOUBLE[]))
      |) AS v(media_id, format, n_bytes, width, height, n_samples, histogram)),
      |pos AS (
      |  SELECT media_id, format, n_bytes, width, height, n_samples,
      |    unnest(range(1, len(histogram) + 1)) AS i, histogram
      |  FROM t
      |)
      |SELECT media_id, format, n_bytes, width, height, n_samples,
      |  CAST(i - 1 AS INT) AS bin, histogram[i] AS p
      |FROM pos ORDER BY media_id, bin""".stripMargin

  /** Image resize over the decodable fixtures ([[Multimodal.resize]]):
    * the 16×16 PPM gradient and the 4×4 gray BMP both land on a 4×4
    * nearest-neighbor luminance grid — every resized PIXEL is pinned by
    * the oracle (gradient pixel (x,y) has luminance 16y+x, so the 4×4
    * resize reads exactly 64y+4x; the gray BMP stays 128 everywhere).
    * Non-image payloads surface as `raw` rows with null dims and no
    * pixels (posexplode_outer keeps the row) — flagged, never dropped.
    */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fixtures = Seq[(Long, Array[Byte])](
      (1L, Multimodal.Fixtures.ppmGradient16),
      (2L, Multimodal.Fixtures.bmpGray4),
      (3L, Multimodal.Fixtures.wavAlternating8),
      (4L, (0 until 16).map(n => (n << 4).toByte).toArray))
      .toDF("media_id", "media")
    Multimodal.resize(spark, fixtures, targetW = 4, targetH = 4)
      .select(col("media_id"), col("format"), col("src_width"),
        col("src_height"), col("out_width"), col("out_height"),
        posexplode_outer(col("luma")).as(Seq("idx", "lum")))
      .orderBy(col("media_id"), col("idx"))
  }

  private val mmResizeSql =
    """WITH t AS (SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'ppm', CAST(16 AS INT), CAST(16 AS INT),
      |   [0, 4, 8, 12, 64, 68, 72, 76, 128, 132, 136, 140,
      |    192, 196, 200, 204]),
      |  (CAST(2 AS BIGINT), 'bmp', CAST(4 AS INT), CAST(4 AS INT),
      |   [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128,
      |    128, 128, 128, 128])
      |) AS v(media_id, format, src_width, src_height, luma)),
      |pix AS (
      |  SELECT media_id, format, src_width, src_height,
      |    unnest(range(1, len(luma) + 1)) AS i, luma
      |  FROM t
      |)
      |SELECT media_id, format, src_width, src_height,
      |  CAST(4 AS INT) AS out_width, CAST(4 AS INT) AS out_height,
      |  CAST(i - 1 AS INT) AS idx, CAST(luma[i] AS INT) AS lum
      |FROM pix
      |UNION ALL
      |SELECT media_id, 'raw', CAST(NULL AS INT), CAST(NULL AS INT),
      |  CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
      |  CAST(NULL AS INT)
      |FROM (VALUES (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT))) AS r(media_id)
      |ORDER BY media_id, idx""".stripMargin

  /** Frame sampling at the byte level: the oracle recomputes each sampled
    * window's offset arithmetic and length (DuckDB has no blob substring,
    * so the check is arithmetic over octet_length — it still pins every
    * window's position and clamping, not just the frame count).
    */
  def mmFrames(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.packDocuments(Tables.documents(spark, dir))
    Multimodal.frameSample(media, n = 4)
      .select(col("media_id"), col("frame_idx"),
        octet_length(col("frame")).cast("int").as("frame_bytes"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  private val mmFramesSql =
    """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
      |     s AS (SELECT doc_id, nb,
      |             greatest(CAST(floor(nb / 4) AS INT), 1) AS step
      |           FROM m)
      |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
      |  CAST(least(greatest(nb - i * step, 0), 16) AS INT) AS frame_bytes
      |FROM s, (SELECT unnest(range(0, 4)) AS i)
      |ORDER BY media_id, frame_idx""".stripMargin

  // --------------------------------------------- training-data pipeline
  /** The whole training-data preparation chain as one gate — the 100 TB
    * shape end-to-end: scan-local quality + repetition filters → one
    * exact-dedup hash shuffle → broadcast decontamination semi-join →
    * scan-local split assignment → final small aggregate. Planted rows
    * make every stage do visible work: boilerplate (ids +4,000,000) dies
    * at the repetition filter, exact copies (ids +1,000,000) die at
    * dedup, and eval-set members (every 100th doc) die at
    * decontamination. The oracle re-derives the full composition.
    */
  def pipeTrainingData(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val corpus = docs
      .unionByName(docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 4000000L)
        .withColumn("text", concat(col("text"), lit(" "), col("text"))))
      .unionByName(docs.filter(col("doc_id") >= 10 && col("doc_id") < 35)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val bench = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    val filtered = corpus
      .filter(TextAnalysis.tokenCount(col("text")) >= 5)
      .filter(round(TextAnalysis.dupNgramCharFrac(col("text")), 6) < 0.2)
    val deduped = Dedup.exact(filtered, Seq("text"), Seq(col("doc_id")))
    val clean = Decontamination.decontaminate(deduped, bench,
      "doc_id", "text", "text", n = 5, minHits = 1)
    Sampling.withSplit(clean, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = 13L)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).cast("bigint").as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"))
  }

  private val pipeTrainingDataSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 4000000 AS doc_id, text || ' ' || text AS text
       |  FROM documents WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
       |  WHERE doc_id >= 10 AND doc_id < 35
       |), dl AS (
       |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t,
       |    len(array_to_string(string_split_regex(trim(text), '\\s+'), ' ')) AS dlen
       |  FROM corpus
       |), rep AS (
       |  SELECT doc_id,
       |    COALESCE(SUM(CASE WHEN c >= 2 THEN c * gl END), 0) AS dupw
       |  FROM (
       |    SELECT doc_id, g, COUNT(*) AS c, len(g) AS gl
       |    FROM (SELECT doc_id, array_to_string(t[i : i + 4], ' ') AS g
       |          FROM (SELECT doc_id, t,
       |                  unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
       |                FROM dl))
       |    GROUP BY doc_id, g)
       |  GROUP BY doc_id
       |), filtered AS (
       |  SELECT dl.doc_id, dl.text, len(dl.t) AS n_tokens
       |  FROM dl JOIN rep ON rep.doc_id = dl.doc_id
       |  WHERE len(dl.t) >= 5
       |    AND (dlen = 0 OR round(CAST(dupw AS DOUBLE) / dlen, 6) < 0.2)
       |), deduped AS (
       |  SELECT * FROM filtered
       |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
       |), bsh AS (
       |  SELECT DISTINCT array_to_string(t[i : i + 4], ' ') AS g
       |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
       |        FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
       |              FROM documents WHERE doc_id % 100 = 0))
       |), csh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 4], ' ') AS g
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
       |          unnest(range(1,
       |            greatest(len(string_split_regex(trim(text), '\\s+')) - 4, 1) + 1)) AS i
       |        FROM deduped)
       |), clean AS (
       |  SELECT d.* FROM deduped d
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM csh JOIN bsh USING (g) WHERE csh.doc_id = d.doc_id)
       |)
       |SELECT CASE WHEN ${bucketSql("doc_id", 13L)} < ${Sampling.threshold(0.8)} THEN 'train'
       |            WHEN ${bucketSql("doc_id", 13L)} < ${Sampling.threshold(0.9)} THEN 'valid'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc
       |FROM clean GROUP BY 1 ORDER BY split""".stripMargin

  // ----------------------------------------------------- repetition
  /** Gopher-style repetition metrics over the corpus plus planted
    * boilerplate (each of docs 0-9 self-concatenated, ids +4,000,000 —
    * those saturate the dup-5-gram share). Rounded to 6 dp on both sides
    * to absorb last-ulp double differences (cosine-gate precedent).
    */
  def txtRepetition(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val corpus = docs.unionByName(docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 4000000L)
      .withColumn("text", concat(col("text"), lit(" "), col("text"))))
    corpus.select(col("doc_id"),
      round(TextAnalysis.topNgramCharFrac(col("text")), 6).as("top2_frac"),
      round(TextAnalysis.dupNgramCharFrac(col("text")), 6).as("dup5_frac"))
      .orderBy(col("doc_id"))
  }

  private val txtRepetitionSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000000 AS doc_id, text || ' ' || text AS text
      |  FROM documents WHERE doc_id < 10
      |), dl AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
      |    len(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS dlen
      |  FROM corpus
      |), c2 AS (
      |  SELECT doc_id, MAX(c * gl) AS topw FROM (
      |    SELECT doc_id, g, COUNT(*) AS c, len(g) AS gl
      |    FROM (SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS g
      |          FROM (SELECT doc_id, t,
      |                  unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i
      |                FROM dl))
      |    GROUP BY doc_id, g)
      |  GROUP BY doc_id
      |), c5 AS (
      |  SELECT doc_id,
      |    COALESCE(SUM(CASE WHEN c >= 2 THEN c * gl END), 0) AS dupw
      |  FROM (
      |    SELECT doc_id, g, COUNT(*) AS c, len(g) AS gl
      |    FROM (SELECT doc_id, array_to_string(t[i : i + 4], ' ') AS g
      |          FROM (SELECT doc_id, t,
      |                  unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
      |                FROM dl))
      |    GROUP BY doc_id, g)
      |  GROUP BY doc_id
      |)
      |SELECT dl.doc_id,
      |  CASE WHEN dlen = 0 THEN 0.0
      |       ELSE round(CAST(topw AS DOUBLE) / dlen, 6) END AS top2_frac,
      |  CASE WHEN dlen = 0 THEN 0.0
      |       ELSE round(CAST(dupw AS DOUBLE) / dlen, 6) END AS dup5_frac
      |FROM dl
      |JOIN c2 ON c2.doc_id = dl.doc_id
      |JOIN c5 ON c5.doc_id = dl.doc_id
      |ORDER BY dl.doc_id""".stripMargin

  // --------------------------------------------------- decontamination
  /** Benchmark decontamination: every 50th doc is the "eval set"; the
    * corpus is all docs plus planted near-copies of the eval docs (a
    * leading token run prepended, ids +3,000,000). Contaminated = shares
    * ≥1 distinct word 5-gram with any eval doc — which catches the eval
    * docs themselves and the planted copies, plus any natural overlap the
    * oracle independently re-derives.
    */
  def txtDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val corpus = docs.unionByName(
      bench.withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", concat(lit("zx qv zx qv "), col("text"))))
    Decontamination.contaminated(corpus, bench,
      "doc_id", "text", "text", n = 5, minHits = 1)
      .orderBy(col("doc_id"))
  }

  private val txtDecontaminateSql =
    """WITH bench AS (
      |  SELECT text FROM documents WHERE doc_id % 50 = 0
      |), corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, 'zx qv zx qv ' || text AS text
      |  FROM documents WHERE doc_id % 50 = 0
      |), btoks AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS t FROM bench
      |), bsh AS (
      |  SELECT DISTINCT array_to_string(t[i : i + 4], ' ') AS g
      |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
      |        FROM btoks)
      |  WHERE array_to_string(t[i : i + 4], ' ') <> ''
      |), ctoks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus
      |), csh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 4], ' ') AS g
      |  FROM (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
      |        FROM ctoks)
      |  WHERE array_to_string(t[i : i + 4], ' ') <> ''
      |)
      |SELECT doc_id, COUNT(*) AS n_hits
      |FROM csh JOIN bsh USING (g)
      |GROUP BY doc_id HAVING COUNT(*) >= 1
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- sampling/mixing
  /** The DuckDB oracle recomputes `Sampling.hashBucket` byte-for-byte —
    * the operator's md5 portability contract (Sampling.scala) is exactly
    * what makes these gates fully oracle-checkable.
    */
  private def bucketSql(keyExpr: String, salt: Long): String =
    s"CAST(('0x' || substr(md5(CAST($keyExpr AS VARCHAR) || ':$salt'), 1, 8)) AS BIGINT)"

  /** Deterministic hash sample: same rows on every run and cluster shape. */
  def pipeHashSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(Tables.documents(spark, dir), "doc_id", 0.3, salt = 7L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  private val pipeHashSampleSql =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${bucketSql("doc_id", 7L)} < ${Sampling.threshold(0.3)}
       |ORDER BY doc_id""".stripMargin

  /** Weighted mixture: downsample 'en' to 25%, keep the rest at 90%. */
  def pipeCorpusMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixture(Tables.documents(spark, dir), "doc_id", "lang",
      rates = Map("en" -> 0.25), defaultRate = 0.9, salt = 3L)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  private val pipeCorpusMixSql =
    s"""SELECT lang, COUNT(*) AS n_docs FROM documents
       |WHERE ${bucketSql("doc_id", 3L)} <
       |  CASE WHEN lang = 'en' THEN ${Sampling.threshold(0.25)}
       |       ELSE ${Sampling.threshold(0.9)} END
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Token-budget mixture ([[Sampling.tokenBudgetMixture]]): 'en' capped
    * at 40% of its total characters, every other language uncapped. The
    * oracle recomputes the per-source totals, the derived threshold, and
    * the exact md5-bucket membership — per-language kept counts AND kept
    * character volumes must match row-for-row-derived aggregates.
    */
  def pipeTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val enBudget = {
      // 40% of en's total characters, rounded down — the oracle derives
      // the same number from the raw table.
      val t = docs.filter(col("lang") === "en")
        .agg(sum(col("n_chars"))).head().getLong(0)
      t * 2 / 5
    }
    Sampling.tokenBudgetMixture(docs, "doc_id", "lang", "n_chars",
      budgets = Map("en" -> enBudget), salt = 7L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("lang"))
  }

  private val pipeTokenBudgetSql =
    s"""WITH totals AS (
       |  SELECT lang, SUM(n_chars) AS tot FROM documents GROUP BY lang
       |), thr AS (
       |  SELECT lang,
       |    CASE WHEN lang <> 'en' OR tot <= tot * 2 // 5 THEN ${Sampling.Space}
       |         ELSE CAST(round((tot * 2 // 5) / CAST(tot AS DOUBLE)
       |                    * ${Sampling.Space}) AS BIGINT) END AS thr
       |  FROM totals
       |)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
       |FROM documents d JOIN thr ON thr.lang = d.lang
       |WHERE ${bucketSql("d.doc_id", 7L)} < thr.thr
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Temperature mixture ([[Sampling.temperatureMixture]], α = 0.5 over a
    * budget of half the corpus volume): per-language keep thresholds are
    * derived from sqrt-flattened shares, so the head language is
    * downsampled hardest and the tail rides at (or near) full rate. The
    * oracle replays the whole derivation — totals, pow-weights, the
    * normalizer, the exact left-associative double threshold arithmetic,
    * and md5 membership — then checks kept counts AND kept volumes per
    * language.
    */
  def pipeTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val budget = {
      // Half the corpus's total characters — derived, so the gate is
      // sf-stable and the oracle recomputes the same number.
      val t = docs.agg(sum(col("n_chars"))).head().getLong(0)
      t / 2
    }
    Sampling.temperatureMixture(docs, "doc_id", "lang", "n_chars",
      totalBudget = budget, alpha = 0.5, salt = 11L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("lang"))
  }

  private val pipeTemperatureMixSql =
    s"""WITH totals AS (
       |  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS tot FROM documents GROUP BY lang
       |), budget AS (
       |  SELECT CAST(SUM(n_chars) // 2 AS DOUBLE) AS b FROM documents
       |), weights AS (
       |  SELECT lang, tot, POW(tot, 0.5) AS w FROM totals
       |), thr AS (
       |  SELECT lang,
       |    CASE WHEN tot = 0 THEN ${Sampling.Space}
       |         ELSE LEAST(${Sampling.Space}, CAST(round(
       |           w / (SELECT SUM(w) FROM weights) * (SELECT b FROM budget)
       |             / tot * ${Sampling.Space}.0) AS BIGINT)) END AS thr
       |  FROM weights
       |)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
       |FROM documents d JOIN thr ON thr.lang = d.lang
       |WHERE ${bucketSql("d.doc_id", 11L)} < thr.thr
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Cross-corpus exact dedup: scrub the corpus of rows byte-identical to
    * a reference slice (here: docs 0-99 stand in for an eval set). The
    * reference side travels as distinct 128-bit content hashes (broadcast
    * anti-join probe — the corpus never shuffles); the oracle replays the
    * same semantics as NOT IN over raw text.
    */
  def pipeCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val reference = docs.filter(col("doc_id") < 100).select(col("text"))
    val kept = Dedup.exactAgainst(docs, Seq("text"), reference, Seq("text"))
    kept.agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
  }

  private val pipeCrossDedupSql =
    """SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
      |FROM documents
      |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id < 100)""".stripMargin

  /** The Bloom-prefiltered scale path of cross-corpus exact dedup, against
    * the SAME oracle as `pipe_cross_dedup`: the filter's false-positive
    * path (hits re-verified exactly) and false-negative contract (a Bloom
    * "no" is definitive) must make the output byte-identical to the plain
    * anti-join — any probe/verify disagreement changes n_kept or the id
    * sum. A deliberately tiny expectedDistinct (≪ reference size would be
    * wrong; here slightly under-sized at 64) drives fpp UP, exercising the
    * verify branch with real false positives rather than a no-op.
    */
  def pipeCrossDedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val reference = docs.filter(col("doc_id") < 100).select(col("text"))
    val kept = Dedup.exactAgainstBloom(docs, Seq("text"), reference, Seq("text"),
      expectedDistinct = 64, fpp = 0.05)
    kept.agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
  }

  /** Exact-count stratified sample: 10 docs per language, selected by
    * content-addressed hash order. The oracle reproduces the selection as
    * the row_number window the Spark side deliberately does NOT run (the
    * operator uses a bounded-heap aggregation + semi-join — see
    * Sampling.stratified scaladoc for why the window shape dies at scale).
    */
  def pipeStratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratified(Tables.documents(spark, dir), "doc_id", "lang",
      k = 10, salt = 5L)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  private val pipeStratifiedSql =
    s"""WITH ranked AS (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${bucketSql("doc_id", 5L)}, doc_id) AS rn
       |  FROM documents
       |)
       |SELECT lang, doc_id FROM ranked WHERE rn <= 10
       |ORDER BY lang, doc_id""".stripMargin

  /** Scored per-group selection ([[Sampling.topKByGroup]]): the 5 longest
    * docs per source, (n_chars desc, doc_id) total order — the quality-cut
    * twin of `pipe_stratified`'s random pick; the oracle replays it as the
    * row_number window the operator deliberately avoids at scale.
    */
  def pipeGroupTopK(spark: SparkSession, dir: String): DataFrame =
    Sampling.topKByGroup(Tables.documents(spark, dir), "doc_id", "source",
      "n_chars", k = 5)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("doc_id"))

  private val pipeGroupTopKSql =
    """WITH ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      |)
      |SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 5
      |ORDER BY source, doc_id""".stripMargin

  /** Per-row weighted sampling ([[Sampling.weightedSample]]): acceptance
    * probability = min(n_chars / 400, 1) — longer docs kept at higher
    * rate, the soft quality cut. The oracle interpolates the exact bucket
    * expression and threshold arithmetic.
    */
  def pipeWeightedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
      Tables.documents(spark, dir)
        .withColumn("__w", least(col("n_chars") / 400.0, lit(1.0))),
      "doc_id", "__w", salt = 21L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"))

  private val pipeWeightedSampleSql =
    s"""SELECT source, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM documents
       |WHERE doc_id IS NOT NULL
       |  AND ${bucketSql("doc_id", 21L)} <
       |    CAST(round(least(n_chars / 400.0, 1.0) * 4294967296) AS BIGINT)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Disjoint 80/10/10 train/valid/test split — every doc in exactly one. */
  def pipeSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.withSplit(Tables.documents(spark, dir), "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = 11L)
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"))

  private val pipeSplitSql =
    s"""SELECT CASE WHEN ${bucketSql("doc_id", 11L)} < ${Sampling.threshold(0.8)} THEN 'train'
       |            WHEN ${bucketSql("doc_id", 11L)} < ${Sampling.threshold(0.9)} THEN 'valid'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** Sequence packing ([[Packing.packSequences]]): documents laid out as 8
    * contiguous per-shard streams in content-addressed order, `n_chars` as
    * the token count, 4096-token training sequences. The oracle replays
    * the ENTIRE layout — shard assignment, within-shard order, running
    * offsets, and first/last sequence ids — as the window query the
    * operator's sharded form distributes, so any drift in hashing, ordering
    * or offset arithmetic breaks the row hash.
    */
  def pipePack(spark: SparkSession, dir: String): DataFrame =
    Packing.packSequences(Tables.documents(spark, dir), "doc_id", "n_chars",
      seqLen = 4096L, nShards = 8, salt = 13L)
      .select(col("doc_id"), col("shard"), col("off"),
        col("seq_first"), col("seq_last"))
      .orderBy(col("doc_id"))

  /** Length-bucketed batching ([[Packing.lengthBuckets]]): every doc's
    * shard, power-of-2 length class, pad ceiling, and batch number, pinned
    * per row. The oracle replays the content-addressed shard bucket, the
    * bit-length bucket exponent (integer `length(bin(n−1))` on both
    * engines — never float log2), and the rows-per-batch window
    * arithmetic.
    */
  def pipeLengthBatches(spark: SparkSession, dir: String): DataFrame =
    Packing.lengthBuckets(Tables.documents(spark, dir), "doc_id", "n_chars",
      batchTokens = 8192L, nShards = 4, salt = 29L)
      .select(col("doc_id"), col("shard"), col("len_bucket"),
        col("padded_len"), col("batch_idx"))
      .orderBy(col("doc_id"))

  private val pipeLengthBatchesSql =
    s"""WITH b AS (
       |  SELECT doc_id, COALESCE(n_chars, 0) AS toks,
       |    ${bucketSql("doc_id", 29L)} AS bkt
       |  FROM documents WHERE doc_id IS NOT NULL
       |), c AS (
       |  SELECT doc_id, bkt, CAST(bkt % 4 AS INT) AS shard,
       |    CAST(CASE WHEN toks <= 1 THEN 0
       |         ELSE length(bin(toks - 1)) END AS INT) AS len_bucket
       |  FROM b
       |), p AS (
       |  SELECT doc_id, shard, len_bucket,
       |    CAST(power(2, len_bucket) AS BIGINT) AS padded_len,
       |    row_number() OVER (PARTITION BY shard, len_bucket
       |      ORDER BY bkt, doc_id) AS rn
       |  FROM c
       |)
       |SELECT doc_id, shard, len_bucket, padded_len,
       |  CAST((rn - 1) // greatest(8192 // padded_len, 1) AS BIGINT)
       |    AS batch_idx
       |FROM p ORDER BY doc_id""".stripMargin

  private val pipePackSql =
    s"""WITH b AS (
       |  SELECT doc_id, COALESCE(n_chars, 0) AS toks,
       |    ${bucketSql("doc_id", 13L)} AS bkt
       |  FROM documents WHERE doc_id IS NOT NULL
       |), laid AS (
       |  SELECT doc_id, toks, CAST(bkt % 8 AS INT) AS shard,
       |    CAST(COALESCE(SUM(toks) OVER (PARTITION BY bkt % 8
       |      ORDER BY bkt, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS off
       |  FROM b
       |)
       |SELECT doc_id, shard, off,
       |  off // 4096 AS seq_first,
       |  (off + greatest(toks, 1) - 1) // 4096 AS seq_last
       |FROM laid ORDER BY doc_id""".stripMargin

  /** Sample → pack composition (the tail of a real training-data build:
    * select the corpus slice, then lay it out): the packed layout must be
    * computed over exactly the sampled membership — offsets shift whenever
    * membership does, so the per-shard totals pin BOTH operators at once.
    * The oracle replays membership (md5 buckets, salt 7) and the layout
    * window over the survivors.
    */
  def pipePackedSample(spark: SparkSession, dir: String): DataFrame = {
    val sampled = Sampling.hashSample(
      Tables.documents(spark, dir), "doc_id", 0.3, salt = 7L)
    Packing.packSequences(sampled, "doc_id", "n_chars",
      seqLen = 4096L, nShards = 4, salt = 13L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_tokens"),
        max(col("seq_last")).as("last_seq"))
      .orderBy(col("shard"))
  }

  private val pipePackedSampleSql =
    s"""WITH sampled AS (
       |  SELECT doc_id, n_chars FROM documents
       |  WHERE ${bucketSql("doc_id", 7L)} < ${Sampling.threshold(0.3)}
       |), b AS (
       |  SELECT doc_id, COALESCE(n_chars, 0) AS toks, n_chars,
       |    ${bucketSql("doc_id", 13L)} AS bkt
       |  FROM sampled WHERE doc_id IS NOT NULL
       |), laid AS (
       |  SELECT doc_id, toks, n_chars, CAST(bkt % 4 AS INT) AS shard,
       |    CAST(COALESCE(SUM(toks) OVER (PARTITION BY bkt % 4
       |      ORDER BY bkt, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS off
       |  FROM b
       |)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_tokens,
       |  MAX((off + greatest(toks, 1) - 1) // 4096) AS last_seq
       |FROM laid GROUP BY shard ORDER BY shard""".stripMargin

  // ------------------------------------------------- line structure
  /** The corpus has no natural line structure (single-line word-soup
    * docs), so line-shaped gates build one deterministically: each doc's
    * tokens re-chunked into 12-token lines, plus a planted boilerplate
    * footer line on every 5th doc — the cross-document duplicate the
    * line-dedup operators must find. The oracle replays the construction.
    */
  private[graft] val boilerplateLine =
    "subscribe to our newsletter for more updates"

  private[graft] def linedDocs(docs: DataFrame): DataFrame = {
    val lined = array_join(
      TextAnalysis.chunkTokens(col("text"), maxTokens = 12, overlap = 0), "\n")
    // Scoped-PERSISTED: the lined text is a DERIVED column (regex tokenize
    // + chunk + array_join), and downstream consumers reference `text`
    // more than once (the Gopher rules through one kernel call, the C4
    // and line-dedup rules through their own line splits). Left as a bare
    // projection, predicate pushdown inlines the whole derivation into
    // every reference under a filter (the r08 `pipe_clean_pack` cliff).
    // Persisting makes the frame an
    // InMemoryRelation leaf at planning time, so every reference is an
    // attribute read of the ONE materialized string — the plan-shape
    // equivalent of a pipeline stage boundary, which is exactly what a
    // 100 TB run would do here (write the cleaned corpus between stages).
    // Released at the gate boundary by the harness (ScopedStorage).
    ScopedStorage.persist(docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(lined, lit("\n" + boilerplateLine))).otherwise(lined)))
  }

  /** DuckDB twin of [[linedDocs]] over the `documents` table: CTEs ending
    * in `lined(doc_id, text)`. */
  private val linedDocsSql =
    """__toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents
      |), __ch AS (
      |  SELECT doc_id, st, array_to_string(t[st : st + 11], ' ') AS ln
      |  FROM __toks, UNNEST(range(1, greatest(len(t), 1) + 1, 12)) AS u(st)
      |), lined AS (
      |  SELECT doc_id, string_agg(ln, chr(10) ORDER BY st) ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN chr(10) || 'subscribe to our newsletter for more updates'
      |      ELSE '' END AS text
      |  FROM __ch GROUP BY doc_id
      |)""".stripMargin

  /** Gopher rule profile ([[QualityRules.withRuleColumns]]) over the lined
    * corpus: every published structural signal plus both verdicts, all
    * integer-count arithmetic ratioed in double so the oracle reproduces
    * the keep decisions bit-for-bit. The lined construction gives the
    * line-shaped rules (bullet/ellipsis/duplicate-line) real structure to
    * measure — the planted footer makes `dup_line_*` nonzero on every 5th
    * doc; the synthetic-corpus extremes (bullet walls, ellipsis chains)
    * are pinned by the ScalaTest spec instead.
    */
  def txtGopher(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    QualityRules.withRuleColumns(linedDocs(Tables.documents(spark, dir)), "text")
      .select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("symbol_ratio"), 6).as("symbol_ratio"),
        round(col("bullet_frac"), 6).as("bullet_frac"),
        round(col("ellipsis_frac"), 6).as("ellipsis_frac"),
        round(col("alpha_frac"), 6).as("alpha_frac"),
        col("stopword_hits"),
        round(col("dup_line_frac"), 6).as("dup_line_frac"),
        round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
        col("quality_keep").cast("int").as("quality_keep"),
        col("repetition_keep").cast("int").as("repetition_keep"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB CTE fragment computing every Gopher rule column + both keep
    * verdicts over a CTE `from` with (doc_id, text); yields `__gk`.
    * Shared by `txt_gopher` and the composed `pipe_filter_chain`. */
  private def gopherRuleCtes(from: String): String =
    s"""__gm AS (
       |  SELECT doc_id, text,
       |    string_split_regex(trim(text), '\\s+') AS w,
       |    string_split(text, chr(10)) AS l,
       |    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS nb,
       |    list_sort(nb) AS s
       |  FROM $from
       |), __gr AS (
       |  SELECT doc_id, text,
       |    CAST(len(w) AS INT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
       |      / len(w) AS mean_word_len,
       |    CAST(len(regexp_extract_all(text, '#'))
       |         + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
       |      / len(w) AS symbol_ratio,
       |    CAST(len(list_filter(l, x -> regexp_matches(ltrim(x), '^[-*\u2022]')))
       |      AS DOUBLE) / len(l) AS bullet_frac,
       |    CAST(len(list_filter(l,
       |        x -> regexp_matches(rtrim(x), '(\\.\\.\\.|\u2026)$$')))
       |      AS DOUBLE) / len(l) AS ellipsis_frac,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
       |      AS DOUBLE) / len(w) AS alpha_frac,
       |    (CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'the') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'be') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'to') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'of') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'and') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'that') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'have') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'with') THEN 1 ELSE 0 END
       |    ) AS stopword_hits,
       |    CASE WHEN len(nb) = 0 THEN 0.0
       |      ELSE CAST(len(nb) - len(list_distinct(nb)) AS DOUBLE) / len(nb)
       |    END AS dup_line_frac,
       |    CASE WHEN len(nb) = 0
       |        OR COALESCE(list_sum(list_transform(nb, x -> length(x))), 0) = 0
       |      THEN 0.0
       |      ELSE CAST(COALESCE(list_sum(list_transform(range(1, len(s) + 1),
       |          i -> CASE WHEN i > 1 AND s[i] = s[i - 1]
       |               THEN length(s[i]) ELSE 0 END)), 0) AS DOUBLE)
       |        / list_sum(list_transform(nb, x -> length(x)))
       |    END AS dup_line_char_frac
       |  FROM __gm
       |), __gk AS (
       |  SELECT *,
       |    (n_words BETWEEN 50 AND 100000
       |      AND mean_word_len BETWEEN 3.0 AND 10.0
       |      AND symbol_ratio <= 0.1
       |      AND bullet_frac <= 0.9
       |      AND ellipsis_frac <= 0.3
       |      AND alpha_frac > 0.8
       |      AND stopword_hits >= 2) AS quality_keep,
       |    (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2)
       |      AS repetition_keep
       |  FROM __gr
       |)""".stripMargin

  private val txtGopherSql =
    s"""WITH $linedDocsSql,
       |${gopherRuleCtes("lined")}
       |SELECT doc_id, n_words,
       |  round(mean_word_len, 6) AS mean_word_len,
       |  round(symbol_ratio, 6) AS symbol_ratio,
       |  round(bullet_frac, 6) AS bullet_frac,
       |  round(ellipsis_frac, 6) AS ellipsis_frac,
       |  round(alpha_frac, 6) AS alpha_frac,
       |  stopword_hits,
       |  round(dup_line_frac, 6) AS dup_line_frac,
       |  round(dup_line_char_frac, 6) AS dup_line_char_frac,
       |  CAST(quality_keep AS INT) AS quality_keep,
       |  CAST(repetition_keep AS INT) AS repetition_keep
       |FROM __gk ORDER BY doc_id""".stripMargin

  /** Sentence-shaped corpus for the C4 rules: the lined corpus decorated
    * with deterministic terminal punctuation — per line at 1-based index i,
    * (doc_id + i) % 4 == 0 leaves the line unpunctuated (the C4 line filter
    * drops it), % 7 == 0 ends it with `!`, every other line with `.` — plus
    * planted policy violations: a javascript-boilerplate line on
    * doc_id % 6 == 1, a short call-to-action line on % 6 == 2 (both
    * line-level drops), a "lorem ipsum" line on % 7 == 3 and a
    * curly-brace code line on % 11 == 5 (both PAGE-level drops). The
    * lined base (and its every-5th-doc footer, which the punctuation rule
    * drops) is the scoped-persisted [[linedDocs]] frame; the decoration is
    * cheap string concat over the materialized text, so it stays a bare
    * projection. The oracle replays the construction line-by-line.
    */
  private[graft] def c4Docs(docs: DataFrame): DataFrame = {
    val l = split(col("text"), "\n")
    val decorated = array_join(
      transform(l, (ln, i0) => {
        val i = i0 + 1
        when((col("doc_id") + i) % 4 === 0, ln)
          .when((col("doc_id") + i) % 7 === 0, concat(ln, lit("!")))
          .otherwise(concat(ln, lit(".")))
      }), "\n")
    docs.withColumn("text", concat(
      decorated,
      when(col("doc_id") % 6 === 1,
        lit("\nplease enable javascript to continue viewing this page."))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 2, lit("\nClick here.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 3,
        lit("\nlorem ipsum dolor sit amet placeholder text here."))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 5,
        lit("\nthis page embeds function() { return code; } fragments."))
        .otherwise(lit(""))))
  }

  /** DuckDB twin of [[c4Docs]]: CTEs on top of `lined` ending in
    * `c4doc(doc_id, text)`. */
  private val c4DocsSql =
    """__c4l AS (
      |  SELECT doc_id, p.ti AS pos,
      |    CASE WHEN (doc_id + p.ti) % 4 = 0 THEN l0[p.ti]
      |         WHEN (doc_id + p.ti) % 7 = 0 THEN l0[p.ti] || '!'
      |         ELSE l0[p.ti] || '.' END AS ln
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l0 FROM lined),
      |    UNNEST(generate_series(1, len(l0))) AS p(ti)
      |), c4doc AS (
      |  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) ||
      |    CASE WHEN doc_id % 6 = 1 THEN chr(10) ||
      |         'please enable javascript to continue viewing this page.'
      |       ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 2 THEN chr(10) || 'Click here.'
      |       ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 3 THEN chr(10) ||
      |         'lorem ipsum dolor sit amet placeholder text here.'
      |       ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 5 THEN chr(10) ||
      |         'this page embeds function() { return code; } fragments.'
      |       ELSE '' END AS text
      |  FROM __c4l GROUP BY doc_id
      |)""".stripMargin

  /** C4 cleaning profile ([[C4Rules.withC4Columns]]) over the sentenced
    * corpus: line counts before/after the line filter, the sentence count
    * over retained lines, the page verdict, and an md5 fingerprint of the
    * cleaned text (content pinned without shipping the strings). Every
    * signal is scan-local; the oracle replays line filter, sentence count,
    * page rules, and the exact rejoined clean text.
    */
  def txtC4(spark: SparkSession, dir: String): DataFrame =
    C4Rules.withC4Columns(c4Docs(linedDocs(Tables.documents(spark, dir))),
      "text")
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("c4_keep").cast("int").as("c4_keep"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))

  private val txtC4Sql =
    s"""WITH $linedDocsSql,
       |$c4DocsSql,
       |__c4k AS (
       |  SELECT doc_id, text,
       |    string_split(text, chr(10)) AS l,
       |    list_filter(string_split(text, chr(10)), x ->
       |      regexp_matches(rtrim(x), '[.!?"]$$')
       |      AND len(string_split_regex(trim(x), '\\s+')) >= 5
       |      AND NOT contains(lower(x), 'javascript')) AS kept
       |  FROM c4doc
       |), __c4s AS (
       |  SELECT doc_id,
       |    CAST(len(l) AS INT) AS n_lines,
       |    CAST(len(kept) AS INT) AS n_kept_lines,
       |    -- array_to_string on an EMPTY list is NULL in DuckDB but '' in
       |    -- Spark; coalesce so zero-survivor pages compare equal.
       |    COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
       |    CAST(len(regexp_extract_all(
       |      COALESCE(array_to_string(kept, chr(10)), ''),
       |      '[.!?]')) AS INT) AS n_sentences,
       |    (NOT contains(lower(text), 'lorem ipsum')
       |      AND NOT contains(text, '{')) AS page_ok
       |  FROM __c4k
       |)
       |SELECT doc_id, n_lines, n_kept_lines, n_sentences,
       |  CAST(page_ok AND n_sentences >= 3 AS INT) AS c4_keep,
       |  md5(clean_text) AS clean_md5
       |FROM __c4s ORDER BY doc_id""".stripMargin

  /** Per-doc duplicated-line statistics ([[LineDedup.duplicatedLineStats]])
    * over the lined corpus: the planted footer appears in every 5th doc,
    * so those docs score nonzero `dup_frac`. The Spark side shuffles line
    * hashes only; the oracle recomputes from line STRINGS — the same
    * hashed-exchange-is-count-preserving proof shape as `txt_dup_spans`.
    */
  def txtDupLines(spark: SparkSession, dir: String): DataFrame =
    LineDedup.duplicatedLineStats(linedDocs(Tables.documents(spark, dir)),
      "doc_id", "text", minDocs = 2)
      .orderBy(col("doc_id"))

  private val txtDupLinesSql =
    s"""WITH $linedDocsSql,
       |l AS (
       |  SELECT doc_id, p.ti AS pos, l0[p.ti] AS ln
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l0 FROM lined),
       |    UNNEST(generate_series(1, len(l0))) AS p(ti)
       |), nb AS (
       |  SELECT * FROM l WHERE trim(ln) <> ''
       |), dup AS (
       |  SELECT ln FROM (
       |    SELECT ln, COUNT(DISTINCT doc_id) AS nd FROM nb GROUP BY ln
       |  ) WHERE nd >= 2
       |)
       |SELECT nb.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(COUNT(*) FILTER (WHERE d.ln IS NOT NULL) AS BIGINT) AS n_dup,
       |  round(COUNT(*) FILTER (WHERE d.ln IS NOT NULL)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
       |FROM nb LEFT JOIN dup d USING (ln)
       |GROUP BY nb.doc_id ORDER BY doc_id""".stripMargin

  /** The line-dedup TRANSFORM ([[LineDedup.removeDuplicateLines]]): every
    * corpus-duplicated line (the planted footer, plus any incidental
    * 12-token chunk collision) removed from every doc, survivors rejoined
    * with newline — replayed by the oracle as line → doc-frequency cut →
    * anti-join → ordered string_agg. doc_id < 200 bounds output volume;
    * the duplicate-line statistics still come from the WHOLE corpus.
    */
  def txtLineDedup(spark: SparkSession, dir: String): DataFrame =
    LineDedup.removeDuplicateLines(linedDocs(Tables.documents(spark, dir)),
      "doc_id", "text", minDocs = 2)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("clean_text"))
      .orderBy(col("doc_id"))

  private val txtLineDedupSql =
    s"""WITH $linedDocsSql,
       |l AS (
       |  SELECT doc_id, p.ti AS pos, l0[p.ti] AS ln
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l0 FROM lined),
       |    UNNEST(generate_series(1, len(l0))) AS p(ti)
       |), dup AS (
       |  SELECT ln FROM (
       |    SELECT ln, COUNT(DISTINCT doc_id) AS nd FROM l
       |    WHERE trim(ln) <> '' GROUP BY ln
       |  ) WHERE nd >= 2
       |)
       |SELECT l.doc_id,
       |  COALESCE(string_agg(l.ln, chr(10) ORDER BY l.pos)
       |             FILTER (WHERE d.ln IS NULL), '') AS clean_text
       |FROM l LEFT JOIN dup d ON l.ln = d.ln
       |WHERE l.doc_id < 200
       |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin

  /** WITHIN-doc line dedup ([[LineDedup.dedupLinesWithinDoc]] — scan-local
    * kernel, no shuffle): every 3rd doc gets its own first line appended
    * again; the rewrite must drop exactly the later occurrences (of that
    * and of any natural chunk repeat), keeping first-occurrence order.
    */
  def txtIntraDedup(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = linedDocs(Tables.documents(spark, dir))
      .withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), element_at(split(col("text"), "\n"), 1)))
        .otherwise(col("text")))
    docs.filter(col("doc_id") < 300)
      .select(col("doc_id"),
        LineDedup.dedupLinesWithinDoc(col("text")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  private val txtIntraDedupSql =
    s"""WITH $linedDocsSql,
       |app AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
       |    THEN text || chr(10) || string_split(text, chr(10))[1]
       |    ELSE text END AS text
       |  FROM lined
       |), l AS (
       |  SELECT doc_id, p.ti AS pos, l0[p.ti] AS ln
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l0 FROM app),
       |    UNNEST(generate_series(1, len(l0))) AS p(ti)
       |  WHERE doc_id < 300
       |), keep AS (
       |  SELECT doc_id, pos, ln,
       |    row_number() OVER (PARTITION BY doc_id, ln ORDER BY pos) AS rn
       |  FROM l
       |)
       |SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS clean_text
       |FROM keep WHERE trim(ln) = '' OR rn = 1
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Unigram-LM fluency scores ([[graft.text.UnigramLm.scoreDocs]]) with a
    * deliberately tiny vocab (top 50) so the OOV floor path is exercised
    * on the real corpus. Per-term log-probs quantize to micro-nat longs
    * before the per-doc sum (exact integer arithmetic — no float-order
    * drift between engines); the oracle replays model building, the vocab
    * cut, and every score.
    */
  def txtUnigramLm(spark: SparkSession, dir: String): DataFrame =
    graft.text.UnigramLm.scoreDocs(Tables.documents(spark, dir),
      "doc_id", "text", vocabSize = 50, oovDiscount = 0.5)
      .orderBy(col("doc_id"))

  /** The unigram-LM scoring pipeline as a reusable CTE block ending in
    * `lm_scores(doc_id, n_tokens, avg_logprob)` — shared by the scoring
    * gate and the percentile-cut composition so both replay the
    * identical model and micro-mean arithmetic.
    */
  private val unigramScoreCtes =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
      |), cnt AS (
      |  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
      |), tot AS (
      |  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt
      |), vocab AS (
      |  SELECT term,
      |    CAST(round(ln(c / (SELECT n FROM tot)) * 1000000) AS BIGINT) AS lp
      |  FROM cnt ORDER BY c DESC, term LIMIT 50
      |), lm_scores AS (
      |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    SIGN(SUM(COALESCE(v.lp,
      |        CAST(round(ln(0.5 / (SELECT n FROM tot)) * 1000000) AS BIGINT))))
      |      * floor((2 * ABS(SUM(COALESCE(v.lp,
      |          CAST(round(ln(0.5 / (SELECT n FROM tot)) * 1000000) AS BIGINT))))
      |          + COUNT(*)) / (2.0 * COUNT(*)))
      |      / 1000000.0 AS avg_logprob
      |  FROM toks t LEFT JOIN vocab v USING (term)
      |  GROUP BY t.doc_id
      |)""".stripMargin

  private val txtUnigramLmSql =
    s"""WITH $unigramScoreCtes
       |SELECT doc_id, n_tokens, avg_logprob
       |FROM lm_scores ORDER BY doc_id""".stripMargin

  /** Percentile quality cut — the composition a perplexity-filtering
    * pipeline actually runs (CCNet buckets documents by LM score and
    * keeps the better tail): per-LANGUAGE discrete median of the
    * unigram-LM score ([[graft.operators.Quantiles.groupQuantiles]] —
    * an actual element, integer rank arithmetic), then keep documents
    * scoring at or above their language's median. Pins the quantile
    * operator composed against a derived score column and the
    * engine-exactness of the median element: one micro-nat of score
    * drift would move the cut and change the kept set.
    */
  def pipeQualityCut(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = graft.text.UnigramLm
      .scoreDocs(docs, "doc_id", "text", vocabSize = 50, oovDiscount = 0.5)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .scopedCheckpoint(false) // feeds the median AND the filter side
    val med = graft.operators.Quantiles
      .groupQuantiles(scored, "lang", "avg_logprob", "doc_id",
        Seq(("p50", 1, 2)))
      .select(col("lang"), col("p50"))
    scored.join(med, Seq("lang"))
      .filter(col("avg_logprob") >= col("p50"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  private val pipeQualityCutSql =
    s"""WITH $unigramScoreCtes,
       |scored AS (
       |  SELECT s.doc_id, s.avg_logprob, d.lang
       |  FROM lm_scores s JOIN documents d USING (doc_id)
       |), ranked AS (
       |  SELECT lang, avg_logprob,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY avg_logprob ASC, doc_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM scored
       |), med AS (
       |  SELECT lang, MAX(CASE WHEN rn = (n - 1) // 2 + 1
       |                        THEN avg_logprob END) AS p50
       |  FROM ranked GROUP BY lang
       |)
       |SELECT s.lang, COUNT(*) AS n_kept,
       |  CAST(SUM(s.doc_id) AS BIGINT) AS id_sum
       |FROM scored s JOIN med USING (lang)
       |WHERE s.avg_logprob >= med.p50
       |GROUP BY s.lang ORDER BY s.lang""".stripMargin

  /** The COMPOSED filtering chain a real cleaning pipeline runs — Gopher
    * structural rules → cross-corpus line dedup of the survivors →
    * unigram-LM scoring of the CLEANED text (model built on the cleaned
    * survivors themselves) — rolled up per source. Every stage's semantics
    * is replayed end-to-end by the oracle, so this gate pins stage
    * COMPOSITION (filters see exactly the prior stage's output; the LM
    * model never sees removed boilerplate), not just each operator alone.
    * The survivor frame is checkpointed once: three consumers (the line
    * stats, the LM's model pass, the LM's scoring pass) would otherwise
    * re-run the rule evaluation per branch (the checkpoint-before-reuse
    * idiom). min/max of the per-doc scores (not their float sum) keep the
    * rollup order-independent.
    */
  def pipeFilterChain(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val kept = QualityRules.survivors(linedDocs(Tables.documents(spark, dir)),
      col("text")).scopedCheckpoint(false)
    val cleaned = LineDedup.removeDuplicateLines(kept, "doc_id", "text")
      .scopedCheckpoint(false)
    val scored = graft.text.UnigramLm.scoreDocs(cleaned, "doc_id",
      "clean_text", vocabSize = 50, oovDiscount = 0.5)
    cleaned.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("avg_logprob")).as("min_lp"),
        max(col("avg_logprob")).as("max_lp"))
      .orderBy(col("source"))
  }

  private val pipeFilterChainSql =
    s"""WITH $linedDocsSql,
       |${gopherRuleCtes("lined")},
       |kept AS (
       |  SELECT doc_id, text FROM __gk
       |  WHERE quality_keep AND repetition_keep
       |), kl AS (
       |  SELECT doc_id, p.ti AS pos, l0[p.ti] AS ln
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l0 FROM kept),
       |    UNNEST(generate_series(1, len(l0))) AS p(ti)
       |), kdup AS (
       |  SELECT ln FROM (
       |    SELECT ln, COUNT(DISTINCT doc_id) AS nd FROM kl
       |    WHERE trim(ln) <> '' GROUP BY ln
       |  ) WHERE nd >= 2
       |), cleaned AS (
       |  SELECT kl.doc_id,
       |    COALESCE(string_agg(kl.ln, chr(10) ORDER BY kl.pos)
       |               FILTER (WHERE d.ln IS NULL), '') AS clean_text
       |  FROM kl LEFT JOIN kdup d ON kl.ln = d.ln
       |  GROUP BY kl.doc_id
       |), toks AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(clean_text)), '\\s+')) AS term
       |  FROM cleaned WHERE clean_text IS NOT NULL AND trim(clean_text) <> ''
       |), cnt AS (
       |  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
       |), tot AS (
       |  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt
       |), vocab AS (
       |  SELECT term,
       |    CAST(round(ln(c / (SELECT n FROM tot)) * 1000000) AS BIGINT) AS lp
       |  FROM cnt ORDER BY c DESC, term LIMIT 50
       |), scores AS (
       |  SELECT t.doc_id, COUNT(*) AS n_tokens,
       |    SIGN(SUM(COALESCE(v.lp,
       |        CAST(round(ln(0.5 / (SELECT n FROM tot)) * 1000000) AS BIGINT))))
       |      * floor((2 * ABS(SUM(COALESCE(v.lp,
       |          CAST(round(ln(0.5 / (SELECT n FROM tot)) * 1000000) AS BIGINT))))
       |          + COUNT(*)) / (2.0 * COUNT(*)))
       |      / 1000000.0 AS avg_logprob
       |  FROM toks t LEFT JOIN vocab v USING (term)
       |  GROUP BY t.doc_id
       |)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(s.doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
       |  MIN(s.avg_logprob) AS min_lp,
       |  MAX(s.avg_logprob) AS max_lp
       |FROM scores s JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Trained-BPE tokenizer on a FIXED corpus whose merge sequence is
    * hand-derivable (the Sennrich-paper example shape: low×5, lower×2,
    * widest×3, newest×6). The oracle is the expected tokenization of each
    * probe word derived INDEPENDENTLY (by hand + a from-scratch reference
    * implementation), not by running this code — including the unseen
    * word "lowest" → [low, est</w>], the subword-generalization proof.
    */
  def txtBpePlanted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower widest widest widest"),
      (3L, "newest newest newest newest newest newest")
    ).toDF("doc_id", "text")
    val model = graft.text.Bpe.train(corpus, "text", numMerges = 10)
    val probes = Seq("low", "lower", "newest", "widest", "lowest", "wide",
      "new", "lox").toDF("probe")
    probes.select(col("probe"),
        array_join(graft.text.Bpe.tokens(model, col("probe")), " ")
          .as("tokens"),
        graft.text.Bpe.tokenCount(model, col("probe")).as("n_tokens"),
        array_join(graft.text.Bpe.tokenIds(model, col("probe")), " ")
          .as("token_ids"))
      .orderBy(col("probe"))
  }

  // Vocabulary ids: base symbols sorted — ["</w>"=0, d=1, e=2, i=3, l=4,
  // n=5, o=6, r=7, s=8, t=9, w=10] — then one id per merge rank (es=11 …
  // dest</w>=20); UNK = 21 ('x' is not in the training corpus).
  private val txtBpePlantedSql =
    """SELECT * FROM (VALUES
      |  ('low',    'low</w>',      1, '19'),
      |  ('lower',  'low e r </w>', 4, '15 2 7 0'),
      |  ('newest', 'newest</w>',   1, '18'),
      |  ('widest', 'w i dest</w>', 3, '10 3 20'),
      |  ('lowest', 'low est</w>',  2, '15 13'),
      |  ('wide',   'w i d e </w>', 5, '10 3 1 2 0'),
      |  ('new',    'n ew </w>',    3, '5 16 0'),
      |  ('lox',    'lo x </w>',    3, '14 21 0')
      |) AS t(probe, tokens, n_tokens, token_ids) ORDER BY probe""".stripMargin

  /** Trained-BPE tokenization of the real corpus. Formerly rows-only (no
    * SQL engine can replay BPE training); now fully oracle-checked (r10
    * verdict item 3) on the tokenizer's algebraic CONTRACT, which holds
    * for ANY merge table and is replayable per-doc: subword tokens
    * concatenate back to the lowercased whitespace-stripped text
    * (`reconstructs` — BPE merges never add or remove characters), the
    * `</w>` markers count the words exactly (`marker_count_ok`), and the
    * token count sits in [n_words, n_chars + n_words] (`tokens_bounded` —
    * at worst one token per character with the marker fused to the last).
    * `n_words` is a replayed VALUE per doc. The exact merge sequence and
    * tokenizations stay pinned by txt_bpe_planted.
    */
  def txtBpe(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    // Corpus precondition, guarded loudly (the dd_minhash cap-guard
    // pattern): the reconstruction check strips the literal `</w>` marker
    // from the concatenated tokens, so a document whose RAW text contains
    // that 4-char sequence would inflate the marker count and corrupt the
    // reconstruction on the Spark side while the oracle hardcodes TRUE —
    // an opaque driver red. Error instead.
    val nMarker = docs.filter(col("text").contains("</w>")).count()
    require(nMarker == 0,
      s"$nMarker docs contain the literal '</w>' marker — the BPE " +
        "reconstruction oracle cannot replay this corpus")
    val model = graft.text.Bpe.train(docs, "text", numMerges = 50,
      maxWords = 1000)
    docs
      .select(col("doc_id"),
        graft.text.Bpe.tokens(model, col("text")).as("__toks"),
        regexp_replace(lower(trim(col("text"))), "\\s+", "").as("__norm"),
        when(trim(col("text")) === "", lit(0L))
          .otherwise(size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
          .as("n_words"))
      .select(col("doc_id"), col("n_words"),
        (regexp_replace(concat_ws("", col("__toks")), "</w>", "") ===
          col("__norm")).as("reconstructs"),
        (size(expr("filter(__toks, t -> t LIKE '%</w>')")).cast("long") ===
          col("n_words")).as("marker_count_ok"),
        size(col("__toks")).cast("long").between(col("n_words"),
          length(col("__norm")).cast("long") + col("n_words"))
          .as("tokens_bounded"))
      .orderBy(col("doc_id"))
  }

  private val txtBpeSql =
    """SELECT doc_id,
      |  CASE WHEN trim(text) = '' THEN 0
      |       ELSE CAST(len(string_split_regex(trim(lower(text)), '\s+'))
      |         AS BIGINT) END AS n_words,
      |  TRUE AS reconstructs, TRUE AS marker_count_ok,
      |  TRUE AS tokens_bounded
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Cross-corpus embedding near-dup (semantic decontamination,
    * [[Dedup.embeddingNearDupPairsAgainst]]): the reference set is 25
    * planted identical copies (ids +3,000,000) — identity pre-route +
    * full-signature band agreement make them cap-proof — and the corpus's
    * max NATURAL cross cosine is ≈0.60 (the `dd_semantic` measurement),
    * far under the 0.98 bar, so the FULL brute-force cross oracle is
    * replayable without LSH-recall caveats.
    */
  def ddCrossEmbedding(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") < 500)
    val ref = vecs.filter(col("vec_id") < 25)
      .select((col("vec_id") + 3000000L).as("ref_id"),
        col("embedding").as("ref_vec"))
    Dedup.embeddingNearDupPairsAgainst(vecs, "vec_id", "embedding",
      ref, "ref_id", "ref_vec", threshold = 0.98)
      .select(col("id"), col("ref_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id"), col("ref_id"))
  }

  private val ddCrossEmbeddingSql =
    """WITH corpus AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE vec_id < 500
      |), ref AS (
      |  SELECT vec_id + 3000000 AS ref_id, CAST(embedding AS DOUBLE[]) AS rv
      |  FROM embeddings WHERE vec_id < 25
      |)
      |SELECT c.vec_id AS id, r.ref_id,
      |  round(list_cosine_similarity(c.v, r.rv), 6) AS cosine
      |FROM corpus c JOIN ref r ON list_cosine_similarity(c.v, r.rv) >= 0.98
      |ORDER BY id, ref_id""".stripMargin

  /** Order-2 LM scores with stupid backoff
    * ([[graft.text.UnigramLm.scoreDocsBigram]]): tiny model cuts (top-50
    * unigrams, top-100 bigrams) force all three scoring paths — bigram
    * hit, backoff-to-unigram, backoff-to-OOV-floor — on the real corpus.
    * The oracle rebuilds both model tables (same count-desc lexicographic
    * cuts), the conditional quantization, and every per-doc mean.
    */
  def txtBigramLm(spark: SparkSession, dir: String): DataFrame =
    graft.text.UnigramLm.scoreDocsBigram(Tables.documents(spark, dir),
      "doc_id", "text", vocabSize = 50, bigramSize = 100)
      .orderBy(col("doc_id"))

  private val txtBigramLmSql =
    """WITH src AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
      |), toks AS (
      |  SELECT doc_id, unnest(t) AS term FROM src
      |), cnt AS (
      |  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
      |), tot AS (
      |  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt
      |), uni AS (
      |  SELECT term,
      |    CAST(round(ln(c / (SELECT n FROM tot)) * 1000000) AS BIGINT) AS ulp
      |  FROM cnt ORDER BY c DESC, term LIMIT 50
      |), pairs AS (
      |  SELECT doc_id, t[i - 1] AS a, t[i] AS b
      |  FROM src, UNNEST(generate_series(2, len(t))) AS u(i)
      |), bi AS (
      |  SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY a, b
      |  ORDER BY cab DESC, a, b LIMIT 100
      |), biv AS (
      |  SELECT bi.a, bi.b,
      |    CAST(round(ln(bi.cab / CAST(c.c AS DOUBLE)) * 1000000) AS BIGINT)
      |      AS blp
      |  FROM bi JOIN cnt c ON c.term = bi.a
      |), firsts AS (
      |  SELECT f.doc_id, COALESCE(u.ulp,
      |      CAST(round(ln(0.5 / (SELECT n FROM tot)) * 1000000) AS BIGINT))
      |    AS lp
      |  FROM (SELECT doc_id, t[1] AS term FROM src) f
      |  LEFT JOIN uni u USING (term)
      |), pscore AS (
      |  SELECT p.doc_id, COALESCE(v.blp,
      |      CAST(round(ln(0.4) * 1000000) AS BIGINT)
      |      + COALESCE(u.ulp,
      |          CAST(round(ln(0.5 / (SELECT n FROM tot)) * 1000000) AS BIGINT)))
      |    AS lp
      |  FROM pairs p
      |  LEFT JOIN biv v ON v.a = p.a AND v.b = p.b
      |  LEFT JOIN uni u ON u.term = p.b
      |), allsc AS (
      |  SELECT doc_id, lp FROM firsts UNION ALL SELECT doc_id, lp FROM pscore
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  SIGN(SUM(lp))
      |    * floor((2 * ABS(SUM(lp)) + COUNT(*)) / (2.0 * COUNT(*)))
      |    / 1000000.0 AS avg_logprob
      |FROM allsc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Unicode NFC normalization ([[TextAnalysis.nfcNormalize]]): every 11th
    * doc gets a decomposed tail ("cafe" + combining acute) that must
    * compose to the precomposed form; DuckDB's nfc_normalize replays the
    * whole rewrite. The n_chars column pins that composition actually
    * shortened the planted rows (combining mark folded into one
    * codepoint).
    */
  def txtNfc(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val noisy = Tables.documents(spark, dir)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" cafe\u0301 nai\u0308ve")))
          .otherwise(col("text")))
    noisy.filter(col("doc_id") < 200)
      .select(col("doc_id"),
        TextAnalysis.nfcNormalize(col("text")).as("norm_text"),
        length(TextAnalysis.nfcNormalize(col("text"))).as("n_chars_norm"))
      .orderBy(col("doc_id"))
  }

  private val txtNfcSql =
    """WITH noisy AS (
      |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
      |    THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
      |    ELSE text END AS text
      |  FROM documents
      |)
      |SELECT doc_id, nfc_normalize(text) AS norm_text,
      |  CAST(length(nfc_normalize(text)) AS INT) AS n_chars_norm
      |FROM noisy WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** Contamination fraction ([[Decontamination.contaminationScore]]) —
    * same planted construction as `txt_decontaminate` (benchmark = every
    * 50th doc; planted near-copies with a 4-token prefix), but every doc
    * scores a row and the fraction separates verbatim copies (≈1) from
    * incidental gram collisions (≈0).
    */
  def txtContaminationScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val corpus = docs.unionByName(
      bench.withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", concat(lit("zx qv zx qv "), col("text"))))
    Decontamination.contaminationScore(corpus, bench,
      "doc_id", "text", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  private val txtContaminationScoreSql =
    """WITH bench AS (
      |  SELECT text FROM documents WHERE doc_id % 50 = 0
      |), corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, 'zx qv zx qv ' || text AS text
      |  FROM documents WHERE doc_id % 50 = 0
      |), btoks AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS t FROM bench
      |), bsh AS (
      |  SELECT DISTINCT array_to_string(t[i : i + 4], ' ') AS g
      |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
      |        FROM btoks)
      |  WHERE array_to_string(t[i : i + 4], ' ') <> ''
      |), ctoks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus
      |), csh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 4], ' ') AS g
      |  FROM (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS i
      |        FROM ctoks)
      |  WHERE array_to_string(t[i : i + 4], ' ') <> ''
      |)
      |SELECT c.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(COUNT(*) FILTER (WHERE b.g IS NOT NULL) AS BIGINT) AS n_hits,
      |  round(COUNT(*) FILTER (WHERE b.g IS NOT NULL)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS overlap_frac
      |FROM csh c LEFT JOIN bsh b USING (g)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Clean → pack, the end of the pretraining data path: Gopher-rule
    * survivors laid out as packed training sequences
    * ([[Packing.packSequences]] over the kept set, per-shard layout
    * summary). The oracle replays rule evaluation, the keep decision, and
    * the entire deterministic layout — so the packing demonstrably sees
    * exactly the filter's output (a row lost or gained between stages
    * shifts every downstream offset in its shard). Line dedup is not in
    * this composition because it rewrites text without changing doc
    * membership or the token-volume column — `pipe_filter_chain` pins
    * that stage's composition.
    */
  def pipeCleanPack(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // Checkpointed once: the packing reads its input twice (the layout and
    // its join-back), and each read would evaluate the rules again.
    val kept = QualityRules.survivors(linedDocs(Tables.documents(spark, dir)),
      col("text")).select(col("doc_id"), col("n_chars")).scopedCheckpoint(false)
    Packing.packSequences(kept, "doc_id", "n_chars",
      seqLen = 4096L, nShards = 4, salt = 29L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_tokens"),
        max(col("seq_last")).as("last_seq"))
      .orderBy(col("shard"))
  }

  private val pipeCleanPackSql =
    s"""WITH $linedDocsSql,
       |${gopherRuleCtes("lined")},
       |kept AS (
       |  SELECT doc_id FROM __gk WHERE quality_keep AND repetition_keep
       |), src AS (
       |  SELECT d.doc_id, d.n_chars FROM documents d JOIN kept USING (doc_id)
       |), b AS (
       |  SELECT doc_id, COALESCE(n_chars, 0) AS toks, n_chars,
       |    ${bucketSql("doc_id", 29L)} AS bkt
       |  FROM src WHERE doc_id IS NOT NULL
       |), laid AS (
       |  SELECT doc_id, toks, n_chars, CAST(bkt % 4 AS INT) AS shard,
       |    CAST(COALESCE(SUM(toks) OVER (PARTITION BY bkt % 4
       |      ORDER BY bkt, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS off
       |  FROM b
       |)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_tokens,
       |  MAX((off + greatest(toks, 1) - 1) // 4096) AS last_seq
       |FROM laid GROUP BY shard ORDER BY shard""".stripMargin

  /** Scene-cut detection over planted byte-frame "videos"
    * ([[Multimodal.frameDiffs]]/[[Multimodal.sceneCuts]]): three
    * 64-byte payloads with known frame contents — a two-scene clip (one
    * cut), a constant clip (none), and a three-scene clip (two cuts,
    * one of them a maximal 16×255 jump). Every inter-frame distance and
    * cut verdict is hand-derived in the oracle from the fixture
    * DEFINITIONS; frame 0's NULL (no predecessor) is pinned too.
    */
  def mmSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def clip(bs: Array[Byte]*): Array[Byte] = bs.reduce(_ ++ _)
    def run(b: Int, n: Int) = Array.fill(n)(b.toByte)
    val media = Seq[(Long, Array[Byte])](
      (1L, clip(run(0x10, 32), run(0x80, 32))),
      (2L, run(0x40, 64)),
      (3L, clip(run(0x00, 16), run(0xFF, 16), run(0x00, 32))))
      .toDF("media_id", "media")
    Multimodal.frameDiffs(media, n = 4)
      .withColumn("is_cut", coalesce(col("diff") > 100L, lit(false)))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  private val mmSceneCutsSql =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 0, CAST(NULL AS BIGINT), FALSE),
      |  (CAST(1 AS BIGINT), 1, CAST(0 AS BIGINT), FALSE),
      |  (CAST(1 AS BIGINT), 2, CAST(1792 AS BIGINT), TRUE),
      |  (CAST(1 AS BIGINT), 3, CAST(0 AS BIGINT), FALSE),
      |  (CAST(2 AS BIGINT), 0, CAST(NULL AS BIGINT), FALSE),
      |  (CAST(2 AS BIGINT), 1, CAST(0 AS BIGINT), FALSE),
      |  (CAST(2 AS BIGINT), 2, CAST(0 AS BIGINT), FALSE),
      |  (CAST(2 AS BIGINT), 3, CAST(0 AS BIGINT), FALSE),
      |  (CAST(3 AS BIGINT), 0, CAST(NULL AS BIGINT), FALSE),
      |  (CAST(3 AS BIGINT), 1, CAST(4080 AS BIGINT), TRUE),
      |  (CAST(3 AS BIGINT), 2, CAST(4080 AS BIGINT), TRUE),
      |  (CAST(3 AS BIGINT), 3, CAST(0 AS BIGINT), FALSE)
      |) AS t(media_id, frame_idx, diff, is_cut)
      |ORDER BY media_id, frame_idx""".stripMargin

  private def audioFixtures(spark: SparkSession) = {
    import spark.implicits._
    Seq[(Long, Array[Byte])](
      (1L, Multimodal.Fixtures.wavAlternating8),
      (2L, Multimodal.Fixtures.wavPcm(
        Array[Short](0, 0, 0, 1000, -2000, 3000, 0, 0))),
      (3L, Multimodal.Fixtures.wavPcm(Array.fill[Short](9)(0))),
      (4L, (0 until 16).map(_.toByte).toArray)) // not a WAV → no rows
      .toDF("media_id", "media")
  }

  /** Windowed audio statistics ([[Multimodal.audioWindows]]) over planted
    * WAVs: the alternating ±16384 fixture (full-scale energy), a
    * silence-padded clip, a 9-sample all-zero clip (SHORT tail window —
    * n_samples 1), and a non-WAV payload that must produce no rows.
    * Every window's count/peak/integer-energy is hand-derived.
    */
  def mmAudioWindows(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioWindows(spark, audioFixtures(spark), windowSamples = 4)
      .orderBy(col("media_id"), col("window_idx"))

  private val mmAudioWindowsSql =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 0, 4, 16384, CAST(1073741824 AS BIGINT)),
      |  (CAST(1 AS BIGINT), 1, 4, 16384, CAST(1073741824 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 0, 4, 1000, CAST(1000000 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 1, 4, 3000, CAST(13000000 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 0, 4, 0, CAST(0 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 1, 4, 0, CAST(0 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 2, 1, 0, CAST(0 AS BIGINT))
      |) AS t(media_id, window_idx, n_samples, peak, energy)
      |ORDER BY media_id, window_idx""".stripMargin

  /** Silence-trim plans ([[Multimodal.trimSilence]], threshold 500) over
    * the same fixtures: full-scale clip keeps everything, the padded
    * clip trims 3 leading + 2 trailing, the all-zero clip trims all 9
    * with NULL loud bounds, the non-WAV payload yields no row.
    */
  def mmAudioTrim(spark: SparkSession, dir: String): DataFrame =
    Multimodal.trimSilence(spark, audioFixtures(spark), threshold = 500)
      .orderBy(col("media_id"))

  private val mmAudioTrimSql =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 8, 0, 7, 0),
      |  (CAST(2 AS BIGINT), 8, 3, 5, 5),
      |  (CAST(3 AS BIGINT), 9, CAST(NULL AS INT), CAST(NULL AS INT), 9)
      |) AS t(media_id, n_samples, first_loud, last_loud, n_trimmed)
      |ORDER BY media_id""".stripMargin

  // ------------------------------------------------- retrieval/selection
  /** BM25 top-k retrieval ([[graft.text.Bm25.search]]) for three fixed
    * keyword queries over the corpus — the targeted-curation primitive
    * (topic pulls, hard-negative mining, corpus audits). k1=1.5, b=0.75:
    * both exact binary doubles, so k1+1, 1−b and every derived constant
    * fold to the same IEEE value on both engines; per-(term,doc)
    * contributions quantize to micro-units before the per-doc integer
    * sum (the [[graft.text.UnigramLm]] discipline). The oracle replays
    * tokenization, document frequencies, corpus scalars, the exact BM25
    * expression (same operation order), quantization, and the top-10
    * cut with its doc_id tie-break.
    */
  def txtBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq((1L, "spark window sort"), (2L, "hash join merge batch"),
      (3L, "customer stream query zzqzzq")).toDF("query_id", "qtext")
    Bm25.search(Tables.documents(spark, dir), "doc_id", "text",
      qs, "query_id", "qtext", k = 10, k1 = 1.5, b = 0.75)
      .orderBy(col("query_id"), col("rank"))
  }

  /** BM25 oracle CTE block through `ranked` (query_id, doc_id, s, rank)
    * — shared by the retrieval gate and the hard-negative composition so
    * both replay the identical model (the NB-block precedent). A def, not
    * a val: the consuming SQL vals sit at different points of the object
    * body, and a val would read as null from any earlier initializer.
    */
  private def bm25RankedCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
      |    FROM documents WHERE text IS NOT NULL
      |  ) WHERE t <> ''
      |), pairs AS (
      |  SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t
      |), lens AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM pairs GROUP BY doc_id
      |), scal AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len) AS BIGINT) AS tl
      |  FROM lens
      |), q(query_id, qtext) AS (VALUES
      |  (1, 'spark window sort'), (2, 'hash join merge batch'),
      |  (3, 'customer stream query zzqzzq')
      |), qt AS (
      |  SELECT DISTINCT query_id, t FROM (
      |    SELECT query_id,
      |      unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS t
      |    FROM q
      |  ) WHERE t <> ''
      |), dfs AS (
      |  SELECT p.t, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM pairs p JOIN (SELECT DISTINCT t FROM qt) USING (t)
      |  GROUP BY p.t
      |), scored AS (
      |  SELECT qt.query_id, m.doc_id,
      |    CAST(SUM(CAST(round(
      |      ln(1.0 + ((CAST(s.n AS DOUBLE) - d.df) + 0.5) / (d.df + 0.5)) *
      |      ((m.tf * 2.5) /
      |       (m.tf + 1.5 * (0.25 + (0.75 * l.len) /
      |          (CAST(s.tl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1000000.0
      |    ) AS BIGINT)) AS BIGINT) AS s
      |  FROM pairs m
      |  JOIN qt ON m.t = qt.t
      |  JOIN dfs d ON m.t = d.t
      |  JOIN lens l ON m.doc_id = l.doc_id
      |  CROSS JOIN scal s
      |  GROUP BY qt.query_id, m.doc_id
      |), ranked AS (
      |  SELECT query_id, doc_id, s,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY s DESC, doc_id ASC) AS rank
      |  FROM scored
      |)""".stripMargin

  private val txtBm25Sql = bm25RankedCtes +
    """
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |  s / 1000000.0 AS score, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Deterministic multinomial Naive Bayes language classifier
    * ([[graft.text.NbClassifier.trainPredict]]) — train on the corpus
    * labeled by `lang`, predict every document (the oracle-replayable
    * analog of the fastText quality/domain routers real pipelines run;
    * NB training is exact integer aggregation, so the learned weights
    * are bit-identical on every engine). vocabSize=200 exercises the
    * frequency cut; the oracle replays the count tables, the Laplace
    * smoothing, the micro-nat quantization, per-class integer sums, and
    * the argmax with its class-name tie-break.
    */
  def txtNbClassify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    NbClassifier.trainPredict(docs, docs, "doc_id", "text", "lang",
      vocabSize = 200).orderBy(col("doc_id"))
  }

  /** The NB train+score pipeline as a reusable CTE block ending in
    * `ranked` (doc_id, cls, s, r) — r = 1 is the argmax. Shared by the
    * classifier gate and the classifier-routed mixture so both replay
    * the identical model.
    */
  private def nbClassifyCtes(vocabSize: Int) =
    s"""toks AS (
      |  SELECT doc_id, lang, t FROM (
      |    SELECT doc_id, lang,
      |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      |    FROM documents WHERE text IS NOT NULL
      |  ) WHERE t <> ''
      |), classtok AS (
      |  SELECT lang AS cls, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM toks GROUP BY lang, t
      |), vocab AS (
      |  SELECT t FROM (
      |    SELECT t, SUM(c) AS tot FROM classtok GROUP BY t
      |  ) ORDER BY tot DESC, t LIMIT $vocabSize
      |), vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab
      |), classtotals AS (
      |  SELECT cls, CAST(SUM(c) AS BIGINT) AS ct FROM classtok GROUP BY cls
      |), model AS (
      |  SELECT ct.cls, v.t,
      |    CAST(round(ln(CAST(COALESCE(k.c, 0) + 1 AS DOUBLE) /
      |      CAST(ct.ct + (SELECT v FROM vn) AS DOUBLE)) * 1000000.0)
      |      AS BIGINT) AS lp
      |  FROM vocab v CROSS JOIN classtotals ct
      |  LEFT JOIN classtok k ON k.cls = ct.cls AND k.t = v.t
      |), nd AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
      |  WHERE text IS NOT NULL
      |), priors AS (
      |  SELECT lang AS cls,
      |    CAST(round(ln(CAST(COUNT(*) AS DOUBLE) /
      |      CAST((SELECT n FROM nd) AS DOUBLE)) * 1000000.0)
      |      AS BIGINT) AS prior
      |  FROM documents WHERE text IS NOT NULL GROUP BY lang
      |), docterms AS (
      |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM toks GROUP BY doc_id, t
      |), perclass AS (
      |  SELECT d.doc_id, m.cls, CAST(SUM(d.nt * m.lp) AS BIGINT) AS ts
      |  FROM docterms d JOIN model m ON d.t = m.t
      |  GROUP BY d.doc_id, m.cls
      |), scores AS (
      |  SELECT i.doc_id, p.cls, p.prior + COALESCE(pc.ts, 0) AS s
      |  FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) i
      |  CROSS JOIN priors p
      |  LEFT JOIN perclass pc ON pc.doc_id = i.doc_id AND pc.cls = p.cls
      |), ranked AS (
      |  SELECT doc_id, cls, s,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY s DESC, cls ASC) AS r
      |  FROM scores
      |)""".stripMargin

  private val txtNbClassifySql =
    s"""WITH ${nbClassifyCtes(200)}
       |SELECT doc_id, cls AS predicted, s / 1000000.0 AS score
       |FROM ranked WHERE r = 1 ORDER BY doc_id""".stripMargin

  /** Classifier-routed mixture — the composed pipeline a real curation
    * stack runs (CCNet/GPT-3 shape: classify, then sample per predicted
    * class): NB language predictions route each document into a
    * per-class keep rate (predicted-'en' downsampled to 30%, everything
    * else 90%) via the content-addressed sampler, rolled up per (actual,
    * predicted) cell — so the gate pins model REPLAY and router
    * composition and the confusion structure at once. The oracle replays
    * NB end-to-end (shared CTE block with `txt_nb_classify`), the md5
    * bucket membership, and the rollup.
    */
  def pipeClassifyMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pred = NbClassifier.trainPredict(docs, docs, "doc_id", "text",
      "lang", vocabSize = 200).select(col("doc_id"), col("predicted"))
    Sampling.mixture(docs.join(pred, Seq("doc_id")), "doc_id", "predicted",
      rates = Map("en" -> 0.3), defaultRate = 0.9, salt = 13L)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"), col("predicted"))
  }

  private val pipeClassifyMixSql =
    s"""WITH ${nbClassifyCtes(200)}
       |SELECT d.lang, k.cls AS predicted,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
       |FROM documents d JOIN ranked k ON d.doc_id = k.doc_id AND k.r = 1
       |WHERE ${bucketSql("d.doc_id", 13L)} <
       |  CASE WHEN k.cls = 'en' THEN ${Sampling.threshold(0.3)}
       |       ELSE ${Sampling.threshold(0.9)} END
       |GROUP BY d.lang, k.cls ORDER BY d.lang, k.cls""".stripMargin

  /** Target-share rebalancing ([[Sampling.rebalance]]): steer the corpus
    * to 40/20/20/10/10 language shares by downsampling only — the oracle
    * re-derives the feasible output size S = min ⌊n_c/share_c⌋, every
    * per-class rate S·share_c/n_c (operation-for-operation float
    * parity, LEAST-clamped like the operator), the bucket thresholds,
    * and the exact md5 membership. Rolled up per language with id sums
    * so membership — not just counts — is pinned.
    */
  def pipeRebalance(spark: SparkSession, dir: String): DataFrame =
    Sampling.rebalance(Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1),
      salt = 17L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))

  private val pipeRebalanceSql =
    s"""WITH shares(lang, share) AS (VALUES
       |  ('en', 0.4), ('de', 0.2), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)
       |), cnt AS (
       |  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents d JOIN shares s ON d.lang = s.lang
       |  GROUP BY d.lang
       |), sz AS (
       |  SELECT CAST(MIN(floor(n / CAST(share AS DOUBLE))) AS BIGINT) AS s
       |  FROM cnt JOIN shares USING (lang)
       |), thr AS (
       |  SELECT lang,
       |    CAST(round(LEAST((SELECT s FROM sz) * CAST(share AS DOUBLE) / n,
       |      CAST(1.0 AS DOUBLE)) * 4294967296) AS BIGINT) AS t
       |  FROM cnt JOIN shares USING (lang)
       |)
       |SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
       |FROM documents d JOIN thr ON d.lang = thr.lang
       |WHERE ${bucketSql("d.doc_id", 17L)} < thr.t
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Rolling-ingestion dedup ledger ([[Dedup.ledgerIngest]]): three
    * ingestion rounds against one persisted hash store — round 1 plants
    * in-batch exact copies (the originals must win the tie-break),
    * round 2 overlaps round 1 (the overlap must drop against the
    * LEDGER, not just within the batch), round 3 re-ingests round 2
    * verbatim (idempotence: zero survivors, zero appends). The final
    * row pins the ledger's cardinality. The oracle replays all three
    * rounds with set arithmetic over the raw texts.
    */
  def pipeDedupLedger(spark: SparkSession, dir: String): DataFrame = {
    val db = MaterializationQueries.scratchDb(spark)
    val t = s"$db.dedup_ledger"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val docs = Tables.documents(spark, dir)
    val b1 = docs.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 25)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    def round(label: String, batch: DataFrame) =
      Dedup.ledgerIngest(t, batch, Seq("text"), Seq(col("doc_id")))
        .agg(count(lit(1)).as("n_kept"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
        .select(lit(label).as("round"), col("n_kept"), col("id_sum"))
    val rounds = round("r1_fresh", b1)
      .unionByName(round("r2_overlap", b2))
      .unionByName(round("r3_replay", b2))
    val ledger = spark.table(t)
      .agg(count(lit(1)).as("n_kept"), lit(0L).as("id_sum"))
      .select(lit("z_ledger").as("round"), col("n_kept"), col("id_sum"))
    rounds.unionByName(ledger).orderBy(col("round"))
  }

  private val pipeDedupLedgerSql =
    """WITH b1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 200
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
      |), s1 AS (
      |  SELECT MIN(doc_id) AS doc_id, text FROM b1 GROUP BY text
      |), b2 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id >= 100 AND doc_id < 300
      |), s2 AS (
      |  SELECT MIN(doc_id) AS doc_id, text FROM b2
      |  WHERE text NOT IN (SELECT text FROM s1) GROUP BY text
      |)
      |SELECT * FROM (
      |  SELECT 'r1_fresh' AS round, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_sum
      |  FROM s1
      |  UNION ALL
      |  SELECT 'r2_overlap', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
      |  FROM s2
      |  UNION ALL
      |  SELECT 'r3_replay', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT 'z_ledger',
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)
      |      + (SELECT CAST(COUNT(*) AS BIGINT) FROM s2),
      |    CAST(0 AS BIGINT)
      |) ORDER BY round""".stripMargin

  /** Three-stage curation composition over this session's operators:
    * (1) unigram-LM quality scores, (2) the per-language discrete-median
    * cut (the CCNet-shape quality screen — by construction every
    * language keeps at least half its documents, so the next stage's
    * shares stay feasible at EVERY scale; a classifier-agreement screen
    * tried here first can legitimately empty a class on this corpus —
    * its languages share one 31-token vocabulary, so language identity
    * is frequency-only), then (3) target-share rebalancing of the
    * SURVIVORS — the rate derivation runs over the filtered corpus, so
    * stage order is pinned: deriving from the raw corpus would keep a
    * different set. The oracle replays scores, medians, the survivor
    * set, the post-filter share arithmetic, and the md5 membership
    * end-to-end through the shared LM CTE block.
    */
  def pipeCurationV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = graft.text.UnigramLm
      .scoreDocs(docs, "doc_id", "text", vocabSize = 50, oovDiscount = 0.5)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .scopedCheckpoint(false) // median + filter + rate derivation
    val med = graft.operators.Quantiles
      .groupQuantiles(scored, "lang", "avg_logprob", "doc_id",
        Seq(("p50", 1, 2)))
      .select(col("lang"), col("p50"))
    val survivors = scored.join(med, Seq("lang"))
      .filter(col("avg_logprob") >= col("p50"))
      .select(col("doc_id"), col("lang"))
      .scopedCheckpoint(false) // rebalance counts + membership filter
    Sampling.rebalance(survivors, "doc_id", "lang",
      Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1),
      salt = 23L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  private val pipeCurationV2Sql =
    s"""WITH $unigramScoreCtes,
       |scored AS (
       |  SELECT s.doc_id, s.avg_logprob, d.lang
       |  FROM lm_scores s JOIN documents d USING (doc_id)
       |), rankedq AS (
       |  SELECT lang, doc_id, avg_logprob,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY avg_logprob ASC, doc_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM scored
       |), med AS (
       |  SELECT lang, MAX(CASE WHEN rn = (n - 1) // 2 + 1
       |                        THEN avg_logprob END) AS p50
       |  FROM rankedq GROUP BY lang
       |), survivors AS (
       |  SELECT s.doc_id, s.lang FROM scored s JOIN med USING (lang)
       |  WHERE s.avg_logprob >= med.p50
       |), shares(lang, share) AS (VALUES
       |  ('en', 0.4), ('de', 0.2), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)
       |), lcnt AS (
       |  SELECT a.lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM survivors a JOIN shares s ON a.lang = s.lang
       |  GROUP BY a.lang
       |), lsz AS (
       |  SELECT CAST(MIN(floor(n / CAST(share AS DOUBLE))) AS BIGINT) AS s
       |  FROM lcnt JOIN shares USING (lang)
       |), lthr AS (
       |  SELECT lang,
       |    CAST(round(LEAST((SELECT s FROM lsz) * CAST(share AS DOUBLE) / n,
       |      CAST(1.0 AS DOUBLE)) * 4294967296) AS BIGINT) AS t
       |  FROM lcnt JOIN shares USING (lang)
       |)
       |SELECT a.lang, COUNT(*) AS n_kept,
       |  CAST(SUM(a.doc_id) AS BIGINT) AS id_sum
       |FROM survivors a JOIN lthr ON a.lang = lthr.lang
       |WHERE ${bucketSql("a.doc_id", 23L)} < lthr.t
       |GROUP BY a.lang ORDER BY a.lang""".stripMargin

  /** DSIR importance resampling ([[graft.text.Dsir.resample]]): target =
    * the `src0` documents, raw = everything else; Gumbel-top-50 by
    * micro-exact log importance weight with content-addressed noise
    * (md5-bucket uniform, the samplers' portability primitive). The
    * oracle replays both smoothed distributions over the target-top-40
    * vocabulary, the per-doc integer weight sums, the exact Gumbel
    * micro-quantization, and the top-k cut.
    */
  def pipeDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dsir.resample(docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", k = 50, salt = 11L, vocabSize = 40)
  }

  private val pipeDsirSql =
    s"""WITH ttoks AS (
       |  SELECT t FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |    FROM documents WHERE source = 'src0' AND text IS NOT NULL
       |  ) WHERE t <> ''
       |), tcnt AS (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS tc FROM ttoks GROUP BY t
       |), vocab AS (
       |  SELECT t, tc FROM tcnt ORDER BY tc DESC, t LIMIT 40
       |), vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab
       |), rtoks AS (
       |  SELECT doc_id, t FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |    FROM documents WHERE source <> 'src0' AND text IS NOT NULL
       |  ) WHERE t <> ''
       |), rcnt AS (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS rc FROM rtoks GROUP BY t
       |), ttot AS (
       |  SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS tt FROM vocab
       |), rtot AS (
       |  SELECT CAST(COALESCE(SUM(r.rc), 0) AS BIGINT) AS rt
       |  FROM vocab v LEFT JOIN rcnt r USING (t)
       |), model AS (
       |  SELECT v.t,
       |    CAST(round(ln(CAST(v.tc + 1 AS DOUBLE) /
       |        CAST((SELECT tt FROM ttot) + (SELECT v FROM vn) AS DOUBLE))
       |        * 1000000.0) AS BIGINT)
       |    - CAST(round(ln(CAST(COALESCE(r.rc, 0) + 1 AS DOUBLE) /
       |        CAST((SELECT rt FROM rtot) + (SELECT v FROM vn) AS DOUBLE))
       |        * 1000000.0) AS BIGINT) AS lr
       |  FROM vocab v LEFT JOIN rcnt r USING (t)
       |), weighted AS (
       |  SELECT n.doc_id, n.n_tokens, COALESCE(w.w, 0) AS w
       |  FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
       |        FROM rtoks GROUP BY doc_id) n
       |  LEFT JOIN (SELECT r.doc_id, CAST(SUM(m.lr) AS BIGINT) AS w
       |             FROM rtoks r JOIN model m USING (t)
       |             GROUP BY r.doc_id) w ON n.doc_id = w.doc_id
       |), noised AS (
       |  SELECT doc_id, n_tokens, w,
       |    w + CAST(round(-ln(-ln(
       |      (${bucketSql("doc_id", 11L)} + 0.5) / 4294967296.0))
       |      * 1000000.0) AS BIGINT) AS nz
       |  FROM weighted
       |)
       |SELECT doc_id, n_tokens, w / 1000000.0 AS log_weight,
       |  nz / 1000000.0 AS noised
       |FROM noised ORDER BY nz DESC, doc_id ASC LIMIT 50""".stripMargin

  // ----------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_tokens" -> (txtTokens _),
    "txt_quality" -> (txtQuality _),
    "txt_langid" -> (txtLangId _),
    "txt_fingerprint" -> (txtFingerprint _),
    "txt_fingerprint_planted" -> (txtFingerprintPlanted _),
    "txt_tfidf" -> (txtTfidf _),
    "txt_compression" -> (txtCompression _),
    "txt_chunk" -> (txtChunk _),
    "txt_pii" -> (txtPii _),
    "txt_length_stats" -> (txtLengthStats _),
    "dd_cluster" -> (ddCluster _),
    "pipe_neardup_clusters" -> (pipeNeardupClusters _),
    "txt_normalize" -> (txtNormalize _),
    "txt_stopword_ratio" -> (txtStopwordRatio _),
    "pipe_normalize_dedup" -> (pipeNormalizeDedup _),
    "pipe_corpus_diff" -> (pipeCorpusDiff _),
    "txt_heavy_hitters" -> (txtHeavyHitters _),
    "txt_heavy_bigrams" -> (txtHeavyBigrams _),
    "stream_quality_filter" -> ((s, d) => streamQualityFilter(s, d)),
    "pipe_curriculum" -> (pipeCurriculum _),
    "pipe_hard_negatives" -> (pipeHardNegatives _),
    "pipe_epoch_plan" -> (pipeEpochPlan _),
    "mm_near_dup" -> (mmNearDup _),
    "sim_range_search" -> (simRangeSearch _),
    "sim_knn_filtered" -> (simKnnFiltered _),
    "pipe_split_leakage" -> (pipeSplitLeakage _),
    "pipe_dataset_card" -> (pipeDatasetCard _),
    "pipe_triplets" -> (pipeTriplets _),
    "pipe_cluster_best" -> (pipeClusterBest _),
    "pipe_clean_corpus" -> (pipeCleanCorpus _),
    "dd_exact" -> (ddExact _),
    "dd_minhash" -> (ddMinhash _),
    "dd_minhash_planted" -> (ddMinhashPlanted _),
    "dd_minhash_recall" -> (ddMinhashRecall _),
    "dd_simhash" -> (ddSimhash _),
    "dd_simhash_planted" -> (ddSimhashPlanted _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_embedding" -> (ddEmbedding _),
    "dd_semantic" -> (ddSemantic _),
    "sim_mean_pool" -> (simMeanPool _),
    "pipe_pooled_knn" -> (pipePooledKnn _),
    "sim_knn_brute" -> (simKnnBrute _),
    "sim_knn_lsh" -> (simKnnLsh _),
    "sim_knn_ivf" -> (simKnnIvf _),
    "sim_knn_ivf_recall" -> (simKnnIvfRecall _),
    "sim_knn_ivfpq" -> (simKnnIvfPq _),
    "sim_knn_ivfpq_recall" -> (simKnnIvfPqRecall _),
    "sim_knn_sq" -> (simKnnSq _),
    "sim_knn_sq_recall" -> (simKnnSqRecall _),
    "mm_features" -> (mmFeatures _),
    "mm_frames" -> (mmFrames _),
    "mm_decode" -> (mmDecode _),
    "mm_resize" -> (mmResize _),
    "mm_scene_cuts" -> (mmSceneCuts _),
    "mm_audio_windows" -> (mmAudioWindows _),
    "mm_audio_trim" -> (mmAudioTrim _),
    "pipe_hash_sample" -> (pipeHashSample _),
    "pipe_stratified" -> (pipeStratified _),
    "pipe_group_topk" -> (pipeGroupTopK _),
    "pipe_weighted_sample" -> (pipeWeightedSample _),
    "pipe_cross_dedup" -> (pipeCrossDedup _),
    "pipe_cross_dedup_bloom" -> (pipeCrossDedupBloom _),
    "dd_cross_neardup" -> (ddCrossNeardup _),
    "dd_cross_simhash_planted" -> (ddCrossSimhashPlanted _),
    "pipe_corpus_mix" -> (pipeCorpusMix _),
    "pipe_token_budget" -> (pipeTokenBudget _),
    "pipe_temperature_mix" -> (pipeTemperatureMix _),
    "pipe_split" -> (pipeSplit _),
    "pipe_pack" -> (pipePack _),
    "pipe_length_batches" -> (pipeLengthBatches _),
    "pipe_packed_sample" -> (pipePackedSample _),
    "txt_decontaminate" -> (txtDecontaminate _),
    "txt_repetition" -> (txtRepetition _),
    "txt_dup_spans" -> (txtDupSpans _),
    "txt_remove_spans" -> (txtRemoveSpans _),
    "txt_top_spans" -> (txtTopSpans _),
    "txt_gopher" -> (txtGopher _),
    "txt_c4" -> (txtC4 _),
    "txt_dup_lines" -> (txtDupLines _),
    "txt_line_dedup" -> (txtLineDedup _),
    "txt_intra_dedup" -> (txtIntraDedup _),
    "txt_unigram_lm" -> (txtUnigramLm _),
    "txt_bigram_lm" -> (txtBigramLm _),
    "txt_nfc" -> (txtNfc _),
    "txt_contamination_score" -> (txtContaminationScore _),
    "pipe_clean_pack" -> (pipeCleanPack _),
    "pipe_filter_chain" -> (pipeFilterChain _),
    "txt_bpe_planted" -> (txtBpePlanted _),
    "txt_bpe" -> (txtBpe _),
    "dd_cross_embedding" -> (ddCrossEmbedding _),
    "pipe_training_data" -> (pipeTrainingData _),
    "sim_bq_codes" -> (simBqCodes _),
    "sim_knn_trunc" -> (simKnnTrunc _),
    "sim_knn_trunc_recall" -> (simKnnTruncRecall _),
    "sim_knn_binary" -> (simKnnBinary _),
    "sim_knn_binary_recall" -> (simKnnBinaryRecall _),
    "txt_bm25" -> (txtBm25 _),
    "txt_nb_classify" -> (txtNbClassify _),
    "pipe_classify_mix" -> (pipeClassifyMix _),
    "pipe_rebalance" -> (pipeRebalance _),
    "pipe_dedup_ledger" -> (pipeDedupLedger _),
    "pipe_quality_cut" -> (pipeQualityCut _),
    "pipe_curation_v2" -> (pipeCurationV2 _),
    "pipe_dsir" -> (pipeDsir _))

  val oracles: Map[String, String] = Map(
    "txt_tokens" -> txtTokensSql,
    "txt_quality" -> txtQualitySql,
    "txt_langid" -> txtLangIdSql,
    "txt_pii" -> txtPiiSql,
    "txt_length_stats" -> txtLengthStatsSql,
    "txt_chunk" -> txtChunkSql,
    "dd_cluster" -> ddClusterSql,
    "pipe_neardup_clusters" -> pipeNeardupClustersSql,
    "txt_normalize" -> txtNormalizeSql,
    "txt_stopword_ratio" -> txtStopwordRatioSql,
    "pipe_normalize_dedup" -> pipeNormalizeDedupSql,
    "pipe_corpus_diff" -> pipeCorpusDiffSql,
    "txt_heavy_hitters" -> txtHeavyHittersSql,
    "txt_heavy_bigrams" -> txtHeavyBigramsSql,
    "stream_quality_filter" -> streamQualityFilterSql,
    "pipe_curriculum" -> pipeCurriculumSql,
    "pipe_hard_negatives" -> pipeHardNegativesSql,
    "pipe_epoch_plan" -> pipeEpochPlanSql,
    "mm_near_dup" -> mmNearDupSql,
    "sim_range_search" -> simRangeSearchSql,
    "sim_knn_filtered" -> simKnnFilteredSql,
    "pipe_split_leakage" -> pipeSplitLeakageSql,
    "pipe_dataset_card" -> pipeDatasetCardSql,
    "pipe_triplets" -> pipeTripletsSql,
    "pipe_cluster_best" -> pipeClusterBestSql,
    "pipe_clean_corpus" -> pipeCleanCorpusSql,
    "dd_exact" -> ddExactSql,
    "dd_minhash" -> ddMinhashSql,
    "dd_minhash_planted" -> ddMinhashPlantedSql,
    "dd_minhash_recall" -> ddMinhashRecallSql,
    "dd_simhash" -> ddSimhashSql,
    "txt_bpe" -> txtBpeSql,
    "txt_fingerprint" -> txtFingerprintSql,
    "txt_fingerprint_planted" -> txtFingerprintPlantedSql,
    "txt_tfidf" -> txtTfidfSql,
    "txt_compression" -> txtCompressionSql,
    "dd_simhash_planted" -> ddSimhashPlantedSql,
    "dd_ngram_jaccard" -> ddNgramJaccardSql,
    "dd_cross_neardup" -> ddCrossNeardupSql,
    "pipe_token_budget" -> pipeTokenBudgetSql,
    "pipe_temperature_mix" -> pipeTemperatureMixSql,
    "dd_cross_simhash_planted" -> ddCrossSimhashPlantedSql,
    "dd_embedding" -> ddEmbeddingSql,
    "dd_semantic" -> ddSemanticSql,
    "sim_mean_pool" -> simMeanPoolSql,
    "pipe_pooled_knn" -> pipePooledKnnSql,
    "sim_knn_brute" -> simKnnBruteSql,
    "sim_knn_lsh" -> simKnnLshSql,
    "sim_knn_ivf" -> simKnnIvfSql,
    "sim_knn_ivf_recall" -> simKnnIvfRecallSql,
    "sim_knn_ivfpq" -> simKnnIvfPqSql,
    "sim_knn_ivfpq_recall" -> simKnnIvfPqRecallSql,
    "sim_knn_sq" -> simKnnSqSql,
    "sim_knn_sq_recall" -> simKnnSqRecallSql,
    "mm_features" -> mmFeaturesSql,
    "mm_frames" -> mmFramesSql,
    "mm_decode" -> mmDecodeSql,
    "mm_resize" -> mmResizeSql,
    "mm_scene_cuts" -> mmSceneCutsSql,
    "mm_audio_windows" -> mmAudioWindowsSql,
    "mm_audio_trim" -> mmAudioTrimSql,
    "pipe_hash_sample" -> pipeHashSampleSql,
    "pipe_stratified" -> pipeStratifiedSql,
    "pipe_group_topk" -> pipeGroupTopKSql,
    "pipe_weighted_sample" -> pipeWeightedSampleSql,
    "pipe_cross_dedup" -> pipeCrossDedupSql,
    "pipe_cross_dedup_bloom" -> pipeCrossDedupSql,
    "pipe_corpus_mix" -> pipeCorpusMixSql,
    "pipe_split" -> pipeSplitSql,
    "pipe_pack" -> pipePackSql,
    "pipe_length_batches" -> pipeLengthBatchesSql,
    "pipe_packed_sample" -> pipePackedSampleSql,
    "txt_decontaminate" -> txtDecontaminateSql,
    "txt_repetition" -> txtRepetitionSql,
    "txt_dup_spans" -> txtDupSpansSql,
    "txt_remove_spans" -> txtRemoveSpansSql,
    "txt_top_spans" -> txtTopSpansSql,
    "txt_gopher" -> txtGopherSql,
    "txt_c4" -> txtC4Sql,
    "txt_dup_lines" -> txtDupLinesSql,
    "txt_line_dedup" -> txtLineDedupSql,
    "txt_intra_dedup" -> txtIntraDedupSql,
    "txt_unigram_lm" -> txtUnigramLmSql,
    "txt_bigram_lm" -> txtBigramLmSql,
    "txt_nfc" -> txtNfcSql,
    "txt_contamination_score" -> txtContaminationScoreSql,
    "pipe_clean_pack" -> pipeCleanPackSql,
    "pipe_filter_chain" -> pipeFilterChainSql,
    "txt_bpe_planted" -> txtBpePlantedSql,
    "dd_cross_embedding" -> ddCrossEmbeddingSql,
    "pipe_training_data" -> pipeTrainingDataSql,
    "sim_bq_codes" -> simBqCodesSql,
    "sim_knn_trunc" -> simKnnTruncSql,
    "sim_knn_trunc_recall" -> simKnnTruncRecallSql,
    "sim_knn_binary" -> simKnnBinarySql,
    "sim_knn_binary_recall" -> simKnnBinaryRecallSql,
    "txt_bm25" -> txtBm25Sql,
    "txt_nb_classify" -> txtNbClassifySql,
    "pipe_classify_mix" -> pipeClassifyMixSql,
    "pipe_rebalance" -> pipeRebalanceSql,
    "pipe_dedup_ledger" -> pipeDedupLedgerSql,
    "pipe_quality_cut" -> pipeQualityCutSql,
    "pipe_curation_v2" -> pipeCurationV2Sql,
    "pipe_dsir" -> pipeDsirSql)
}
