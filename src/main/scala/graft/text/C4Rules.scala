package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The published C4 cleaning heuristics (Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning…", §2.2 — the rules behind the C4 corpus,
  * carried forward by mC4 / FineWeb / Dolma as the line-level complement to
  * the doc-level [[QualityRules]] Gopher set):
  *
  *   - retain only lines ending in a terminal punctuation mark
  *     (`.` `!` `?` `"`),
  *   - retain only lines with at least 5 words,
  *   - drop any line containing the word "javascript" (case-insensitive) —
  *     browser-requirement boilerplate,
  *   - drop any PAGE containing "lorem ipsum" (placeholder text) or a curly
  *     brace `{` (leaked code),
  *   - drop any page whose retained lines hold fewer than 3 sentences.
  *
  * The paper's remaining two rules map to operators that already exist as
  * first-class modules here: the three-sentence-span corpus dedup is
  * [[DupSpans]] and the bad-word page blocklist is a trivial
  * `exists(tokens, _ isin list)` filter the caller supplies (the published
  * list itself is not shipped).
  *
  * Scale shape: like the Gopher rules, every signal is a scan-local
  * codegen'd expression over the row's own text — no shuffle, no UDF, no
  * state; at 100 TB the whole filter fuses into the parquet scan. Counts
  * are integers ratioed/compared in integer space so external engines (the
  * DuckDB oracle) reproduce every keep decision bit-for-bit.
  *
  * Reference scope: as with [[QualityRules]], the reference engine
  * (aws-samples/dbt-glue) delegates row-level filters to user SQL (dbt
  * tests); this module supplies the standard published rule set so a
  * pipeline does not hand-write them per model.
  */
object C4Rules {

  /** Words on a line, whitespace convention shared with
    * [[QualityRules.Signals.wordCount]] (empty line counts 1 empty token —
    * it is dropped by the ≥ 5 rule either way).
    */
  val minWordsPerLine: Int = 5

  /** Minimum sentences (terminal punctuation marks over RETAINED lines)
    * for a page to survive.
    */
  val minSentences: Int = 3

  /** The C4 line verdict: terminal punctuation after trailing-space strip,
    * ≥ [[minWordsPerLine]] whitespace words, no "javascript" mention.
    */
  def lineKeep(line: Column): Column =
    rtrim(line).rlike("[.!?\"]$") &&
      size(split(trim(line), "\\s+")) >= minWordsPerLine &&
      !contains(lower(line), lit("javascript"))

  /** The retained-line array of a page. */
  def keptLines(text: Column): Column =
    filter(split(text, "\n"), lineKeep _)

  /** The cleaned page: retained lines rejoined with newline (empty string
    * when nothing survives — the caller drops such pages via
    * [[docKeep]]'s sentence rule).
    */
  def cleanText(text: Column): Column = array_join(keptLines(text), "\n")

  /** Sentence count = terminal-punctuation occurrences. The paper counted
    * sentences with a tokenizer; on a punctuation-delimited corpus the
    * mark count is the same number and stays a codegen'd regexp_count
    * instead of a model call.
    */
  def sentenceCount(text: Column): Column =
    regexp_count(text, lit("[.!?]"))

  /** The page-policy half of the verdict — placeholder text and leaked
    * code brace — shared by [[docKeep]] and [[withC4Columns]] so the
    * filter-style and profile-style APIs can never drift apart.
    */
  private def pagePolicyOk(text: Column): Column =
    !contains(lower(text), lit("lorem ipsum")) &&
      !contains(text, lit("{"))

  /** The C4 page verdict: no placeholder text, no leaked code brace, and
    * at least [[minSentences]] sentences among the RETAINED lines (the
    * line filter runs first, as in the published pipeline).
    */
  def docKeep(text: Column): Column =
    pagePolicyOk(text) && sentenceCount(cleanText(text)) >= minSentences

  /** The C4 bad-word page rule with a CALLER-SUPPLIED blocklist (the
    * published pipeline drops any page containing a word from the "List of
    * Dirty, Naughty…" blocklist; the list itself is not shipped): true iff
    * any lowercased WORD is in `blocklist`. Words are split on
    * non-alphanumeric runs (apostrophe kept for contractions), not on
    * whitespace — the published rule matches on word boundaries, and a
    * whitespace split would leave line-final words glued to their
    * punctuation (`badword.`) and systematically miss them. The probe is
    * an `array_contains` per blocked word over ONE bound word array (the
    * [[graft.functions.GraftFunctions.bindArray]] idiom — without the
    * binding, Catalyst re-splits per word), so a few-hundred-word list
    * stays a scan-local codegen'd conjunction. For a list of thousands,
    * prefer joining an exploded word table against a broadcast blocklist
    * — same answer, one hash probe per word.
    */
  def blocklistHit(text: Column, blocklist: Seq[String]): Column =
    if (blocklist.isEmpty) lit(false)
    else graft.functions.GraftFunctions
      .bindArray(split(lower(text), "[^a-z0-9']+")) { words =>
        // Locale.ROOT: the default-locale toLowerCase diverges from
        // Spark's locale-independent lower() (Turkish dotless-ı would
        // silently un-match "JAVASCRIPT").
        blocklist
          .map(w => array_contains(words, w.toLowerCase(java.util.Locale.ROOT)))
          .reduce(_ || _)
      }

  /** All C4 signals + the verdict as columns (profile-then-filter, the
    * [[QualityRules.withRuleColumns]] convention): `n_lines`,
    * `n_kept_lines`, `clean_text`, `n_sentences`, `c4_keep`.
    */
  def withC4Columns(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_lines", size(split(t, "\n")))
      .withColumn("n_kept_lines", size(keptLines(t)))
      .withColumn("clean_text", cleanText(t))
      .withColumn("n_sentences", sentenceCount(col("clean_text")))
      .withColumn("c4_keep",
        pagePolicyOk(t) && col("n_sentences") >= minSentences)
  }
}
