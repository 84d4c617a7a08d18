package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The published rule-based quality filter family for web-scale pretraining
  * corpora (the Gopher rules of Rae et al. 2021 §A1.1, carried forward by
  * MassiveText / RefinedWeb / Dolma): cheap structural signals — word
  * count, mean word length, symbol density, bullet/ellipsis line shapes,
  * alphabetic-word fraction, required-stopword presence — plus the
  * repetition pair (duplicate-line fraction by count and by character
  * mass). Documents failing any rule are boilerplate, navigation chrome,
  * machine-generated lists, or lorem-grade noise.
  *
  * Scale shape: every signal and both verdicts are plain Column arithmetic
  * over ONE codegen'd kernel call per row ([[graft.functions.GopherCounts]]),
  * a single pass over the text's bytes that counts words, lines, symbols and
  * duplicate lines without building a token or line array — no shuffle, no
  * state, a map stage fused into the parquet scan. The integer counts are
  * ratioed in double, so the DuckDB oracle reproduces every decision
  * bit-for-bit.
  *
  * Cost: a projection reading several signals of the same text runs the
  * kernel once (subexpression elimination sees the one call). A FILTER
  * does not get that elimination, so filter with [[survivors]], or bind
  * the counts with [[withSignals]] and read them as `Signals(col(name))`.
  * The kernel resolves through the session registry: call
  * [[graft.functions.GraftFunctions.register]] before building a frame.
  *
  * Reference scope: the reference engine (aws-samples/dbt-glue) delegates
  * row-level quality tests to user SQL (dbt tests — see
  * dbt/include/glue/macros/ in the reference tree); this module supplies
  * the standard published rule set as first-class columns so a pipeline
  * does not hand-write 10 regex tests per model.
  */
object QualityRules {

  /** Gopher's required-stopword list: a natural-language English document
    * contains at least [[minRequiredStopwords]] of these as whole
    * (lowercased) whitespace tokens.
    */
  val requiredStopwords: Seq[String] = graft.functions.Kernels.gopherStopwords
  val minRequiredStopwords: Int = 2

  /** The rule signals and verdicts of one row's
    * [[graft.functions.GopherCounts]]: `value` is either the kernel call on
    * a text ([[signals]]) or a column already holding it ([[withSignals]]).
    * Words are the tokens of `split(trim(text), "\\s+")` (empty text is one
    * empty word — the contract shared with [[TextAnalysis.tokens]] and the
    * oracle); lines are those of `split(text, "\n")`.
    */
  final case class Signals(value: Column) {
    private def count(i: Int): Column = value.getItem(i)
    private def ratio(num: Column, den: Column): Column = num.cast("double") / den
    private def words: Column = count(0)
    private def lines: Column = count(4)
    private def nonBlankLines: Column = count(9)

    /** Whitespace word count. */
    def wordCount: Column = words

    /** Mean characters per word. */
    def meanWordLength: Column = ratio(count(1), words)

    /** (`#` occurrences + non-overlapping `...` occurrences) / words — the
      * Gopher symbol-to-word ratio; markup soup and truncation chains score
      * high.
      */
    def symbolToWordRatio: Column = ratio(count(2) + count(3), words)

    /** Fraction of lines starting with a bullet glyph (`-`, `*`, `•`) after
      * leading-space strip.
      */
    def bulletLineFrac: Column = ratio(count(5), lines)

    /** Fraction of lines ending with an ellipsis (`...` or `…`) after
      * trailing-space strip.
      */
    def ellipsisLineFrac: Column = ratio(count(6), lines)

    /** Fraction of words containing at least one ASCII letter. */
    def alphaWordFrac: Column = ratio(count(7), words)

    /** How many of [[requiredStopwords]] appear as a lowercased word. Null
      * text has none (0, as the oracle's `CASE WHEN list_contains` gives).
      */
    def requiredStopwordHits: Column = coalesce(count(8), lit(0))

    /** Fraction of NON-BLANK lines that are duplicates of another line in
      * the doc, excess-occurrence convention: the first occurrence is the
      * original, every later occurrence is a duplicate — (n − distinct) / n.
      * Blank-after-trim lines are structural paragraph separators, exempt
      * from both sides of the ratio (the [[LineDedup]] contract) — a
      * well-formed multi-paragraph doc repeats its blank separator many
      * times without being repetitious. Docs with no non-blank lines
      * score 0.
      */
    def dupLineFrac: Column =
      when(nonBlankLines === 0, lit(0.0))
        .otherwise(ratio(nonBlankLines - count(10), nonBlankLines))

    /** Fraction of CHARACTERS sitting in duplicate lines — the mass-weighted
      * twin of [[dupLineFrac]] (one giant duplicated block among many short
      * unique lines passes the count rule but not this one), same
      * excess-occurrence convention and the same blank exemption. Docs with
      * zero non-blank characters score 0.
      */
    def dupLineCharFrac: Column =
      when(count(12) === 0, lit(0.0)).otherwise(ratio(count(11), count(12)))

    /** The Gopher quality verdict: keep iff every structural rule passes.
      * Thresholds are the published ones (50 ≤ words ≤ 100000, 3 ≤ mean
      * word length ≤ 10, symbol ratio ≤ 0.1, ≤ 90% bullet lines, ≤ 30%
      * ellipsis lines, > 80% alphabetic words, ≥ 2 required stopwords).
      */
    def qualityKeep: Column =
      wordCount.between(50, 100000) &&
        meanWordLength.between(3.0, 10.0) &&
        symbolToWordRatio <= 0.1 &&
        bulletLineFrac <= 0.9 &&
        ellipsisLineFrac <= 0.3 &&
        alphaWordFrac > 0.8 &&
        requiredStopwordHits >= minRequiredStopwords

    /** The Gopher repetition verdict over line structure (the n-gram half
      * of the repetition rules lives in [[TextAnalysis.topNgramCharFrac]] /
      * [[TextAnalysis.dupNgramCharFrac]]): ≤ 30% duplicate lines by count
      * and ≤ 20% by character mass.
      */
    def repetitionKeep: Column = dupLineFrac <= 0.3 && dupLineCharFrac <= 0.2
  }

  /** The kernel call on `text`; every call is the same expression, so a
    * projection runs it once per row.
    */
  def signals(text: Column): Signals = Signals(GraftFunctions.gopherCounts(text))

  def gopherQualityKeep(text: Column): Column = signals(text).qualityKeep
  def gopherRepetitionKeep(text: Column): Column = signals(text).repetitionKeep

  /** `df` plus column `name` holding the [[signals]] counts of `text`,
    * bound once per row ([[GraftFunctions.bindRow]]) — for frames that
    * FILTER on signals, which read them as `Signals(col(name))`.
    */
  def withSignals(df: DataFrame, text: Column, name: String): DataFrame =
    GraftFunctions.bindRow(df, GraftFunctions.gopherCounts(text), name)

  /** The rows of `df` whose `text` passes both verdicts, at one kernel call
    * per row.
    */
  def survivors(df: DataFrame, text: Column): DataFrame = {
    val s = Signals(col("__gopher"))
    withSignals(df, text, "__gopher")
      .filter(s.qualityKeep && s.repetitionKeep)
      .drop("__gopher")
  }

  /** All rule signals + verdicts as columns (the profile a pipeline logs
    * before deciding thresholds; filtering is `.filter(col("keep"))`).
    */
  def withRuleColumns(df: DataFrame, textCol: String): DataFrame = {
    val s = signals(col(textCol))
    df.withColumn("n_words", s.wordCount)
      .withColumn("mean_word_len", s.meanWordLength)
      .withColumn("symbol_ratio", s.symbolToWordRatio)
      .withColumn("bullet_frac", s.bulletLineFrac)
      .withColumn("ellipsis_frac", s.ellipsisLineFrac)
      .withColumn("alpha_frac", s.alphaWordFrac)
      .withColumn("stopword_hits", s.requiredStopwordHits)
      .withColumn("dup_line_frac", s.dupLineFrac)
      .withColumn("dup_line_char_frac", s.dupLineCharFrac)
      .withColumn("quality_keep", s.qualityKeep)
      .withColumn("repetition_keep", s.repetitionKeep)
  }
}
