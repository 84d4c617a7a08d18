package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting. Every scorer is
  * scan-local with no shuffle — at 100 TB these are pure map stages that
  * pipeline with the parquet scan.
  *
  * The count-based scorers ([[tokenCount]], [[qualityScore]],
  * [[stopwordRatio]], [[langHits]], [[langId]]) are plain Column arithmetic
  * over ONE codegen'd kernel call per row ([[graft.functions.TextCounts]]):
  * each builds the same expression over the same word lists, so
  * subexpression elimination scans a document once however many of them a
  * projection reads (a frame that filters on them binds the counts with
  * [[withCounts]] instead). Counting through a token array would not share:
  * a `filter` lambda over it is interpreted (`CodegenFallback`) and hides
  * the array from subexpression elimination, so every scorer would split
  * the text again. The other operators here are codegen'd built-ins or
  * custom expressions. The custom ones resolve through the session
  * registry: call [[graft.functions.GraftFunctions.register]] before
  * building a frame.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** One row's [[graft.functions.TextCounts]] over word lists `lists`:
    * `value` is either the kernel call on a text ([[counts]]) or a column
    * already holding it ([[withCounts]]). The scorers below are arithmetic
    * over these fields.
    */
  final case class Counts(value: Column, lists: Seq[Seq[String]] = wordLists) {
    def tokens: Column = value.getItem(0)
    def chars: Column = value.getItem(1)
    /** Code points outside `[a-zA-Z0-9\s]`. */
    def punct: Column = value.getItem(2)
    /** Whitespace tokens equal to a word of `words`, one of `lists`. */
    def hits(words: Seq[String]): Column = {
      val k = lists.indexOf(words)
      require(k >= 0, s"not a counted word list: ${words.mkString(", ")}")
      value.getItem(3 + k)
    }
  }

  /** The kernel call on `text`. With the default lists every call is the
    * same expression, so a projection runs it once per row.
    */
  def counts(text: Column, lists: Seq[Seq[String]] = wordLists): Counts =
    Counts(GraftFunctions.textCounts(text, lists), lists)

  /** `df` plus column `name` holding [[counts]] of `text`, bound once per
    * row ([[graft.functions.GraftFunctions.bindRow]]): for frames that
    * FILTER on scores, which read them as `Counts(col(name))` at one kernel
    * call per row.
    */
  def withCounts(df: DataFrame, text: Column, name: String): DataFrame =
    GraftFunctions.bindRow(df, counts(text).value, name)

  /** Whitespace token count: `size(tokens(text))`, without the array. */
  def tokenCount(text: Column): Column = counts(text).tokens

  /** BPE-ish token count: letter runs, digit runs, and single punctuation
    * marks — a cheap, deterministic proxy for subword tokenizer counts.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Gopher-style repetition metrics (one-pass codegen'd kernels — no
    * per-gram shuffle): character share of the most repeated word 2-gram,
    * and of all word 5-grams occurring more than once. Boilerplate-looped
    * text scores high on both; threshold to filter.
    */
  def topNgramCharFrac(text: Column): Column =
    GraftFunctions.topNgramFrac(tokens(text))

  def dupNgramCharFrac(text: Column): Column =
    GraftFunctions.dupNgramFrac(tokens(text))

  /** English stopword ratio among whitespace tokens. A list other than the
    * scorers' own costs a kernel call of its own.
    */
  val englishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  def stopwordRatio(text: Column, stopwords: Seq[String] = englishStopwords): Column = {
    val c = counts(text,
      if (wordLists.contains(stopwords)) wordLists else wordLists :+ stopwords)
    c.hits(stopwords).cast("double") / c.tokens
  }

  /** Heuristic quality score in [0,1] — the length / punctuation / stopword
    * ratio family of filters used by web-scale corpus cleaning. All integer
    * counts ratioed in double, so engines agree bit-for-bit.
    */
  def qualityScore(text: Column): Column = qualityScore(counts(text))
  def qualityScore(c: Counts): Column = {
    val nChars = c.chars.cast("double")
    val nTokens = c.tokens.cast("double")
    val nPunct = c.punct.cast("double")
    val meanTokLen = (nChars - (nTokens - 1)) / nTokens // chars sans separators
    val lenScore = least(nTokens / lit(100.0), lit(1.0))
    val punctPenalty = least(nPunct / nChars * 5.0, lit(1.0))
    val tokLenScore = when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    (lenScore * 0.5 + tokLenScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2)
  }

  /** Stopword-profile language ID. Scores each candidate language by its
    * stopword hits over whitespace tokens; ties break to the lexically
    * smallest language code. Deterministic and SQL-expressible (so the
    * DuckDB oracle can replay it); a production system would add char
    * n-gram profiles, but the operator shape — per-row scoring, no shuffle —
    * is the same.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "of", "is", "to", "in"),
    "es" -> Seq("el", "la", "y", "es", "de", "un", "que"),
    "fr" -> Seq("le", "la", "et", "est", "un", "que", "les"))

  def langHits(text: Column, lang: String): Column = langHits(counts(text), lang)
  def langHits(c: Counts, lang: String): Column = c.hits(stopwordProfiles(lang))

  def langId(text: Column): Column = langId(counts(text))
  def langId(c: Counts): Column = {
    val hs = langCodes.map(langHits(c, _))
    val best = greatest(hs: _*)
    // Null text ties every profile (all hits null), so the tie rule gives
    // it the smallest code, not null.
    langCodes.zip(hs).tail.init
      .foldLeft(when(c.value.isNull || hs.head === best, langCodes.head)) {
        case (w, (code, h)) => w.when(h === best, code)
      }
      .otherwise(langCodes.last)
  }

  private val langCodes: Seq[String] = stopwordProfiles.keys.toSeq.sorted

  /** The scorers' word lists, in a fixed order. */
  private val wordLists: Seq[Seq[String]] =
    englishStopwords +: langCodes.map(stopwordProfiles)

  /** Rolling-hash document fingerprint (custom codegen'd expression). */
  def fingerprint(text: Column): Column = GraftFunctions.fingerprint(text)

  /** Deflate compression ratio (compressed/raw bytes) — the Gopher-style
    * entropy quality signal: looped boilerplate compresses far below
    * natural prose, noise barely compresses. Codegen'd JVM kernel with a
    * per-thread zlib state; scan-local like every other scorer here.
    */
  def compressionRatio(text: Column): Column = GraftFunctions.deflateRatio(text)

  /** Fixed-size token windows with overlap — the standard context-length
    * chunking step of a training-data pipeline (long documents become
    * several training sequences; the overlap preserves cross-boundary
    * context). Returns an array of chunk strings, scan-local (one explode
    * downstream, no shuffle).
    *
    * Window i starts at token 1 + i·(maxTokens − overlap) and takes
    * `maxTokens` tokens; starts run while ≤ max(n − overlap, 1), which
    * covers every token, always emits ≥ 1 chunk, and never emits a tail
    * window wholly contained in its predecessor. A doc whose trimmed text
    * is empty yields one empty chunk (`split` semantics, same tokenizer as
    * [[tokens]]).
    */
  def chunkTokens(text: Column, maxTokens: Int, overlap: Int): Column = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val step = maxTokens - overlap
    // Token array bound as a lambda variable so the per-window lambda reads
    // a bound buffer instead of re-running the tokenizer per window — the
    // O(tokens²) pitfall documented at GraftFunctions.bindArray.
    GraftFunctions.bindArray(tokens(text)) { toks =>
      val starts =
        sequence(lit(1), greatest(size(toks) - overlap, lit(1)), lit(step))
      transform(starts, s => concat_ws(" ", slice(toks, s, lit(maxTokens))))
    }
  }

  /** URL/boilerplate normalization — the canonicalization pass that runs
    * BEFORE dedup/decontamination so trivially-different copies (casing,
    * tracking URLs, mailto noise, ragged whitespace) hash identically:
    * lowercase, URLs → `<url>`, emails → `<email>`, whitespace runs
    * collapsed to one space, trimmed. Scan-local codegen'd regexes; the
    * patterns avoid Java-only regex features so any engine (and the DuckDB
    * oracle) reproduces the same bytes.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), "https?://\\S+", "<url>"),
        "[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>"),
      "\\s+", " "))

  /** Unicode NFC normalization (canonical composition) — run BEFORE
    * [[normalize]]/dedup so decomposed and precomposed spellings of the
    * same text hash identically. Scan-local codegen'd kernel with an
    * is-normalized fast path ([[graft.functions.NfcNormalize]]).
    */
  def nfcNormalize(text: Column): Column = GraftFunctions.nfcNormalize(text)

  /** PII detection/redaction — the scrub pass a training corpus runs before
    * anything else sees the text. Heuristic regexes (that is the operator's
    * nature); patterns use only features Java regex and RE2 share, so the
    * DuckDB oracle replays them byte-for-byte. Scan-local codegen'd
    * `regexp_replace` chains — a pure map stage at any scale.
    *
    * Detection is STAGED so counts partition the text instead of
    * double-counting: emails are found on the raw text, IPs on the
    * email-redacted text (an IP can't hide in `<email>`), phones on the
    * email+IP-redacted text (otherwise an email's digit run or an IP's
    * octets would also count as a phone). [[scrubPii]] applies the same
    * three stages in the same order.
    */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  private def afterEmails(text: Column): Column =
    regexp_replace(text, emailRe, "<email>")
  private def afterIps(text: Column): Column =
    regexp_replace(afterEmails(text), ipv4Re, "<ip>")

  def piiEmails(text: Column): Column =
    size(regexp_extract_all(text, lit(emailRe), lit(0)))

  def piiIps(text: Column): Column =
    size(regexp_extract_all(afterEmails(text), lit(ipv4Re), lit(0)))

  def piiPhones(text: Column): Column =
    size(regexp_extract_all(afterIps(text), lit(phoneRe), lit(0)))

  /** Redact emails → IPs → phones (same staging as the counters). */
  def scrubPii(text: Column): Column =
    regexp_replace(afterIps(text), phoneRe, "<phone>")
}
