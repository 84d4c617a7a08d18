package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Plan-time word lists for [[Kernels.textCounts]]: every distinct word of
  * the lists, with a bitmask of the lists that hold it, in an
  * open-addressing table keyed by the same `31·h + byte` hash the kernel
  * folds while it scans a token. A probe allocates nothing. At most 32
  * lists.
  */
final class WordLists(lists: Seq[Seq[String]]) extends Serializable {
  require(lists.size <= 32, s"at most 32 word lists, got ${lists.size}")
  val numLists: Int = lists.size

  private val (words, masks) = {
    val byWord = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for ((ws, k) <- lists.zipWithIndex; w <- ws)
      byWord(w) = byWord.getOrElse(w, 0) | (1 << k)
    (byWord.keys.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray,
      byWord.values.toArray)
  }
  private val maxLen = if (words.isEmpty) -1 else words.map(_.length).max
  private val slotMask = Integer.highestOneBit(math.max(words.length, 1) * 4) - 1
  private val slots: Array[Int] = {
    val t = new Array[Int](slotMask + 1) // word index + 1; 0 = empty
    for (w <- words.indices) {
      var slot = WordLists.slot(WordLists.hash(words(w)), slotMask)
      while (t(slot) != 0) slot = (slot + 1) & slotMask
      t(slot) = w + 1
    }
    t
  }

  /** Add one to `out(3 + k)` for every list k holding the `len` bytes at
    * (`base`, `off`), whose hash is `h`.
    */
  def countHits(base: AnyRef, off: Long, len: Int, h: Int, out: Array[Int]): Unit =
    if (len <= maxLen) {
      var slot = WordLists.slot(h, slotMask)
      var w = slots(slot)
      while (w != 0) {
        val word = words(w - 1)
        if (word.length == len && org.apache.spark.unsafe.array.ByteArrayMethods
            .arrayEquals(base, off, word, Platform.BYTE_ARRAY_OFFSET, len)) {
          var m = masks(w - 1)
          while (m != 0) {
            out(3 + Integer.numberOfTrailingZeros(m)) += 1
            m &= m - 1
          }
          return
        }
        slot = (slot + 1) & slotMask
        w = slots(slot)
      }
    }
}

object WordLists {
  private def hash(bytes: Array[Byte]): Int = bytes.foldLeft(0)((h, b) => 31 * h + b)
  private[functions] def slot(h: Int, mask: Int): Int = {
    val x = h * 0x9e3779b9
    (x ^ (x >>> 16)) & mask
  }
}

/** Per-task scratch for [[Kernels.gopherCounts]]: the set of one
  * document's distinct lines, each held as (offset, length, hash) into the
  * document's bytes, in an open-addressing table. [[reset]] empties it by
  * bumping a generation stamp, so once the table has grown to the task's
  * longest document a row allocates nothing. One instance per task: not
  * thread-safe.
  */
final class LineSet {
  private var offs = new Array[Int](64)
  private var lens = new Array[Int](64)
  private var hashes = new Array[Int](64)
  private var gens = new Array[Int](64) // a slot is in use iff gens(slot) == gen
  private var gen = 0
  private var size = 0

  def reset(): Unit = {
    if (gen == Int.MaxValue) {
      java.util.Arrays.fill(gens, 0)
      gen = 0
    }
    gen += 1
    size = 0
  }

  /** Add the `len` bytes at `base`/`baseOff` + `off`, whose hash is `h`.
    * False when an equal line is already in the set.
    */
  def add(base: AnyRef, baseOff: Long, off: Int, len: Int, h: Int): Boolean = {
    if (2 * (size + 1) > gens.length) grow()
    val mask = gens.length - 1
    var slot = WordLists.slot(h, mask)
    while (gens(slot) == gen) {
      if (hashes(slot) == h && lens(slot) == len &&
          org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
            base, baseOff + offs(slot), base, baseOff + off, len))
        return false
      slot = (slot + 1) & mask
    }
    put(slot, off, len, h)
    size += 1
    true
  }

  private def put(slot: Int, off: Int, len: Int, h: Int): Unit = {
    gens(slot) = gen; offs(slot) = off; lens(slot) = len; hashes(slot) = h
  }

  private def grow(): Unit = {
    val (o, l, h, g) = (offs, lens, hashes, gens)
    offs = new Array[Int](2 * o.length)
    lens = new Array[Int](2 * o.length)
    hashes = new Array[Int](2 * o.length)
    gens = new Array[Int](2 * o.length)
    val mask = gens.length - 1
    for (i <- g.indices if g(i) == gen) {
      var slot = WordLists.slot(h(i), mask)
      while (gens(slot) == gen) slot = (slot + 1) & mask
      put(slot, o(i), l(i), h(i))
    }
  }
}

/** JVM kernels behind the custom Catalyst expressions. Top-level objects get
  * static forwarders, so generated (Janino) code can call these directly —
  * the expressions stay inside whole-stage codegen with one static call per
  * row instead of falling back to interpreted eval.
  */
object Kernels {

  /** FNV-1a 64-bit over a UTF8String's bytes — deterministic token hash. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  // ASCII classes for [[textCounts]]: the `\s` of `split(_, "\\s+")` and
  // `[a-zA-Z0-9]`, the two sets the scorers' counts are defined over.
  private final val Ws = 1
  private final val Alnum = 2
  private val asciiClass: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (" \t\n\u000b\f\r".indexOf(c) >= 0) Ws.toByte
    else if (Character.isLetterOrDigit(c)) Alnum.toByte
    else 0
  }

  /** Per-document counts behind the [[graft.text.TextAnalysis]] scorers, in
    * one pass over the UTF-8 bytes (no String, no regex, no token array):
    *   - 0: whitespace tokens, exactly `size(split(trim(s), "\\s+"))` —
    *     `trim` strips only U+0020, the delimiter is a run of
    *     `[ \t\n\x0B\f\r]`, and with limit −1 a leading or trailing run
    *     still yields an empty token, so `""` is one token;
    *   - 1: code points (`length(s)`);
    *   - 2: code points outside `[a-zA-Z0-9\s]` (`length` of the text with
    *     that class removed);
    *   - 3 + k: tokens equal byte for byte to a word of list k.
    * Counts code points as UTF-8 lead bytes, which is `length` on valid
    * UTF-8 (every string Spark builds from text).
    */
  def textCounts(s: UTF8String, lists: WordLists): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Int](3 + lists.numLists)
    var lo = 0
    while (lo < n && Platform.getByte(base, off + lo) == ' ') lo += 1
    var hi = n
    while (hi > lo && Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
    var chars = n - (hi - lo) // the trimmed spaces
    var punct = 0
    var tokens = 0
    var tokStart = lo
    var h = 0
    var inWs = false
    var i = lo
    while (i < hi) {
      val b = Platform.getByte(base, off + i)
      val cls = if (b >= 0) asciiClass(b).toInt else 0
      if ((b & 0xc0) != 0x80) {
        chars += 1
        if (cls == 0) punct += 1
      }
      if (cls == Ws) {
        if (!inWs) {
          tokens += 1
          lists.countHits(base, off + tokStart, i - tokStart, h, out)
          inWs = true
        }
      } else {
        if (inWs) { tokStart = i; h = 0; inWs = false }
        h = 31 * h + b
      }
      i += 1
    }
    // The last token: empty when the trimmed text ends in a whitespace run.
    if (inWs) { tokStart = hi; h = 0 }
    tokens += 1
    lists.countHits(base, off + tokStart, hi - tokStart, h, out)
    out(0) = tokens
    out(1) = chars
    out(2) = punct
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The Gopher rules' required stopwords, in the order of their bits in
    * [[gopherCounts]]. Lowercase ASCII letters, no `k` (see there).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  // Each stopword's bytes packed big-endian into a Long, as the kernel
  // packs a token's case-folded bytes; equal packs and lengths are equal
  // words.
  private val stopPacked: Array[Long] =
    gopherStopwords.map(_.foldLeft(0L)((p, c) => (p << 8) | c)).toArray
  private val stopLens: Array[Int] = gopherStopwords.map(_.length).toArray
  private val maxStopLen = stopLens.max

  /** Per-document counts behind the [[graft.text.QualityRules]] signals,
    * in one pass over the UTF-8 bytes (no String, no regex, no token or
    * line array). Words are the tokens of `split(trim(s), "\\s+")` (the
    * [[textCounts]] contract); lines are those of `split(s, "\n")`, which
    * with limit −1 makes k newlines k + 1 lines. Layout:
    *   - 0: words; 1: code points inside words;
    *   - 2: `#` occurrences; 3: non-overlapping `...` occurrences (a run of
    *     k dots holds k / 3);
    *   - 4: lines; 5: bullet lines, whose first code point after leading
    *     spaces is `-`, `*` or `•`; 6: ellipsis lines, ending in `...` or
    *     `…` once trailing spaces are stripped, or just before one final
    *     `\r`, U+0085, U+2028 or U+2029 (where the reference's Java regex
    *     `$` also matches);
    *   - 7: words containing an ASCII letter;
    *   - 8: how many of [[gopherStopwords]] occur as a lowercased word;
    *   - 9: non-blank lines (a byte other than U+0020: `trim` strips
    *     spaces only); 10: distinct non-blank lines; 11: code points of
    *     the non-blank lines equal to an earlier line; 12: code points of
    *     the non-blank lines.
    * Lowercasing folds ASCII only: the only code points at or above U+0080
    * whose `lower` holds an ASCII letter are U+0130 (to `i` U+0307, never
    * a whole ASCII word) and U+212A (to `k`, in no stopword), so a word
    * with a non-ASCII byte is never a stopword (pinned in GopherCountsSpec).
    * Code points are UTF-8 lead bytes, which is `length` on valid UTF-8.
    * `seen` is the caller's per-task scratch.
    */
  def gopherCounts(s: UTF8String, seen: LineSet): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var lo = 0
    while (lo < n && Platform.getByte(base, off + lo) == ' ') lo += 1
    var hi = n
    while (hi > lo && Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
    var words, wordChars, alphaWords, stopMask = 0
    var inWs = false
    var tokLen = 0
    var tokAlpha = false
    var tokAscii = true
    var tokPacked = 0L
    var hashes, ellipses, dots = 0
    var lines, bullets, ellipsisLines, nonBlank, distinct, dupChars, nbChars = 0
    var lineStart = 0
    var lineHash = 0
    var lineChars = 0
    var blank = true
    seen.reset()
    var i = 0
    // i == n closes the last line as a newline would.
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) else '\n'.toByte
      val lead = (b & 0xc0) != 0x80
      if (b == '\n') {
        lines += 1
        if (isBullet(base, off, lineStart, i)) bullets += 1
        if (endsInEllipsis(base, off, lineStart, i)) ellipsisLines += 1
        if (!blank) {
          nonBlank += 1
          nbChars += lineChars
          if (seen.add(base, off, lineStart, i - lineStart, lineHash)) distinct += 1
          else dupChars += lineChars
        }
        lineStart = i + 1
        lineHash = 0
        lineChars = 0
        blank = true
      } else {
        lineHash = 31 * lineHash + b
        if (lead) lineChars += 1
        if (b != ' ') blank = false
      }
      if (b == '#') hashes += 1
      if (b == '.') {
        dots += 1
        if (dots == 3) { ellipses += 1; dots = 0 }
      } else dots = 0
      if (i >= lo && i < hi) {
        if (b == ' ' || (b >= '\t' && b <= '\r')) { // the `\s` of the split
          if (!inWs) {
            words += 1
            if (tokAlpha) alphaWords += 1
            if (tokAscii && tokLen <= maxStopLen) stopMask |= stopBit(tokPacked, tokLen)
            inWs = true
          }
        } else {
          if (inWs) {
            tokLen = 0; tokAlpha = false; tokAscii = true; tokPacked = 0L
            inWs = false
          }
          if (lead) wordChars += 1
          tokLen += 1
          if (b < 0) tokAscii = false
          else {
            val c = if (b >= 'A' && b <= 'Z') b + 32 else b.toInt
            if (c >= 'a' && c <= 'z') tokAlpha = true
            tokPacked = (tokPacked << 8) | c
          }
        }
      }
      i += 1
    }
    // The last word: empty when the trimmed text ends in a whitespace run.
    words += 1
    if (!inWs) {
      if (tokAlpha) alphaWords += 1
      if (tokAscii && tokLen <= maxStopLen) stopMask |= stopBit(tokPacked, tokLen)
    }
    UnsafeArrayData.fromPrimitiveArray(Array(words, wordChars, hashes,
      ellipses, lines, bullets, ellipsisLines, alphaWords,
      Integer.bitCount(stopMask), nonBlank, distinct, dupChars, nbChars))
  }

  private def stopBit(packed: Long, len: Int): Int = {
    var k = 0
    while (k < stopPacked.length) {
      if (stopLens(k) == len && stopPacked(k) == packed) return 1 << k
      k += 1
    }
    0
  }

  // UTF-8 of `•` U+2022 and `…` U+2026.
  private final val E2 = 0xe2.toByte
  private final val X80 = 0x80.toByte

  /** `ltrim(line).rlike("^[-*•]")` over bytes [`from`, `to`). */
  private def isBullet(base: AnyRef, off: Long, from: Int, to: Int): Boolean = {
    var p = from
    while (p < to && Platform.getByte(base, off + p) == ' ') p += 1
    p < to && {
      val b = Platform.getByte(base, off + p)
      b == '-' || b == '*' || (b == E2 && p + 3 <= to &&
        Platform.getByte(base, off + p + 1) == X80 &&
        Platform.getByte(base, off + p + 2) == 0xa2.toByte)
    }
  }

  /** `rtrim(line).rlike("(\\.\\.\\.|…)$")` over bytes [`from`, `to`):
    * Java's `$` matches at the end and before one final line terminator.
    */
  private def endsInEllipsis(base: AnyRef, off: Long, from: Int, to: Int): Boolean = {
    var q = to
    while (q > from && Platform.getByte(base, off + q - 1) == ' ') q -= 1
    val t = terminatorLen(base, off, from, q)
    endsWithEllipsis(base, off, from, q) ||
      (t > 0 && endsWithEllipsis(base, off, from, q - t))
  }

  /** Byte length of the line terminator `\r`, U+0085, U+2028 or U+2029
    * ending bytes [`from`, `to`), or 0.
    */
  private def terminatorLen(base: AnyRef, off: Long, from: Int, to: Int): Int = {
    def at(k: Int): Byte = Platform.getByte(base, off + to - k)
    if (to - from >= 1 && at(1) == '\r') 1
    else if (to - from >= 2 && at(2) == 0xc2.toByte && at(1) == 0x85.toByte) 2
    else if (to - from >= 3 && at(3) == E2 && at(2) == X80 &&
        (at(1) == 0xa8.toByte || at(1) == 0xa9.toByte)) 3
    else 0
  }

  private def endsWithEllipsis(base: AnyRef, off: Long, from: Int, to: Int): Boolean =
    to - from >= 3 && {
      val (a, b, c) = (Platform.getByte(base, off + to - 3),
        Platform.getByte(base, off + to - 2), Platform.getByte(base, off + to - 1))
      (a == '.' && b == '.' && c == '.') || (a == E2 && b == X80 && c == 0xa6.toByte)
    }

  /** SimHash-64 of a token array: per-token 64-bit hashes vote on each bit;
    * the sign of each bit's tally forms the signature. Near-identical token
    * multisets land within a small Hamming distance.
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv64(tokens.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Sum of absolute UNSIGNED byte differences over the common prefix of
    * two binary payloads, plus 255 per surplus byte of the longer one (a
    * missing byte is maximally different — without the penalty a frame
    * that truncates to nothing would measure distance 0 from anything).
    * The inter-frame distance behind scene-cut detection.
    */
  def byteDistance(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var d = 0L
    var i = 0
    while (i < n) {
      d += math.abs((a(i) & 0xff) - (b(i) & 0xff))
      i += 1
    }
    d + 255L * (math.max(a.length, b.length) - n)
  }

  /** Document fingerprint: minimum of rolling polynomial (Karp–Rabin) hashes
    * over byte windows of size `window`. O(n) single pass; equal prefixes/
    * suffixes of near-dup docs share window hashes, so the min is stable
    * under small edits.
    */
  def rollingMinHash(s: UTF8String, window: Int): Long = {
    val b = s.getBytes
    if (b.length == 0) return 0L
    if (b.length <= window) return fnv64(s)
    val base = 257L
    var pow = 1L // base^(window-1), wrapping arithmetic is fine (JVM longs)
    var i = 1
    while (i < window) { pow *= base; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * base + (b(i) & 0xffL); i += 1 }
    var min = mix(h)
    i = window
    while (i < b.length) {
      h = (h - (b(i - window) & 0xffL) * pow) * base + (b(i) & 0xffL)
      val m = mix(h)
      if (m < min) min = m
      i += 1
    }
    min
  }

  /** splitmix64 finalizer — decorrelates consecutive rolling hashes. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): plane p,
    * dimension j. No driver-side state to broadcast — every executor
    * recomputes the same plane from (p, j).
    */
  def planeComponent(p: Int, j: Int): Double =
    (mix(p.toLong * 100003L + j) >>> 11) * (2.0 / (1L << 53)) - 1.0

  /** Sign-random-projection LSH signature of a float vector: bit p is the
    * sign of the dot product with deterministic hyperplane p. Cosine-similar
    * vectors agree on most bits.
    */
  def signProjection(vec: ArrayData, planes: Int): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        if (!vec.isNullAt(j)) dot += vec.getFloat(j) * planeComponent(p, j)
        j += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Per-doc word-n-gram occurrence counts for the repetition metrics:
    * key = gram text, value = (occurrences, gram chars). Also returns the
    * whitespace-normalized doc length (token chars + single separators) —
    * the denominator both metrics share. One pass over the token array,
    * per-row state only: this is what keeps the repetition filters
    * scan-local instead of shuffling a gram stream per document.
    */
  private def gramCounts(tokens: ArrayData, n: Int):
      (java.util.HashMap[String, Array[Long]], Long) = {
    val m = new java.util.HashMap[String, Array[Long]]()
    val nTok = tokens.numElements()
    var docLen = 0L
    var i = 0
    while (i < nTok) {
      if (!tokens.isNullAt(i)) docLen += tokens.getUTF8String(i).numChars()
      i += 1
    }
    if (nTok > 1) docLen += nTok - 1
    val nGrams = math.max(nTok - n + 1, 1)
    i = 0
    while (i < nGrams && i < nTok) {
      val sb = new java.lang.StringBuilder()
      var chars = 0L
      var j = i
      val end = math.min(i + n, nTok)
      while (j < end) {
        if (j > i) { sb.append(' '); chars += 1 }
        if (!tokens.isNullAt(j)) {
          val t = tokens.getUTF8String(j)
          sb.append(t.toString); chars += t.numChars()
        }
        j += 1
      }
      val v = m.get(sb.toString)
      if (v == null) m.put(sb.toString, Array(1L, chars)) else v(0) += 1
      i += 1
    }
    (m, docLen)
  }

  /** Character share of the single most repeated word n-gram: max over
    * grams of occurrences × gram chars, over the normalized doc length
    * (a Gopher-style repetition rule). 0.0 for empty docs.
    */
  def topNgramCharFraction(tokens: ArrayData, n: Int): Double = {
    val (m, docLen) = gramCounts(tokens, n)
    if (docLen == 0L) return 0.0
    var best = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val v = it.next()
      val w = v(0) * v(1)
      if (w > best) best = w
    }
    best.toDouble / docLen
  }

  /** Character share of all word n-grams occurring more than once
    * (occurrences × gram chars summed over duplicated grams, over the
    * normalized doc length). Overlapping occurrences each count, so
    * heavily-looped boilerplate can exceed 1.0 — callers threshold, not
    * normalize. 0.0 for empty docs.
    */
  def dupNgramCharFraction(tokens: ArrayData, n: Int): Double = {
    val (m, docLen) = gramCounts(tokens, n)
    if (docLen == 0L) return 0.0
    var dup = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val v = it.next()
      if (v(0) >= 2L) dup += v(0) * v(1)
    }
    dup.toDouble / docLen
  }

  // One Deflater + output buffer per executor thread: Deflater wraps native
  // zlib state whose per-row allocation would dominate the kernel; reset()
  // between rows reuses it. The output buffer is only a drain — compressed
  // bytes are counted, never kept.
  private val deflaterTL = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
  }
  private val deflateBufTL = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  /** Deflate compression ratio (compressed bytes / raw bytes) of a
    * string's UTF-8 — the Gopher-style entropy signal: looped boilerplate
    * compresses far below natural prose, random noise barely compresses.
    * Deterministic for a fixed zlib level; 1.0 for the empty string.
    */
  def deflateRatio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) return 1.0
    val d = deflaterTL.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = deflateBufTL.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }

  /** Nearest-centroid assignment over FLATTENED centroids (k × dim,
    * row-major) with precomputed squared norms. The input vector is
    * L2-normalized INSIDE the kernel — folding the normalization in keeps
    * IVF corpus assignment a single static call (the `transform`/
    * `aggregate` lambda formulation of the same normalization blocks
    * whole-stage codegen for the entire scan stage) — then assignment is
    * argmax(2·(v·c)/‖v‖ − ||c||²) = argmin ||v/‖v‖ − c||², ties to the
    * lowest list id — the same ranking [[graft.similarity.Knn.searchIvf]]'s
    * probe phase uses, so corpus assignment and query probing can never
    * disagree on a boundary point. Zero vectors assign to the
    * smallest-norm centroid (any list is equally wrong for a
    * direction-free point; the choice is deterministic). Returns -1 when
    * there are no centroids. Double-array reader; [[nearestCentroidF]] is
    * the float-array twin.
    */
  def nearestCentroid(vec: ArrayData, cents: Array[Double],
      cnorm2: Array[Double]): Int = {
    val k = cnorm2.length
    if (k == 0) return -1
    val dim = cents.length / k
    val n = math.min(vec.numElements(), dim)
    var nrm2 = 0.0
    var i = 0
    while (i < n) { val x = vec.getDouble(i); nrm2 += x * x; i += 1 }
    val inv = if (nrm2 == 0.0) 0.0 else 1.0 / math.sqrt(nrm2)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val off = c * dim
      var dot = 0.0
      i = 0
      while (i < n) { dot += vec.getDouble(i) * cents(off + i); i += 1 }
      val score = 2.0 * dot * inv - cnorm2(c)
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** [[nearestCentroid]] over a float vector (same normalize-inside
    * semantics, float reader).
    */
  def nearestCentroidF(vec: ArrayData, cents: Array[Double],
      cnorm2: Array[Double]): Int = {
    val k = cnorm2.length
    if (k == 0) return -1
    val dim = cents.length / k
    val n = math.min(vec.numElements(), dim)
    var nrm2 = 0.0
    var i = 0
    while (i < n) { val x = vec.getFloat(i); nrm2 += x.toDouble * x; i += 1 }
    val inv = if (nrm2 == 0.0) 0.0 else 1.0 / math.sqrt(nrm2)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val off = c * dim
      var dot = 0.0
      i = 0
      while (i < n) { dot += vec.getFloat(i).toDouble * cents(off + i); i += 1 }
      val score = 2.0 * dot * inv - cnorm2(c)
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  // ------------------------------------------------------------------ PQ
  // Product-quantization kernels (the FAISS IVFPQ shape): a vector's
  // residual against its coarse centroid is split into m contiguous
  // subspaces, each encoded as the index of its nearest codeword in a
  // 2^nbits-entry codebook. All tables (coarse centroids, codebooks,
  // codeword norms) are PLAN-TIME constants shipped once per task via the
  // codegen reference table, so corpus encoding and ADC scoring are
  // scan-local static calls inside whole-stage codegen — the index itself
  // is (id, list_id, m bytes) per row: the raw-vector memory drops by
  // dim·4/m, which is what makes a 100 TB corpus's index RAM-resident.

  /** Shared by both element readers: normalize `vec` (length `dim`,
    * missing tail treated 0), subtract coarse centroid `listId`, and
    * nearest-codeword-encode each of the `m` subspaces. Ties break to the
    * lowest code (same rule as [[nearestCentroid]]); `listId` < 0 (no
    * centroids) encodes the normalized vector itself. Returns `m` bytes.
    */
  private def pqEncodeImpl(read: Int => Double, nVec: Int, listId: Int,
      cents: Array[Double], books: Array[Double], bnorm2: Array[Double],
      m: Int, ks: Int): Array[Byte] = {
    val codes = new Array[Byte](m)
    if (ks == 0) return codes
    val dsub = books.length / (m * ks)
    val dim = m * dsub
    val n = math.min(nVec, dim)
    var nrm2 = 0.0
    var i = 0
    while (i < n) { val x = read(i); nrm2 += x * x; i += 1 }
    val inv = if (nrm2 == 0.0) 0.0 else 1.0 / math.sqrt(nrm2)
    val coff = if (listId >= 0) listId * dim else -1
    val r = new Array[Double](dsub)
    var sub = 0
    while (sub < m) {
      val roff = sub * dsub
      var d = 0
      while (d < dsub) {
        val v = if (roff + d < n) read(roff + d) * inv else 0.0
        r(d) = if (coff >= 0) v - cents(coff + roff + d) else v
        d += 1
      }
      var best = 0
      var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < ks) {
        val boff = (sub * ks + j) * dsub
        var dot = 0.0
        d = 0
        while (d < dsub) { dot += r(d) * books(boff + d); d += 1 }
        val score = 2.0 * dot - bnorm2(sub * ks + j)
        if (score > bestScore) { bestScore = score; best = j }
        j += 1
      }
      codes(sub) = best.toByte
      sub += 1
    }
    codes
  }

  /** PQ-encode a float vector's coarse residual — see [[pqEncodeImpl]]. */
  def pqEncodeF(vec: ArrayData, listId: Int, cents: Array[Double],
      books: Array[Double], bnorm2: Array[Double], m: Int, ks: Int): Array[Byte] =
    pqEncodeImpl(i => vec.getFloat(i).toDouble, vec.numElements(), listId,
      cents, books, bnorm2, m, ks)

  /** PQ-encode a double vector's coarse residual — see [[pqEncodeImpl]]. */
  def pqEncodeD(vec: ArrayData, listId: Int, cents: Array[Double],
      books: Array[Double], bnorm2: Array[Double], m: Int, ks: Int): Array[Byte] =
    pqEncodeImpl(i => vec.getDouble(i), vec.numElements(), listId,
      cents, books, bnorm2, m, ks)

  /** The query half of asymmetric-distance computation: for normalized
    * query q, table[sub·ks + j] = q_sub · codeword[sub][j], so a candidate
    * with codes c scores q·v̂ = q·centroid + Σ_sub table[sub·ks + c_sub] —
    * the residual part is m array lookups per candidate ([[pqAdcScore]]),
    * never a dim-length dot product. O(ks·dim) once per query.
    */
  private def pqAdcTableImpl(read: Int => Double, nVec: Int,
      books: Array[Double], m: Int, ks: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val table = new Array[Double](m * ks)
    if (ks == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(table)
    val dsub = books.length / (m * ks)
    val dim = m * dsub
    val n = math.min(nVec, dim)
    var nrm2 = 0.0
    var i = 0
    while (i < n) { val x = read(i); nrm2 += x * x; i += 1 }
    val inv = if (nrm2 == 0.0) 0.0 else 1.0 / math.sqrt(nrm2)
    var sub = 0
    while (sub < m) {
      val roff = sub * dsub
      var j = 0
      while (j < ks) {
        val boff = (sub * ks + j) * dsub
        var dot = 0.0
        var d = 0
        while (d < dsub) {
          if (roff + d < n) dot += read(roff + d) * inv * books(boff + d)
          d += 1
        }
        table(sub * ks + j) = dot
        j += 1
      }
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(table)
  }

  /** ADC lookup table for a float query vector — see [[pqAdcTableImpl]]. */
  def pqAdcTableF(vec: ArrayData, books: Array[Double], m: Int, ks: Int): ArrayData =
    pqAdcTableImpl(i => vec.getFloat(i).toDouble, vec.numElements(), books, m, ks)

  /** ADC lookup table for a double query vector — see [[pqAdcTableImpl]]. */
  def pqAdcTableD(vec: ArrayData, books: Array[Double], m: Int, ks: Int): ArrayData =
    pqAdcTableImpl(i => vec.getDouble(i), vec.numElements(), books, m, ks)

  /** Residual part of the ADC score: m table lookups, one per code byte.
    * `table` is a query's [[pqAdcTableF]] output (length m·ks).
    */
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Unicode NFC normalization — canonical composition, so "e" + combining
    * acute and precomposed "é" hash identically in every downstream dedup.
    * Fast path: `Normalizer.isNormalized` is O(n) with no allocation and
    * true for virtually all real text, so the rewrite only runs on the
    * rows that need it.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Apply a trained BPE merge table ([[graft.text.Bpe]]) to one document:
    * lowercase, whitespace-split, then per word run the classic merge loop
    * — seed symbols are the word's UTF-16 chars plus a terminal `</w>`;
    * each iteration merges ALL occurrences of the best-ranked adjacent
    * pair until no pair is in the table. `ranks` maps "left right" → rank
    * (symbols never contain a space, so the key is unambiguous). Scan-
    * local; the merge table is a broadcast plan constant.
    */
  private def bpeMergeWord(w: String,
      ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    var syms = new java.util.ArrayList[String](w.length + 1)
    var ci = 0
    while (ci < w.length) { syms.add(String.valueOf(w.charAt(ci))); ci += 1 }
    syms.add("</w>")
    var done = false
    while (!done && syms.size >= 2) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.size - 1) {
        val r = ranks.get(syms.get(i) + " " + syms.get(i + 1))
        if (r != null && r < bestRank) {
          bestRank = r; bestA = syms.get(i); bestB = syms.get(i + 1)
        }
        i += 1
      }
      if (bestA == null) done = true
      else {
        val next = new java.util.ArrayList[String](syms.size)
        i = 0
        while (i < syms.size) {
          if (i < syms.size - 1 && syms.get(i) == bestA &&
              syms.get(i + 1) == bestB) {
            next.add(bestA + bestB); i += 2
          } else { next.add(syms.get(i)); i += 1 }
        }
        syms = next
      }
    }
    syms
  }

  def bpeTokens(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val words = wsPattern.split(text.toString.trim.toLowerCase)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val syms = bpeMergeWord(w, ranks)
        var si = 0
        while (si < syms.size) {
          out += UTF8String.fromString(syms.get(si)); si += 1
        }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Tokenize to VOCABULARY IDS — the training-consumable form. `ids`
    * maps symbol → id; symbols outside the vocabulary (characters unseen
    * at training time) take `unk`.
    */
  def bpeTokenIds(text: UTF8String, ranks: java.util.HashMap[String, Integer],
      ids: java.util.HashMap[String, Integer], unk: Int): ArrayData = {
    val words = wsPattern.split(text.toString.trim.toLowerCase)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val syms = bpeMergeWord(w, ranks)
        var si = 0
        while (si < syms.size) {
          val id = ids.get(syms.get(si))
          out += (if (id == null) unk else id.intValue())
          si += 1
        }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Within-document line dedup: keep the FIRST occurrence of each exact
    * line, preserve order, rejoin with newline. Blank-after-trim lines are
    * structural separators and always kept (the [[graft.text.LineDedup]]
    * contract). One hash-set pass — O(lines) per doc, scan-local.
    */
  def dedupLines(lines: ArrayData): UTF8String = {
    val n = lines.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val sb = new java.lang.StringBuilder
    var first = true
    var i = 0
    while (i < n) {
      val l = lines.getUTF8String(i)
      if (l.trim().numBytes() == 0 || seen.add(l)) {
        if (!first) sb.append('\n')
        sb.append(l.toString)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Int8 scalar quantization of a vector for cosine search: L2-normalize,
    * scale by 127, round half-even, clamp to [-127, 127]. A zero vector
    * encodes to all zeros (its cosine against anything is 0 anyway). One
    * byte per dimension — 4× narrower than float32, so a quantized corpus
    * scan moves a quarter of the bytes and the dot product runs in integer
    * arithmetic.
    */
  def sq8EncodeF(vec: ArrayData): Array[Byte] = {
    val n = vec.numElements()
    val out = new Array[Byte](n)
    var norm = 0.0
    var i = 0
    while (i < n) { val x = vec.getFloat(i).toDouble; norm += x * x; i += 1 }
    if (norm > 0.0) {
      val s = 127.0 / math.sqrt(norm)
      i = 0
      while (i < n) {
        var q = math.rint(vec.getFloat(i) * s).toInt
        if (q > 127) q = 127 else if (q < -127) q = -127
        out(i) = q.toByte
        i += 1
      }
    }
    out
  }

  def sq8EncodeD(vec: ArrayData): Array[Byte] = {
    val n = vec.numElements()
    val out = new Array[Byte](n)
    var norm = 0.0
    var i = 0
    while (i < n) { val x = vec.getDouble(i); norm += x * x; i += 1 }
    if (norm > 0.0) {
      val s = 127.0 / math.sqrt(norm)
      i = 0
      while (i < n) {
        var q = math.rint(vec.getDouble(i) * s).toInt
        if (q > 127) q = 127 else if (q < -127) q = -127
        out(i) = q.toByte
        i += 1
      }
    }
    out
  }

  /** Approximate cosine of two [[sq8EncodeF]] codes: integer dot product
    * rescaled by 127² (both inputs are unit vectors scaled to 127, so the
    * int dot is cosine·127² up to rounding). Pure int multiply-adds over
    * byte arrays — the quantized scan kernel.
    */
  def sq8Dot(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc / (127.0 * 127.0)
  }

  def pqAdcScore(codes: Array[Byte], table: ArrayData): Double = {
    val m = codes.length
    if (m == 0) return 0.0
    val ks = table.numElements() / m
    var s = 0.0
    var sub = 0
    while (sub < m) {
      s += table.getDouble(sub * ks + (codes(sub) & 0xff))
      sub += 1
    }
    s
  }

  /** Cosine similarity of two float vectors (0.0 when either norm is 0). */
  /** Rebuild a document's text with every token covered by a flagged
    * n-gram span removed. `starts` holds the 1-based token positions where
    * a duplicated n-gram begins (any order, duplicates fine); a token at
    * position t is dropped iff some start p satisfies p <= t < p + n.
    * One sorted two-pointer sweep: O(tokens + starts·log starts), no
    * per-token scan over the span list — the scan-local cost stays linear
    * even when a boilerplate-heavy doc flags most of its grams. `sep`
    * rejoins the kept elements (space for word tokens, newline when the
    * "tokens" are a document's lines — the line-dedup rewrite).
    */
  def removeSpans(tokens: ArrayData, starts: ArrayData, n: Int,
      sep: Char = ' '): UTF8String = {
    val numToks = tokens.numElements()
    val p = new Array[Long](starts.numElements())
    var i = 0
    while (i < p.length) { p(i) = starts.getLong(i); i += 1 }
    java.util.Arrays.sort(p)
    val sb = new java.lang.StringBuilder
    var pi = 0
    var coverEnd = 0L // exclusive upper bound of the active covered range
    var kept = false  // explicit flag: a kept EMPTY element (a blank line
                      // in line mode) must still earn its separator
    var t = 0
    while (t < numToks) {
      val pos = t + 1L
      while (pi < p.length && p(pi) <= pos) {
        val e = p(pi) + n
        if (e > coverEnd) coverEnd = e
        pi += 1
      }
      if (pos >= coverEnd) {
        if (kept) sb.append(sep)
        sb.append(tokens.getUTF8String(t).toString)
        kept = true
      }
      t += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // Widen BEFORE multiplying: `Float * Float` is a single-precision
      // product (relative error ~6e-8 per term) that a declarative
      // double replay can drift a 6-dp rounding boundary across; the
      // double product matches any engine computing over widened floats
      // to the last ulp.
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** array<double> twin of [[cosine]] — the expression dispatches on the
    * input element type (getFloat over packed doubles would silently
    * reinterpret 4-byte halves, garbage with no exception). */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
