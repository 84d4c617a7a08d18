package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the operators Spark lacks natively
  * (SURVEY §7 "custom Catalyst work": optional sketches; here they power the
  * dedup/similarity pipeline). Each generates a single static kernel call,
  * staying inside whole-stage codegen — preferred over Scala UDFs, which
  * break codegen and pay serialization per row.
  */

/** cosine(array<float|double>, array<float|double>) → double. Dispatches
  * the kernel on the element type at analysis time: the float kernel's
  * getFloat over packed doubles would silently reinterpret 4-byte halves
  * (garbage scores, no exception), so anything other than two float
  * arrays or two double arrays is rejected loudly instead.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  private def isDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<float> or two array<double> " +
            s"arguments, got ${l.sql} and ${r.sql}")
    }
  private def kernel: String = if (isDouble) "cosineD" else "cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isDouble)
      Kernels.cosineD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.$kernel($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** byte_distance(binary, binary) → bigint ([[Kernels.byteDistance]]). */
case class ByteDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_byte_distance"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.byteDistance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.byteDistance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** simhash64(array<string>) → bigint. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(v: Any): Any =
    Kernels.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rolling_fingerprint(string) → bigint; window is plan-time constant. */
case class RollingFingerprint(child: Expression, window: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"
  override protected def nullSafeEval(v: Any): Any =
    Kernels.rollingMinHash(v.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.rollingMinHash($c, $window)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** sign_projection(array<float>) → bigint LSH signature; planes ≤ 64. */
case class SignProjection(child: Expression, planes: Int)
    extends UnaryExpression {
  require(planes > 0 && planes <= 64, s"planes must be in 1..64, got $planes")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sign_projection"
  override protected def nullSafeEval(v: Any): Any =
    Kernels.signProjection(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.signProjection($c, $planes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** top_ngram_char_fraction(array<string>) → double; n is plan-time constant. */
case class TopNgramCharFraction(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"n must be positive, got $n")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_top_ngram_frac"
  override protected def nullSafeEval(v: Any): Any =
    Kernels.topNgramCharFraction(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.topNgramCharFraction($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** dup_ngram_char_fraction(array<string>) → double; n is plan-time constant. */
case class DupNgramCharFraction(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"n must be positive, got $n")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dup_ngram_frac"
  override protected def nullSafeEval(v: Any): Any =
    Kernels.dupNgramCharFraction(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.dupNgramCharFraction($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** deflate_ratio(string) → double; see Kernels.deflateRatio. */
case class DeflateRatio(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_deflate_ratio"
  override protected def nullSafeEval(v: Any): Any =
    Kernels.deflateRatio(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.deflateRatio($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** nearest_centroid(array<double>) → int list id. The centroid table is a
  * PLAN-TIME constant baked into the expression (shipped once per task via
  * the codegen reference table, not per row) — scan-local IVF assignment
  * with no join, no shuffle, inside whole-stage codegen.
  */
case class NearestCentroid(child: Expression, cents: Array[Double],
    cnorm2: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"
  // Both kernels L2-normalize the input internally (the lambda formulation
  // of the same normalization would block whole-stage codegen for the
  // whole scan stage); the dispatch only picks the element reader.
  private def kernel: String = child.dataType match {
    case ArrayType(FloatType, _) => "nearestCentroidF"
    case _                       => "nearestCentroid"
  }
  override protected def nullSafeEval(v: Any): Any =
    if (kernel == "nearestCentroidF")
      Kernels.nearestCentroidF(v.asInstanceOf[ArrayData], cents, cnorm2)
    else Kernels.nearestCentroid(v.asInstanceOf[ArrayData], cents, cnorm2)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[]")
    val normsRef = ctx.addReferenceObj("cnorm2", cnorm2, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.$kernel($c, $centsRef, $normsRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NearestCentroid {
  /** Registry builder support: the second argument arrives as a foldable
    * array<array<double>> literal; flatten it (row-major) and precompute
    * squared norms at plan time.
    */
  def fromLiteral(vec: Expression, centsLit: Expression): NearestCentroid = {
    require(centsLit.foldable,
      "graft_nearest_centroid: centroids must be a literal")
    val ad = centsLit.eval().asInstanceOf[ArrayData]
    val rows = Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
    val flat = rows.flatten
    val norms = rows.map(r => { var s = 0.0; var i = 0
      while (i < r.length) { s += r(i) * r(i); i += 1 }; s })
    NearestCentroid(vec, flat, norms)
  }
}

/** Shared plan-time unpacking of PQ literal tables. */
private[functions] object PqTables {
  /** Flatten a foldable array<array<double>> into a row-major array. */
  def flat2(lit: Expression, what: String): Array[Double] = {
    require(lit.foldable, s"$what must be a literal")
    val ad = lit.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray()).flatten
  }

  /** Flatten a foldable array<array<array<double>>> codebook literal
    * (m × ks × dsub) into (row-major flat, codeword norms, m, ks).
    */
  def books(lit: Expression): (Array[Double], Array[Double], Int, Int) = {
    require(lit.foldable, "graft_pq: codebooks must be a literal")
    val ad = lit.eval().asInstanceOf[ArrayData]
    val m = ad.numElements()
    val subs = Array.tabulate(m) { s =>
      val sub = ad.getArray(s)
      Array.tabulate(sub.numElements())(j => sub.getArray(j).toDoubleArray())
    }
    val ks = if (m == 0) 0 else subs(0).length
    require(subs.forall(_.length == ks), "graft_pq: ragged codebooks")
    val flat = subs.flatten.flatten
    val norms = subs.flatten.map { w => var s = 0.0; var i = 0
      while (i < w.length) { s += w(i) * w(i); i += 1 }; s }
    (flat, norms, m, ks)
  }
}

/** pq_encode(vector, list_id) → binary (m code bytes). Coarse centroids and
  * PQ codebooks are plan-time constants — corpus encoding is one scan-local
  * static call inside whole-stage codegen (see [[Kernels.pqEncodeF]]).
  */
case class PqEncode(left: Expression, right: Expression, cents: Array[Double],
    books: Array[Double], bnorm2: Array[Double], m: Int, ks: Int)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pq_encode"
  private def kernel: String = left.dataType match {
    case ArrayType(FloatType, _) => "pqEncodeF"
    case _                       => "pqEncodeD"
  }
  override protected def nullSafeEval(v: Any, lid: Any): Any = {
    val a = v.asInstanceOf[ArrayData]; val l = lid.asInstanceOf[Int]
    if (kernel == "pqEncodeF") Kernels.pqEncodeF(a, l, cents, books, bnorm2, m, ks)
    else Kernels.pqEncodeD(a, l, cents, books, bnorm2, m, ks)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[]")
    val booksRef = ctx.addReferenceObj("books", books, "double[]")
    val normsRef = ctx.addReferenceObj("bnorm2", bnorm2, "double[]")
    defineCodeGen(ctx, ev, (v, l) =>
      s"graft.functions.Kernels.$kernel($v, $l, $centsRef, $booksRef, $normsRef, $m, $ks)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqEncode {
  def fromLiterals(vec: Expression, listId: Expression, centsLit: Expression,
      booksLit: Expression): PqEncode = {
    val cents = PqTables.flat2(centsLit, "graft_pq_encode: centroids")
    val (flat, norms, m, ks) = PqTables.books(booksLit)
    PqEncode(vec, listId, cents, flat, norms, m, ks)
  }
}

/** pq_adc_table(query_vector) → array<double> of m·ks residual dots — the
  * query half of asymmetric-distance computation (see [[Kernels.pqAdcTableF]]).
  */
case class PqAdcTable(child: Expression, books: Array[Double], m: Int, ks: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_adc_table"
  private def kernel: String = child.dataType match {
    case ArrayType(FloatType, _) => "pqAdcTableF"
    case _                       => "pqAdcTableD"
  }
  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (kernel == "pqAdcTableF") Kernels.pqAdcTableF(a, books, m, ks)
    else Kernels.pqAdcTableD(a, books, m, ks)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.$kernel($c, $booksRef, $m, $ks)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PqAdcTable {
  def fromLiteral(vec: Expression, booksLit: Expression): PqAdcTable = {
    val (flat, _, m, ks) = PqTables.books(booksLit)
    PqAdcTable(vec, flat, m, ks)
  }
}

/** bloom_might_contain(bigint) → boolean over a plan-time-constant Bloom
  * filter (arrives as a serialized binary literal; deserialized ONCE at
  * plan time, shipped to tasks via the codegen reference table). False ⇒
  * definitely absent — the contract [[graft.dedup.Dedup.exactAgainstBloom]]
  * builds on; true ⇒ verify exactly downstream.
  */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"
  override protected def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BloomMightContain {
  def fromLiteral(value: Expression, bytesLit: Expression): BloomMightContain = {
    require(bytesLit.foldable,
      "graft_bloom_might_contain: filter bytes must be a literal")
    val bytes = bytesLit.eval().asInstanceOf[Array[Byte]]
    BloomMightContain(value, org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes)))
  }
}

/** pq_adc_score(codes, table) → double: m table lookups per candidate. */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_score"
  override protected def nullSafeEval(codes: Any, table: Any): Any =
    Kernels.pqAdcScore(codes.asInstanceOf[Array[Byte]],
      table.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, t) => s"graft.functions.Kernels.pqAdcScore($c, $t)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** nfc_normalize(text) → string: Unicode canonical composition
  * ([[Kernels.nfc]]) — the pre-dedup normalization pass.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"
  override protected def nullSafeEval(s: Any): Any =
    Kernels.nfc(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.Kernels.nfc($s)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text_counts(text, lists) → array<int>: whitespace tokens, code points,
  * code points outside `[a-zA-Z0-9\s]`, then whole-token hits per word
  * list ([[Kernels.textCounts]]). The lists are a plan-time constant; two
  * calls over the same text and lists are the same expression, so
  * subexpression elimination runs the scan once per row however many
  * scorers read it.
  */
case class TextCounts(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_text_counts"
  @transient private lazy val table = new WordLists(lists)
  override protected def nullSafeEval(t: Any): Any =
    Kernels.textCounts(t.asInstanceOf[UTF8String], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("wordLists", table, "graft.functions.WordLists")
    defineCodeGen(ctx, ev, t => s"graft.functions.Kernels.textCounts($t, $tableRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextCounts {
  def fromLiteral(text: Expression, listsLit: Expression): TextCounts = {
    require(listsLit.foldable, "graft_text_counts: word lists must be a literal")
    val ad = listsLit.eval().asInstanceOf[ArrayData]
    TextCounts(text, Seq.tabulate(ad.numElements()) { k =>
      val l = ad.getArray(k)
      Seq.tabulate(l.numElements())(i => l.getUTF8String(i).toString)
    })
  }
}

/** gopher_counts(text) → array<int>: every count the Gopher rules ratio
  * ([[Kernels.gopherCounts]], layout there). Two calls over the same text
  * are the same expression, so a projection runs the scan once per row
  * however many rule signals read it.
  */
case class GopherCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_gopher_counts"
  @transient private lazy val seen = ThreadLocal.withInitial(() => new LineSet)
  override protected def nullSafeEval(t: Any): Any =
    Kernels.gopherCounts(t.asInstanceOf[UTF8String], seen.get())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seenRef = ctx.addMutableState("graft.functions.LineSet", "gopherLines",
      v => s"$v = new graft.functions.LineSet();")
    defineCodeGen(ctx, ev, t => s"graft.functions.Kernels.gopherCounts($t, $seenRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** bpe_tokens(text, merges) → array<string>: apply a trained BPE merge
  * table ([[Kernels.bpeTokens]]). `merges` is a foldable array<string> of
  * "left right" keys in rank order — a plan-time constant like the
  * IVF/PQ tables.
  */
case class BpeTokens(child: Expression, mergeKeys: Array[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_tokens"
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](mergeKeys.length * 2)
    var i = 0
    while (i < mergeKeys.length) { m.put(mergeKeys(i), i); i += 1 }
    m
  }
  override protected def nullSafeEval(t: Any): Any =
    Kernels.bpeTokens(t.asInstanceOf[UTF8String], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap<String, Integer>")
    defineCodeGen(ctx, ev,
      t => s"graft.functions.Kernels.bpeTokens($t, $ranksRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BpeTokens {
  private[functions] def stringArray(lit: Expression, what: String): Array[String] = {
    require(lit.foldable, s"$what must be a literal")
    val ad = lit.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getUTF8String(i).toString)
  }
  def fromLiteral(text: Expression, mergesLit: Expression): BpeTokens =
    BpeTokens(text, stringArray(mergesLit, "graft_bpe_tokens: merges"))
}

/** bpe_token_ids(text, merges, vocab) → array<int>: tokenize and map each
  * symbol to its vocabulary id; out-of-vocabulary symbols take
  * `vocab.length` (the UNK id). Both tables are plan-time constants.
  */
case class BpeTokenIds(child: Expression, mergeKeys: Array[String],
    vocab: Array[String]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_token_ids"
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](mergeKeys.length * 2)
    var i = 0
    while (i < mergeKeys.length) { m.put(mergeKeys(i), i); i += 1 }
    m
  }
  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.put(vocab(i), i); i += 1 }
    m
  }
  override protected def nullSafeEval(t: Any): Any =
    Kernels.bpeTokenIds(t.asInstanceOf[UTF8String], ranks, ids, vocab.length)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap<String, Integer>")
    val idsRef = ctx.addReferenceObj("bpeIds", ids,
      "java.util.HashMap<String, Integer>")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.Kernels.bpeTokenIds($t, $ranksRef, $idsRef, ${vocab.length})")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BpeTokenIds {
  def fromLiterals(text: Expression, mergesLit: Expression,
      vocabLit: Expression): BpeTokenIds =
    BpeTokenIds(text,
      BpeTokens.stringArray(mergesLit, "graft_bpe_token_ids: merges"),
      BpeTokens.stringArray(vocabLit, "graft_bpe_token_ids: vocab"))
}

/** dedup_lines(array<string>) → string: within-document line dedup — keep
  * the first occurrence of each exact line in order, blanks exempt, newline
  * rejoin ([[Kernels.dedupLines]]).
  */
case class DedupLines(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_dedup_lines"
  override protected def nullSafeEval(l: Any): Any =
    Kernels.dedupLines(l.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"graft.functions.Kernels.dedupLines($l)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sq8_encode(vector) → binary: int8 scalar quantization for cosine search
  * (L2-normalize, scale to ±127 — see [[Kernels.sq8EncodeF]]). One byte
  * per dimension.
  */
case class Sq8Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_sq8_encode"
  private def kernel: String = child.dataType match {
    case ArrayType(FloatType, _) => "sq8EncodeF"
    case _                       => "sq8EncodeD"
  }
  override protected def nullSafeEval(v: Any): Any =
    if (kernel == "sq8EncodeF") Kernels.sq8EncodeF(v.asInstanceOf[ArrayData])
    else Kernels.sq8EncodeD(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.Kernels.$kernel($v)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sq8_dot(binary, binary) → double: approximate cosine of two sq8 codes —
  * an integer dot product rescaled by 127² ([[Kernels.sq8Dot]]).
  */
case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sq8_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sq8Dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.sq8Dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API + SQL registration for the custom expressions. */
/** remove_spans(array<string> tokens, array<bigint> starts) → string:
  * text rebuilt with every token covered by an n-gram starting at one of
  * the 1-based `starts` removed — the substring-dedup transform. `n` is a
  * plan-time constant.
  */
case class RemoveSpans(left: Expression, right: Expression, n: Int,
    sep: Char = ' ')
    extends BinaryExpression {
  require(n > 0, s"n must be positive, got $n")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_remove_spans"
  override protected def nullSafeEval(toks: Any, starts: Any): Any =
    Kernels.removeSpans(toks.asInstanceOf[ArrayData],
      starts.asInstanceOf[ArrayData], n, sep)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.functions.Kernels.removeSpans($t, $s, $n, (char) ${sep.toInt})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object GraftFunctions {
  /** Bind an expression's value as a HIGHER-ORDER-FUNCTION lambda variable
    * before `body` reads it (possibly many times, possibly inside further
    * lambdas): `bindArray(e)(v => body(v))` evaluates `e` exactly ONCE per
    * row and hands `body` a bound buffer reference.
    *
    * Why this exists: Catalyst re-evaluates lambda-BODY subexpressions per
    * array element, so any per-element lambda whose body references a
    * derived expression (a tokenizer split, a sorted array) re-runs that
    * derivation once per element — O(n²) per row (measured 10× the whole
    * ngram funnel's cost; see [[graft.dedup.Dedup.shingles]]). Plain
    * multi-reference at PROJECT level has the same hazard via
    * CollapseProject/pushdown inlining. Lambda variables and attributes
    * are the only reference kinds that are free to re-read; this helper
    * manufactures the former: a one-element array, a transform binding the
    * value to a lambda variable, and an `element_at(..., 1)` unwrap.
    *
    * Subexpression elimination is no rescue inside lambdas either. The
    * higher-order functions (`filter`, `transform`, …) are
    * `CodegenFallback` in Spark 4.1, and elimination does not look into a
    * `CodegenFallback` expression's children, so N lambdas over the same
    * derived array derive it N times per row (stopword counts taken this
    * way split every `txt_langid` document six times). A per-row count that
    * several scorers share belongs in one custom expression that
    * elimination can see whole ([[TextCounts]], [[GopherCounts]]). A
    * FILTER gets no elimination at all: pushed through a projection it
    * inlines each reference again, which is why a filter on several
    * scores over such a count reads them from a column bound by
    * [[bindRow]].
    */
  def bindArray(e: Column)(body: Column => Column): Column =
    org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.array(e), body),
      1)

  /** `df` plus column `name` holding `value`, made by a one-row generator
    * (`explode` of a one-element array). For frames that FILTER on several
    * expressions over one costly value: a filter gets no subexpression
    * elimination, and pushed through a projection it inlines every
    * reference to the value; it cannot be pushed below a generator whose
    * output it reads, so each reference is a read of the one bound value.
    */
  def bindRow(df: DataFrame, value: Column, name: String): DataFrame =
    df.select(org.apache.spark.sql.functions.col("*"),
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(value)).as(name))

  /** Register the functions in a session's registry so both `spark.sql` and
    * `call_function` can use them. Idempotent per session.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_cosine",
      es => CosineSimilarity(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_byte_distance",
      es => ByteDistance(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash64",
      es => SimHash64(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_fingerprint",
      es => RollingFingerprint(es.head, 12), "built-in")
    reg.createOrReplaceTempFunction("graft_sign_projection",
      es => SignProjection(es.head, 64), "built-in")
    reg.createOrReplaceTempFunction("graft_top_ngram_frac",
      es => TopNgramCharFraction(es(0), 2), "built-in")
    reg.createOrReplaceTempFunction("graft_dup_ngram_frac",
      es => DupNgramCharFraction(es(0), 5), "built-in")
    reg.createOrReplaceTempFunction("graft_deflate_ratio",
      es => DeflateRatio(es.head), "built-in")
    // Aggregate builders return the bare AggregateFunction; the analyzer
    // wraps it in an AggregateExpression at resolution.
    reg.createOrReplaceTempFunction("graft_collect_min_k",
      es => CollectMinK(es(0), CollectMinK.expressionToK(es(1))), "built-in")
    reg.createOrReplaceTempFunction("graft_vec_mean",
      es => VecMean(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_nearest_centroid",
      es => NearestCentroid.fromLiteral(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_pq_encode",
      es => PqEncode.fromLiterals(es(0), es(1), es(2), es(3)), "built-in")
    reg.createOrReplaceTempFunction("graft_pq_adc_table",
      es => PqAdcTable.fromLiteral(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_pq_adc_score",
      es => PqAdcScore(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_might_contain",
      es => BloomMightContain.fromLiteral(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_remove_spans",
      es => RemoveSpans(es(0), es(1), CollectMinK.expressionToK(es(2))),
      "built-in")
    // Same sweep over a doc's LINES (n=1, rejoin with newline) — the
    // line-dedup rewrite.
    reg.createOrReplaceTempFunction("graft_remove_lines",
      es => RemoveSpans(es(0), es(1), 1, '\n'), "built-in")
    reg.createOrReplaceTempFunction("graft_dedup_lines",
      es => DedupLines(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_bpe_tokens",
      es => BpeTokens.fromLiteral(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_nfc",
      es => NfcNormalize(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_bpe_token_ids",
      es => BpeTokenIds.fromLiterals(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_sq8_encode",
      es => Sq8Encode(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_sq8_dot",
      es => Sq8Dot(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_text_counts",
      es => TextCounts.fromLiteral(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_gopher_counts",
      es => GopherCounts(es.head), "built-in")
  }

  def cosineSim(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def byteDistance(a: Column, b: Column): Column =
    call_function("graft_byte_distance", a, b)
  def simhash64(tokens: Column): Column = call_function("graft_simhash64", tokens)
  def fingerprint(text: Column): Column = call_function("graft_fingerprint", text)
  def signProjection(vec: Column): Column = call_function("graft_sign_projection", vec)
  def topNgramFrac(tokens: Column): Column = call_function("graft_top_ngram_frac", tokens)
  def dupNgramFrac(tokens: Column): Column = call_function("graft_dup_ngram_frac", tokens)
  def deflateRatio(text: Column): Column = call_function("graft_deflate_ratio", text)
  /** Substring-dedup transform ([[RemoveSpans]]): drop every token covered
    * by an n-gram starting at one of the 1-based `starts`.
    */
  def removeSpans(tokens: Column, starts: Column, n: Int): Column =
    call_function("graft_remove_spans", tokens, starts,
      org.apache.spark.sql.functions.lit(n))

  /** Line-dedup rewrite ([[RemoveSpans]] with n=1 over the line array,
    * newline rejoin): drop the lines at the 1-based `positions`.
    */
  def removeLines(lines: Column, positions: Column): Column =
    call_function("graft_remove_lines", lines, positions)

  /** Unicode NFC normalization ([[NfcNormalize]]). */
  def nfcNormalize(text: Column): Column = call_function("graft_nfc", text)

  /** Trained-BPE tokenization ([[BpeTokens]]); the ranked merge table is
    * a plan-time constant. */
  def bpeTokens(text: Column, mergeKeys: Array[String]): Column =
    call_function("graft_bpe_tokens", text,
      org.apache.spark.sql.functions.typedlit(mergeKeys.toSeq))

  /** Trained-BPE tokenization to vocabulary ids ([[BpeTokenIds]]). */
  def bpeTokenIds(text: Column, mergeKeys: Array[String],
      vocab: Array[String]): Column =
    call_function("graft_bpe_token_ids", text,
      org.apache.spark.sql.functions.typedlit(mergeKeys.toSeq),
      org.apache.spark.sql.functions.typedlit(vocab.toSeq))

  /** Within-doc line dedup ([[DedupLines]]): first occurrence of each
    * line kept in order, blanks exempt. */
  def dedupLines(lines: Column): Column =
    call_function("graft_dedup_lines", lines)

  /** Per-document token, character and word-list counts ([[TextCounts]]). */
  def textCounts(text: Column, lists: Seq[Seq[String]]): Column =
    call_function("graft_text_counts", text,
      org.apache.spark.sql.functions.typedlit(lists))

  /** Per-document counts behind the Gopher rules ([[GopherCounts]]). */
  def gopherCounts(text: Column): Column = call_function("graft_gopher_counts", text)

  /** Int8 scalar quantization ([[Sq8Encode]]) / quantized cosine
    * ([[Sq8Dot]]). */
  def sq8Encode(vec: Column): Column = call_function("graft_sq8_encode", vec)
  def sq8Dot(a: Column, b: Column): Column = call_function("graft_sq8_dot", a, b)

  /** Bounded first-k-ascending collector ([[CollectMinK]]) — aggregate. */
  def collectMinK(e: Column, k: Int): Column =
    call_function("graft_collect_min_k", e, org.apache.spark.sql.functions.lit(k))

  /** Element-wise vector mean ([[VecMean]]) — embedding pooling aggregate. */
  def vecMean(e: Column): Column = call_function("graft_vec_mean", e)

  /** Scan-local nearest-centroid list assignment ([[NearestCentroid]]);
    * `centroids` is a small driver-side table baked into the plan.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    call_function("graft_nearest_centroid", vec,
      org.apache.spark.sql.functions.typedlit(centroids.map(_.toSeq).toSeq))

  private def booksLit(books: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.functions.typedlit(
      books.map(_.map(_.toSeq).toSeq).toSeq)

  /** Scan-local PQ residual encoding ([[PqEncode]]); centroid and codebook
    * tables are driver-side constants baked into the plan.
    */
  def pqEncode(vec: Column, listId: Column, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Column =
    call_function("graft_pq_encode", vec, listId,
      org.apache.spark.sql.functions.typedlit(centroids.map(_.toSeq).toSeq),
      booksLit(books))

  /** Per-query ADC lookup table ([[PqAdcTable]]). */
  def pqAdcTable(vec: Column, books: Array[Array[Array[Double]]]): Column =
    call_function("graft_pq_adc_table", vec, booksLit(books))

  /** Residual ADC score: m table lookups per candidate ([[PqAdcScore]]). */
  def pqAdcScore(codes: Column, table: Column): Column =
    call_function("graft_pq_adc_score", codes, table)

  /** Scan-local Bloom membership probe ([[BloomMightContain]]); the filter
    * ships through the plan serialized once, not per row.
    */
  def bloomMightContain(e: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    call_function("graft_bloom_might_contain", e,
      org.apache.spark.sql.functions.lit(bos.toByteArray))
  }
}
