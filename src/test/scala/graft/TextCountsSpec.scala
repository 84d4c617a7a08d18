package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, RegExpReplace, StringSplit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.queries.PipelineQueries
import graft.text.TextAnalysis

/** The count-based [[TextAnalysis]] scorers run on one codegen'd kernel
  * ([[graft.functions.TextCounts]]). These specs pin them to the built-in
  * formulas they replaced, kept here only as the reference, under both the
  * interpreted and the generated evaluation path, and pin the plans of the
  * gates that use them.
  */
class TextCountsSpec extends AnyFunSuite {
  import SparkTestSession._
  GraftFunctions.register(spark)

  /** The former TextAnalysis formulas: regex split, `filter` lambdas,
    * `regexp_replace` punctuation, and the (-hits, code) struct sort. */
  private object Reference {
    def tokens(text: Column): Column = split(trim(text), "\\s+")
    def tokenCount(text: Column): Column = size(tokens(text))
    def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
      val toks = tokens(text)
      size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
    }
    def qualityScore(text: Column): Column = {
      val nChars = length(text).cast("double")
      val nTokens = tokenCount(text).cast("double")
      val nPunct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double")
      val meanTokLen = (nChars - (nTokens - 1)) / nTokens
      val lenScore = least(nTokens / lit(100.0), lit(1.0))
      val punctPenalty = least(nPunct / nChars * 5.0, lit(1.0))
      val tokLenScore = when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.5)
      lenScore * 0.5 + tokLenScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2
    }
    def langHits(text: Column, lang: String): Column = {
      val words = TextAnalysis.stopwordProfiles(lang)
      size(filter(tokens(text), t => words.map(w => t === lit(w)).reduce(_ || _)))
    }
    def langId(text: Column): Column = {
      val scored = array(TextAnalysis.stopwordProfiles.keys.toSeq.sorted.map(l =>
        struct((-langHits(text, l)).as("neg"), lit(l).as("code"))): _*)
      sort_array(scored).getItem(0).getField("code")
    }
  }

  private val langs = TextAnalysis.stopwordProfiles.keys.toSeq.sorted
  // A list outside the scorers' own lists, with an empty word (matches the
  // empty tokens a leading/trailing whitespace run leaves) and multi-byte
  // words.
  private val oddList = Seq("", "é", "日本", "the,")

  /** (name, kernel-backed, reference) over column `t`. */
  private val scorers: Seq[(String, Column, Column)] = {
    val t = col("t")
    Seq(
      ("tokenCount", TextAnalysis.tokenCount(t), Reference.tokenCount(t)),
      // Both divide by the code-point count: "" raises DIVIDE_BY_ZERO under
      // ANSI either way (pinned separately below).
      ("qualityScore", when(t =!= "", TextAnalysis.qualityScore(t)),
        when(t =!= "", Reference.qualityScore(t))),
      ("stopwordRatio", TextAnalysis.stopwordRatio(t),
        Reference.stopwordRatio(t, TextAnalysis.englishStopwords)),
      ("stopwordRatio(odd)", TextAnalysis.stopwordRatio(t, oddList),
        Reference.stopwordRatio(t, oddList)),
      ("langId", TextAnalysis.langId(t), Reference.langId(t))) ++
      langs.map(l => (s"langHits($l)", TextAnalysis.langHits(t, l),
        Reference.langHits(t, l)))
  }

  private val edgeTexts: Seq[String] = Seq(
    "", " ", "     ",
    "\n", "\t", "  \nthe cat", " \t the end", "\n\n",
    "the cat\u000B", "a\u000B", "the  cat \t\n\r\f\u000B sat \n the mat",
    "x\r\ny", "\f\u000Bthe",
    "café é", "日本語 の テキスト", "emoji 😀 here 😀",
    "😀", "é 日本 the, the",
    "the, the. The THE the", "The cat and the dog", "der die das und ist nicht ein",
    "el la y es de un que le la et est un que les",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "!!! ??? ... ,,,", "v2.0 (beta) — 100% [ok]", "tab\tsep\tvalues",
    "ünïcödé wörds und der Text ist nicht ein Test")

  private def textFrame(texts: Seq[String]): DataFrame = {
    // An RDD-backed frame: a local relation would be folded by the
    // optimizer with interpreted eval, bypassing the path under test.
    val rows = spark.sparkContext.parallelize(
      (edgeTexts.map(Option(_)) ++ Seq(None) ++ texts.map(Option(_))).map(o =>
        org.apache.spark.sql.Row(o.orNull)), 2)
    spark.createDataFrame(rows, StructType(Seq(StructField("t", StringType))))
  }

  /** Every document of the test scale and of sf0.1 beside it. */
  private def shippedTexts: Seq[String] =
    Seq(sf, new java.io.File(new java.io.File(sf).getParentFile, "sf0.1").getPath)
      .flatMap(d => Tables.documents(spark, d).select(col("text")).collect()
        .map(_.getString(0)))

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertEquivalent(df: DataFrame): Unit = {
    val cols = scorers.flatMap { case (name, got, want) =>
      Seq(got.as(s"got_$name"), want.as(s"want_$name")) }
    val rows = df.select(col("t") +: cols: _*).collect()
    assert(rows.length > edgeTexts.length)
    for (r <- rows; (name, i) <- scorers.map(_._1).zipWithIndex) {
      val (got, want) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
      assert(got == want,
        s"$name differs on ${Option(r.getString(0)).map(escape).orNull}: " +
          s"kernel $got, reference $want")
    }
  }

  private def escape(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  test("count scorers equal the reference formulas, interpreted (NO_CODEGEN)") {
    val texts = shippedTexts
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertEquivalent(textFrame(texts))
    }
  }

  test("count scorers equal the reference formulas, generated (CODEGEN_ONLY)") {
    val texts = shippedTexts
    withConfs("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      assertEquivalent(textFrame(texts))
    }
  }

  test("null text: null counts, and every scorer as the reference leaves it") {
    val df = textFrame(Nil).filter(col("t").isNull)
    val r = df.select(scorers.flatMap { case (_, g, w) => Seq(g, w) }: _*).head()
    assert(r.isNullAt(0), "tokenCount of null")
    scorers.indices.foreach(i => assert(r.get(2 * i) == r.get(2 * i + 1),
      scorers(i)._1))
  }

  test("scores read from a withCounts column equal the scorers over the text") {
    val (t, c) = (col("t"), TextAnalysis.Counts(col("c")))
    val pairs = Seq(
      (c.tokens, TextAnalysis.tokenCount(t)),
      (TextAnalysis.qualityScore(c), TextAnalysis.qualityScore(t)),
      (TextAnalysis.langId(c), TextAnalysis.langId(t))) ++
      langs.map(l => (TextAnalysis.langHits(c, l), TextAnalysis.langHits(t, l)))
    val docs = textFrame(shippedTexts).filter(t.isNull || t =!= "")
    val rows = TextAnalysis.withCounts(docs, t, "c")
      .select(pairs.flatMap { case (a, b) => Seq(a, b) }: _*).collect()
    assert(rows.length === docs.count())
    for (r <- rows; i <- pairs.indices)
      assert(r.get(2 * i) == r.get(2 * i + 1), s"pair $i on $r")
  }

  test("qualityScore of empty text fails as the reference does") {
    val df = textFrame(Nil).filter(col("t") === "")
    Seq(TextAnalysis.qualityScore(col("t")), Reference.qualityScore(col("t")))
      .foreach { q =>
        val e = intercept[Exception](df.select(q).collect())
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(causes.exists {
          case a: org.apache.spark.SparkThrowable => a.getCondition == "DIVIDE_BY_ZERO"
          case _ => false
        }, e)
      }
  }

  /** Every expression of every node of the executed plan. */
  private def planExpressions(df: DataFrame): Seq[Expression] =
    PlanCheck.nodes(df).flatMap(_.expressions.flatMap(_.collect { case e => e }))

  /** Generated-code source of every whole-stage stage of the final plan. */
  private def generatedCode(df: DataFrame): Seq[String] =
    PlanCheck.nodes(df).collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.doCodeGen()._2.body
    }

  Seq("txt_langid", "txt_quality", "pipe_clean_corpus").foreach { gate =>
    test(s"$gate: no regex split, filter lambda or regexp_replace; one kernel call per row") {
      val df = PipelineQueries.queries(gate)(spark, sf)
      // Stages (and their generated code) exist once AQE has run them.
      df.collect()
      val exprs = planExpressions(df)
      assert(!exprs.exists(_.isInstanceOf[StringSplit]), "StringSplit in plan")
      assert(!exprs.exists(_.isInstanceOf[ArrayFilter]), "ArrayFilter in plan")
      assert(!exprs.exists(_.isInstanceOf[RegExpReplace]), "RegExpReplace in plan")
      assert(exprs.exists(_.isInstanceOf[graft.functions.TextCounts]))
      val code = generatedCode(df)
      assert(code.map("Kernels\\.textCounts\\(".r.findAllMatchIn(_).size).sum === 1,
        code.mkString("\n"))
    }
  }
}
