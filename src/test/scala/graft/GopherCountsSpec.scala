package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayFilter, Expression, RLike, RegExpCount, SortArray, StringSplit}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ScopedStorage, Tables}
import graft.functions.{GopherCounts, GraftFunctions}
import graft.queries.PipelineQueries
import graft.text.QualityRules

/** The [[QualityRules]] signals and verdicts run on one codegen'd kernel
  * ([[graft.functions.GopherCounts]]). These specs pin them to the
  * built-in formulas they replaced, kept here only as the reference, under
  * both the interpreted and the generated evaluation path, and pin the
  * plans of the gates that use them.
  */
class GopherCountsSpec extends AnyFunSuite {
  import SparkTestSession._
  GraftFunctions.register(spark)

  /** The former QualityRules formulas: regex splits, `filter`/`aggregate`
    * lambdas with an `rlike` per word or line, `array_distinct` and a
    * sort-adjacency sweep over the sorted non-blank lines. */
  private object Reference {
    private def toks(text: Column): Column = split(trim(text), "\\s+")
    private def lines(text: Column): Column = split(text, "\n")
    def wordCount(text: Column): Column = size(toks(text))
    def meanWordLength(text: Column): Column =
      aggregate(toks(text), lit(0L), (acc, t) => acc + length(t))
        .cast("double") / wordCount(text)
    def symbolToWordRatio(text: Column): Column =
      (regexp_count(text, lit("#")) + regexp_count(text, lit("\\.\\.\\.")))
        .cast("double") / wordCount(text)
    def bulletLineFrac(text: Column): Column = {
      val l = lines(text)
      size(filter(l, x => ltrim(x).rlike("^[-*•]"))).cast("double") / size(l)
    }
    def ellipsisLineFrac(text: Column): Column = {
      val l = lines(text)
      size(filter(l, x => rtrim(x).rlike("(\\.\\.\\.|…)$"))).cast("double") /
        size(l)
    }
    def alphaWordFrac(text: Column): Column =
      size(filter(toks(text), t => t.rlike("[a-zA-Z]"))).cast("double") /
        wordCount(text)
    def requiredStopwordHits(text: Column): Column =
      GraftFunctions.bindArray(transform(toks(text), t => lower(t))) { lowered =>
        QualityRules.requiredStopwords
          .map(w => when(array_contains(lowered, w), 1).otherwise(0))
          .reduce(_ + _)
      }
    private def nonBlankLines(text: Column): Column =
      filter(lines(text), l => trim(l) =!= "")
    def dupLineFrac(text: Column): Column = {
      val nb = nonBlankLines(text)
      when(size(nb) === 0, lit(0.0)).otherwise(
        (size(nb) - size(array_distinct(nb))).cast("double") / size(nb))
    }
    def dupLineCharFrac(text: Column): Column =
      GraftFunctions.bindArray(sort_array(nonBlankLines(text))) { s =>
        val dupChars = aggregate(
          when(size(s) >= 2, sequence(lit(2), size(s)))
            .otherwise(array().cast("array<int>")),
          lit(0L), (acc, i) =>
          acc + when(element_at(s, i) === element_at(s, i - 1),
            length(element_at(s, i)).cast("long")).otherwise(0L))
        val totChars = aggregate(s, lit(0L), (acc, x) => acc + length(x))
        when(size(s) === 0 || totChars === 0, lit(0.0))
          .otherwise(dupChars.cast("double") / totChars.cast("double"))
      }
    def qualityKeep(text: Column): Column =
      wordCount(text).between(50, 100000) &&
        meanWordLength(text).between(3.0, 10.0) &&
        symbolToWordRatio(text) <= 0.1 &&
        bulletLineFrac(text) <= 0.9 &&
        ellipsisLineFrac(text) <= 0.3 &&
        alphaWordFrac(text) > 0.8 &&
        requiredStopwordHits(text) >= 2
    def repetitionKeep(text: Column): Column =
      dupLineFrac(text) <= 0.3 && dupLineCharFrac(text) <= 0.2
  }

  /** (name, kernel-backed, reference) over a text column. */
  private def pairs(t: Column, s: QualityRules.Signals): Seq[(String, Column, Column)] = Seq(
    ("wordCount", s.wordCount, Reference.wordCount(t)),
    ("meanWordLength", s.meanWordLength, Reference.meanWordLength(t)),
    ("symbolToWordRatio", s.symbolToWordRatio, Reference.symbolToWordRatio(t)),
    ("bulletLineFrac", s.bulletLineFrac, Reference.bulletLineFrac(t)),
    ("ellipsisLineFrac", s.ellipsisLineFrac, Reference.ellipsisLineFrac(t)),
    ("alphaWordFrac", s.alphaWordFrac, Reference.alphaWordFrac(t)),
    ("requiredStopwordHits", s.requiredStopwordHits, Reference.requiredStopwordHits(t)),
    ("dupLineFrac", s.dupLineFrac, Reference.dupLineFrac(t)),
    ("dupLineCharFrac", s.dupLineCharFrac, Reference.dupLineCharFrac(t)),
    ("qualityKeep", s.qualityKeep, Reference.qualityKeep(t)),
    ("repetitionKeep", s.repetitionKeep, Reference.repetitionKeep(t)))

  /** The planted extremes of PipelineSpec "gopher rules". */
  private val planted: Seq[String] = {
    val good = (Seq("the", "be", "to", "of") ++
      Seq.fill(60)("ordinary prose words flowing here")).mkString(" ")
    Seq(good, "too few words to keep", ("x " * 60).trim,
      (Seq.fill(60)("word") :+ ("#" * 30)).mkString(" "),
      Seq.fill(10)("- bullet item line").mkString("\n"),
      Seq.fill(10)("trailing thought...").mkString("\n"),
      (1 to 60).map(_.toString).mkString(" "),
      Seq.fill(60)("zq").mkString(" "),
      Seq.fill(8)("same exact line").mkString("\n") + "\nunique one",
      (1 to 10).map(i => s"unique paragraph number $i").mkString("\n\n"))
  }

  private val edgeTexts: Seq[String] = Seq(
    "", " ", "     ", "one line with no newline at all",
    "line one\n", "\n", "\n\n", "a\n", "\nb",
    "a\n\t\nb", "\t", "  \n  \n", "x\r\ny", " \t the end \t ",
    "  - x", "•x", "x...   ", "x…", "......", ".....", "x....", "#", "## ... # ...",
    "- a\n* b\n• c\n  -d\n‣ e\n€ f\n… g\n•",
    "x...\r", "x…\u0085", "x... ", "x… ", "x... \r", "x...\r\r", "x..\r",
    "same line\nsame line \nsame line\n same line",
    "dup\ndup\n\ndup\nDUP\n \n ",
    "THE With zz the", "the, the. with", "The be TO of AND that HAVE with",
    "w\u0130th the \u0130 \u212Aey \u212A", "café naïve 日本語 😀 the and",
    "😀😀 😀\n😀😀 😀\né", "日本\n日本\n日本語",
    "a1 2b c3 44 55 ?? !!", "x\u000Bthe\u000Cand\ry")

  private def textFrame(texts: Seq[String]): DataFrame = {
    // An RDD-backed frame: a local relation would be folded by the
    // optimizer with interpreted eval, bypassing the path under test.
    val rows = spark.sparkContext.parallelize(
      (edgeTexts.map(Option(_)) ++ Seq(None) ++ texts.map(Option(_))).map(o =>
        Row(o.orNull)), 2)
    spark.createDataFrame(rows, StructType(Seq(StructField("t", StringType))))
  }

  /** Every document of the test scale and of sf0.1 beside it, raw and
    * after [[PipelineQueries.linedDocs]], plus the planted extremes. */
  private lazy val corpusTexts: Seq[String] = {
    val dirs = Seq(sf,
      new java.io.File(new java.io.File(sf).getParentFile, "sf0.1").getPath)
    try dirs.flatMap { d =>
      val docs = Tables.documents(spark, d)
      Seq(docs, PipelineQueries.linedDocs(docs)).flatMap(
        _.select(col("text")).collect().map(_.getString(0)))
    } ++ planted
    finally ScopedStorage.releaseAll()
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def escape(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  private def assertEquivalent(df: DataFrame): Unit = {
    val ps = pairs(col("t"), QualityRules.signals(col("t")))
    val cols = ps.flatMap { case (name, got, want) =>
      Seq(got.as(s"got_$name"), want.as(s"want_$name")) }
    val rows = df.select(col("t") +: cols: _*).collect()
    assert(rows.length > edgeTexts.length + planted.length)
    for (r <- rows; (name, i) <- ps.map(_._1).zipWithIndex) {
      val (got, want) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
      assert(got == want,
        s"$name differs on ${Option(r.getString(0)).map(escape).orNull}: " +
          s"kernel $got, reference $want")
    }
  }

  test("signals and verdicts equal the reference formulas, interpreted (NO_CODEGEN)") {
    val texts = corpusTexts
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertEquivalent(textFrame(texts))
    }
  }

  test("signals and verdicts equal the reference formulas, generated (CODEGEN_ONLY)") {
    val texts = corpusTexts
    withConfs("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      assertEquivalent(textFrame(texts))
    }
  }

  test("null text: null counts, and every signal and verdict as the reference leaves it") {
    val t = col("t")
    val ps = pairs(t, QualityRules.signals(t))
    val r = textFrame(Nil).filter(t.isNull)
      .select(GraftFunctions.gopherCounts(t) +: ps.flatMap { case (_, g, w) => Seq(g, w) }: _*)
      .head()
    assert(r.isNullAt(0), "counts of null")
    assert(r.isNullAt(1), "wordCount of null")
    ps.indices.foreach(i => assert(r.get(1 + 2 * i) == r.get(2 + 2 * i), ps(i)._1))
  }

  test("signals read from a withSignals column and survivors agree with the text-level ones") {
    val t = col("t")
    val docs = textFrame(corpusTexts)
    val bound = QualityRules.withSignals(docs, t, "g")
    val ps = pairs(t, QualityRules.Signals(col("g")))
    val textLevel = pairs(t, QualityRules.signals(t)).map(_._2)
    val rows = bound.select(
      ps.map(_._2).zip(textLevel).flatMap { case (a, b) => Seq(a, b) }: _*).collect()
    assert(rows.length === docs.count())
    for (r <- rows; i <- ps.indices)
      assert(r.get(2 * i) == r.get(2 * i + 1), s"${ps(i)._1} on $r")
    val kept = QualityRules.survivors(docs, t)
    assert(kept.columns.toSeq === Seq("t"))
    val want = docs.filter(Reference.qualityKeep(t) && Reference.repetitionKeep(t))
    assert(kept.count() > 0 && kept.count() < docs.count())
    assert(kept.exceptAll(want).count() === 0 && want.exceptAll(kept).count() === 0)
  }

  test("lower: above U+007F only U+0130 and U+212A yield an ASCII letter, " +
      "and neither can make a required stopword") {
    val cps = (0x80 until 0x110000).filter(cp => cp < 0xd800 || cp > 0xdfff)
    val rows = spark.sparkContext.parallelize(cps, 8)
      .map(cp => Row(cp, new String(Character.toChars(cp))))
    val lowered = spark.createDataFrame(rows, StructType(Seq(
        StructField("cp", IntegerType), StructField("t", StringType))))
      .select(col("cp"), lower(col("t")).as("l"))
    val hits = lowered.filter(col("l").rlike("[a-zA-Z]")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(hits === Map(0x130 -> "i\u0307", 0x212a -> "k"))
    // No code point lowers to nothing, so every other one leaves a
    // non-letter in the lowered word.
    assert(lowered.filter(length(col("l")) === 0).count() === 0)
    // `k` is in no required stopword, and U+0130 always brings U+0307.
    assert(QualityRules.requiredStopwords.forall(w =>
      w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z' && c != 'k')))
  }

  /** The executed plan of every query `body` runs, once the listener bus
    * has delivered them (local checkpoints included). */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.map(_.executedPlan)
  }

  private val forbidden: Seq[Class[_ <: Expression]] = Seq(classOf[StringSplit],
    classOf[ArrayFilter], classOf[RLike], classOf[RegExpCount],
    classOf[ArrayDistinct], classOf[SortArray])

  Seq("stream_quality_filter", "txt_gopher", "pipe_filter_chain", "pipe_clean_pack")
      .foreach { gate =>
    test(s"$gate: the rules cost one kernel call per row, with no split, " +
        "filter lambda, rlike, regexp_count, array_distinct or sort_array") {
      val plans = try {
        if (gate == "stream_quality_filter") {
          var micro = Option.empty[SparkPlan]
          PipelineQueries.streamQualityFilter(spark, sf, q => micro = Some(
            q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
              .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan))
            .collect()
          micro.toSeq
        } else executedPlans(PipelineQueries.queries(gate)(spark, sf).collect())
      } finally ScopedStorage.releaseAll()
      // The plans that evaluate the rules: those holding the kernel.
      // linedDocs' own derivation sits inside its cached relation, and the
      // later stages of pipe_filter_chain split lines of their own.
      val rulePlans = plans.map(p => PlanCheck.nodes(p)).filter(_.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[GopherCounts]))))
      assert(rulePlans.size === 1, s"${plans.size} plans")
      val exprs = rulePlans.flatten.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      forbidden.foreach(c => assert(!exprs.exists(c.isInstance), s"${c.getSimpleName} in plan"))
      val code = rulePlans.flatten.collect { case w: WholeStageCodegenExec =>
        w.doCodeGen()._2.body }
      assert(code.map("Kernels\\.gopherCounts\\(".r.findAllMatchIn(_).size).sum === 1,
        code.mkString("\n"))
    }
  }
}
