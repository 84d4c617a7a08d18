package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SQLExecution, SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Engine, SingleTaskSort, Tables}

/** [[SingleTaskSort]]: a small global sort shuffles to one task (no range
  * partitioner, so no sampling job); a top-K, an input that already ends
  * in one partition, an over-threshold estimate and a streaming plan keep
  * their plans; and over every gate the rule adds no shuffle and changes
  * no row.
  */
class SingleTaskSortSpec extends AnyFunSuite {
  import SparkTestSession.sf

  /** A session with the rule (through `perfDefaults`, as every entry point
    * registers it) and one that never ran `perfDefaults`. */
  private lazy val ruled = Engine.perfDefaults(SparkTestSession.spark.newSession())
  private lazy val plain = SparkTestSession.spark.newSession()

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def singleTaskSorts(df: DataFrame): Seq[ShuffleExchangeExec] =
    PlanCheck.nodes(df).collect {
      case s: SortExec if s.global => PlanCheck.nodes(s.child)
    }.flatten.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition &&
        e.shuffleOrigin == REPARTITION_BY_NUM => e
    }

  private def rangeShuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    PlanCheck.shuffles(df).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])

  /** Jobs `action` runs, counted through a job tag. */
  private def jobsOf(spark: SparkSession)(action: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"single-task-sort-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try action
    finally {
      sc.removeJobTag(tag)
      GraftSparkAccess.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a small sorted gate shuffles once to a single partition and runs " +
      "no sampling job") {
    for (gate <- Seq("txt_langid", "q04_filter_project")) {
      val df = SparkEntry.queries(gate)(ruled, sf)
      val shuffles = PlanCheck.shuffles(df)
      assert(shuffles.size === 1, s"$gate:\n${df.queryExecution.executedPlan}")
      assert(shuffles.head.outputPartitioning === SinglePartition, gate)
      assert(rangeShuffles(df).isEmpty, gate)
      // Built outside the counted action: a gate may run jobs to build.
      def writeJobs(spark: SparkSession): Int = {
        val built = SparkEntry.queries(gate)(spark, sf)
        jobsOf(spark)(noopWrite(built))
      }
      assert(writeJobs(ruled) === 2, gate)
      assert(writeJobs(plain) === 3,
        s"$gate without the rule: the range partitioner's sampling job")
    }
  }

  test("a top-K keeps TakeOrderedAndProject with no exchange below it") {
    val orders = Tables.orders(ruled, sf)
    val byPrice = Seq(col("o_totalprice").desc, col("o_orderkey"))
    val topK = Seq(
      "q03_topk_orders" -> SparkEntry.queries("q03_topk_orders")(ruled, sf),
      "project between" -> orders.orderBy(byPrice: _*)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("p2")).limit(10),
      "limit then offset" -> orders.orderBy(byPrice: _*).limit(10).offset(3),
      "offset then limit" -> orders.orderBy(byPrice: _*).offset(3).limit(10))
    for ((name, df) <- topK) {
      val plan = df.queryExecution.executedPlan
      assert(PlanCheck.nodes(df).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        s"$name:\n$plan")
      assert(PlanCheck.shuffles(df).isEmpty, s"$name:\n$plan")
    }
  }

  test("an input that already ends in one partition gains no exchange") {
    def cases(spark: SparkSession): Seq[(String, DataFrame)] = {
      val orders = Tables.orders(spark, sf)
      Seq(
        "limit then sort" -> orders.limit(100).orderBy(col("o_totalprice")),
        "global aggregate then sort" ->
          orders.agg(collect_list(col("o_orderkey")).as("keys"))
            .select(explode(col("keys")).as("k")).orderBy(col("k").desc),
        "union of global aggregates then sort" ->
          orders.agg(count(lit(1)).as("n"))
            .union(orders.agg(max(col("o_orderkey")).as("n"))).orderBy(col("n")),
        "unpartitioned window then sort" ->
          orders.withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))))
            .orderBy(col("o_totalprice")))
    }
    for (((name, withRule), (_, without)) <- cases(ruled).zip(cases(plain))) {
      assert(PlanCheck.shuffles(withRule).size === PlanCheck.shuffles(without).size,
        s"$name:\n${withRule.queryExecution.executedPlan}")
      assert(singleTaskSorts(withRule).isEmpty, name)
    }
  }

  test("an estimate above the advisory partition size, or AQE off, keeps " +
      "the range exchange") {
    for (confs <- Seq(Map(AdvisoryKey -> "1"),
        Map("spark.sql.adaptive.enabled" -> "false"))) {
      Engine.withConf(ruled, confs) {
        val df = SparkEntry.queries("q04_filter_project")(ruled, sf)
        assert(rangeShuffles(df).size === 1, s"$confs:\n${df.queryExecution.executedPlan}")
        assert(singleTaskSorts(df).isEmpty, confs.toString)
      }
    }
  }

  test("a streaming plan is untouched and the rule is idempotent") {
    val stream = ruled.readStream.format("rate").load()
      .groupBy(col("value") % 3).count().orderBy(col("count").desc)
    val streaming = stream.queryExecution.analyzed
    assert(streaming.isStreaming)
    assert(SingleTaskSort(streaming) eq streaming)

    val once = SparkEntry.queries("q04_filter_project")(ruled, sf)
      .queryExecution.optimizedPlan
    assert(once.exists {
      case Sort(_, true, r: org.apache.spark.sql.catalyst.plans.logical.Repartition, _) =>
        r.numPartitions == 1
      case _ => false
    }, once.toString)
    assert(SingleTaskSort(once) eq once)
    val fresh = SparkEntry.queries("q04_filter_project")(plain, sf)
      .queryExecution.optimizedPlan
    val rewritten = SingleTaskSort(fresh)
    assert(!rewritten.fastEquals(fresh))
    assert(SingleTaskSort(rewritten) eq rewritten)
  }

  /** The root sort's keys that the output carries, in order, up to the
    * first one it does not: the output must be ordered by that prefix. */
  private def outputSortKeys(plan: LogicalPlan): Seq[SortOrder] = {
    val (order, rename) = plan match {
      case s: Sort if s.global => (s.order, Map.empty[Attribute, Attribute])
      case Project(list, s: Sort) if s.global =>
        (s.order, list.collect { case a @ Alias(r: Attribute, _) => r -> a.toAttribute }.toMap)
      case _ => (Nil, Map.empty[Attribute, Attribute])
    }
    val out = plan.outputSet
    order.map { o =>
      o.child match {
        case a: Attribute => rename.get(a).orElse(Some(a).filter(out.contains))
          .map(k => o.copy(child = k))
        case _ => None
      }
    }.takeWhile(_.nonEmpty).flatten
  }

  /** A value rendered for multiset comparison (arrays, maps and binary by
    * content). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  test("over every gate the rule adds no shuffle, keeps the rows, and " +
      "returns them in sort-key order") {
    val failures = Seq.newBuilder[String]
    var ordered, switched, ranged = 0
    for ((gate, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      def run(spark: SparkSession) = {
        val df = fn(spark, sf)
        val qe = df.queryExecution
        val shuffles = PlanCheck.shuffles(df).size
        val single = singleTaskSorts(df).size
        val range = rangeShuffles(df).size
        val rows = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
        spark.catalog.clearCache()
        graft.core.ScopedStorage.releaseAll()
        (qe, shuffles, single, range, rows)
      }
      val (qe, shuffles, single, range, rows) = run(ruled)
      val (refQe, refShuffles, _, _, refRows) = run(plain)
      if (shuffles > refShuffles)
        failures += s"$gate: $shuffles shuffles with the rule, $refShuffles without\n" +
          qe.executedPlan
      val toRow = CatalystTypeConverters.createToScalaConverter(qe.analyzed.schema)
      val toRefRow = CatalystTypeConverters.createToScalaConverter(refQe.analyzed.schema)
      val got = rows.toSeq.map(r => canon(toRow(r))).sorted
      val want = refRows.toSeq.map(r => canon(toRefRow(r))).sorted
      if (got != want)
        failures += s"$gate: ${got.size} rows with the rule, ${want.size} without, " +
          s"first difference ${got.diff(want).headOption} / ${want.diff(got).headOption}"
      val keys = outputSortKeys(qe.optimizedPlan)
      if (keys.nonEmpty) {
        ordered += 1
        val ordering = new InterpretedOrdering(keys, qe.optimizedPlan.output)
        val unordered = rows.sliding(2).indexWhere {
          case Array(a, b) => ordering.compare(a, b) > 0
          case _ => false
        }
        if (unordered >= 0)
          failures += s"$gate: rows $unordered and ${unordered + 1} out of sort-key order"
      }
      if (single > 0) switched += 1
      if (range > 0) ranged += 1
    }
    info(s"${SparkEntry.queries.size} gates: $switched sort in one task, " +
      s"$ranged keep a range exchange, $ordered checked for sort-key order")
    val found = failures.result()
    assert(found.isEmpty, found.mkString("\n"))
    // Coverage floors, below the 118 switched and 180 order-checked gates
    // of the shipped sf0.001 tables.
    assert(switched >= 100, "the rule must fire on most sorted gates at sf0.001")
    assert(ordered >= 170, "the order check must cover most gates")
  }
}
