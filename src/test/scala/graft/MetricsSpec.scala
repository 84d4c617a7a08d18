package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.GraftSparkAccess
import org.apache.spark.scheduler.{SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metrics

/** [[Metrics]]: stage attempts keyed by (stage id, attempt), jobs and stages
  * attributed by job tag, rounds kept inside their gate's record line.
  */
class MetricsSpec extends AnyFunSuite {
  private def jobStart(m: Metrics, job: Int, stage: Int, tags: String*): Unit = {
    val props = new java.util.Properties
    props.setProperty("spark.job.tags", tags.mkString(","))
    m.onJobStart(SparkListenerJobStart(job, 0L, Seq(new StageInfo(stage, 0,
      s"stage $stage", 10, Nil, Nil, "details", resourceProfileId = 0)), props))
  }

  private def taskEnd(m: Metrics, stage: Int, attempt: Int, id: Long, durMs: Long): Unit =
    m.onTaskEnd(GraftSparkAccess.taskEnd(stage, attempt, id, durMs))

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("each attempt of a retried stage reports its own tasks") {
    val m = new Metrics
    jobStart(m, 0, 7)
    // Attempt 0: nine 100 ms tasks and a 900 ms straggler; the retry: 50 ms.
    (0 until 9).foreach(i => taskEnd(m, 7, 0, i, 100))
    taskEnd(m, 7, 0, 9, 900)
    (0 until 10).foreach(i => taskEnd(m, 7, 1, 100 + i, 50))
    val Seq(first, retry) = m.group(_ => true)._2
    assert((first.attempt, first.taskMs.size, first.maxTaskMs, first.ratio) === ((0, 10, 900, 9.0)))
    assert((retry.attempt, retry.taskMs.size, retry.maxTaskMs, retry.ratio) === ((1, 10, 50, 1.0)))
    val json = parse(m.line(""""op":null""", _ => true)).get("stage_attempts").get(0)
    assert(json.get("ratio").asDouble === 9.0 && json.get("name").asText === "stage 7")
  }

  test("an untagged job is attributed to no gate; a job with a gate and a " +
      "round tag counts under both, and rounds stay in their gate") {
    val m = new Metrics
    val (a, b) = (Metrics.gateTag("dd_cluster"), Metrics.gateTag("pipe_neardup_clusters"))
    jobStart(m, 0, 1)
    taskEnd(m, 1, 0, 0, 10)
    jobStart(m, 1, 2, a, Metrics.roundTag(1, 3))
    (1 until 3).foreach(i => taskEnd(m, 2, 0, i, 10))
    jobStart(m, 2, 3, b, Metrics.roundTag(2, 3))
    taskEnd(m, 3, 0, 3, 10)
    assert(m.group(_.isEmpty)._2.map(_.stage) === Seq(1))
    val lineA = parse(m.line(""""gate":"dd_cluster"""", _(a)))
    assert(Seq("jobs", "stages", "tasks").map(lineA.get(_).asInt) === Seq(1, 1, 2))
    val Seq(round) = (0 until lineA.get("cc_rounds").size).map(lineA.get("cc_rounds").get)
    assert(Seq("call", "round", "jobs", "tasks").map(round.get(_).asInt) === Seq(1, 3, 1, 2))
    assert(parse(m.line(""""gate":"b"""", _(b))).get("cc_rounds").get(0).get("tasks").asInt === 1)
  }

  test("on a live session, a job over an empty frame records and a shuffle " +
      "lands on its own tag only") {
    import SparkTestSession.spark
    val sc = spark.sparkContext
    val m = GraftSparkAccess.recorded(sc) {
      Metrics.tagged(sc, "empty") {
        spark.createDataFrame(sc.emptyRDD[Row], spark.range(1).schema).collect()
      }
      Metrics.tagged(sc, "shuffle")(spark.range(0, 10000, 1, 4).repartition(3).count())
      Metrics.tagged(sc, "after")(spark.range(10).collect())
    }
    def record(tag: String) = parse(m.line(s""""gate":"$tag"""", _(tag)))
    assert(record("empty").get("jobs").asInt >= 1 && record("empty").get("tasks").asInt === 0)
    assert(record("shuffle").get("shuffle_write_bytes").asLong > 0)
    assert(record("after").get("jobs").asInt >= 1 && record("after").get("shuffle_write_bytes").asLong === 0)
  }
}
