package org.apache.spark

import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler.{SparkListenerTaskEnd, TaskInfo, TaskLocality}

/** Spark internals the specs need and the public API does not expose:
  * draining the listener bus, and building the task-end events a stage
  * listener receives.
  */
object GraftSparkAccess {
  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A recorder that heard every job `body` ran, read after the bus drained. */
  def recorded(sc: SparkContext)(body: => Unit): graft.core.Metrics = {
    val m = new graft.core.Metrics
    sc.addSparkListener(m)
    try body finally { drainListenerBus(sc); sc.removeSparkListener(m) }
    m
  }

  /** A finished task `id` of stage `stage`'s `attempt`, run for `durMs`. */
  def taskEnd(stage: Int, attempt: Int, id: Long, durMs: Long): SparkListenerTaskEnd = {
    val info = new TaskInfo(id, id.toInt, 0, id.toInt, 1000L, "exec-1",
      "localhost", TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, 1000L + durMs)
    SparkListenerTaskEnd(stage, attempt, "ResultTask", Success, info,
      new ExecutorMetrics(), TaskMetrics.empty)
  }
}
