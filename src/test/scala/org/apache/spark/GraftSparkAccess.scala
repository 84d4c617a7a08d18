package org.apache.spark

import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler.{TaskInfo, TaskLocality}

/** Spark internals the specs need and the public API does not expose:
  * draining the listener bus, and building the task-end events a stage
  * listener receives.
  */
object GraftSparkAccess {
  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A finished task's info: launched at `launch`, done at `finish` (ms). */
  def finishedTask(id: Long, launch: Long, finish: Long): TaskInfo = {
    val info = new TaskInfo(id, id.toInt, 0, id.toInt, launch, "exec-1",
      "localhost", TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, finish)
    info
  }

  def emptyTaskMetrics(): TaskMetrics = TaskMetrics.empty
  def emptyExecutorMetrics(): ExecutorMetrics = new ExecutorMetrics()
}
