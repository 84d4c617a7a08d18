package graft.tools

import java.nio.file.{Files, Paths}

/** Diagnostic main: dump `.explain("formatted")` for named gates (or all)
  * to one text file per gate — the plan evidence the optimization rounds
  * commit under plans/r17 and successors (`sbt "runMain graft.tools.PlanDump
  * <sfDir> <outDir> [q1,q2,...]"`). Not part of the driver contract.
  *
  * The session is Bench's ([[graft.core.Engine.devSession]]), so the
  * dumped INITIAL plans are the ones the bench executes — AQE's final
  * plans differ at runtime (coalesced reads, broadcast rewrites), which
  * Bench's record (target/gate_metrics.jsonl) and PlanAudit cover instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)        => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(",").toSet))
      case _ => sys.error(
        "usage: graft.tools.PlanDump <sfDir> <outDir> [q1,q2,...]")
    }
    val spark = graft.core.Engine.devSession("graft-plandump-wh-")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        graft.core.ScopedStorage.releaseAll()
      }
    spark.stop()
  }
}
