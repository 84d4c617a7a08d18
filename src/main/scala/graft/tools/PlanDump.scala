package graft.tools

import java.nio.file.{Files, Paths}

/** Diagnostic main: dump `.explain("formatted")` for named gates (or all)
  * to one text file per gate — the plan evidence the optimization rounds
  * commit under plans/r17 and successors (`sbt "runMain graft.tools.PlanDump
  * <sfDir> <outDir> [q1,q2,...]"`). Not part of the driver contract.
  *
  * The session mirrors Bench's (same cpu/shuffle-partition/perf confs), so
  * the dumped INITIAL plans are the ones the bench executes — AQE's final
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
    // Same "4" default as Bench (r17 advice: a differing default silently
    // dumps plans at a shuffle-partition count the bench never executes).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
      graft.core.Engine.scratchLocalDir()
        .fold(b)(d => b.config("spark.local.dir", d))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Engine.perfDefaults(spark)
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
