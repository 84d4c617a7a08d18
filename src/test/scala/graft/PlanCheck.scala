package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan walkers for spec pins — by NODE TYPE, not by
  * substring-matching the rendered plan (r14 ADVICE: string fragments like
  * "Exchange hashpartitioning" are brittle across Spark versions and AQE
  * re-planning). AdaptiveSparkPlanExec and the QueryStageExec wrappers are
  * LEAF nodes whose real subtree hangs off a field, so a naive
  * `plan.collect` stops at them — [[nodes]] expands through both (reading
  * the CURRENT adaptive plan: the initial one before execution, the final
  * one after an action ran).
  */
object PlanCheck {

  def nodes(df: DataFrame): Seq[SparkPlan] =
    walk(df.queryExecution.executedPlan)

  def nodes(plan: SparkPlan): Seq[SparkPlan] = walk(plan)

  private def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case other => other.children.flatMap(walk)
  })

  def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df).collect { case e: ShuffleExchangeExec => e }

  /** Shuffle exchanges that hash-partition on an attribute with this NAME
    * (the bucketed-join pin: a co-located join must not re-exchange the
    * bucketed side on its bucket column). */
  def shufflesOn(df: DataFrame, columnName: String): Seq[ShuffleExchangeExec] =
    shuffles(df).filter(_.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == columnName))
      case _ => false
    })

  def windows(df: DataFrame): Seq[WindowExec] =
    nodes(df).collect { case w: WindowExec => w }

  def aggregates(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] =
    nodes(df).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }

  def broadcastHashJoins(df: DataFrame): Seq[BroadcastHashJoinExec] =
    nodes(df).collect { case j: BroadcastHashJoinExec => j }

  /** Nested-loop-shaped joins (the operators a bounded fan-out/aggregation
    * formulation exists to avoid). */
  def nestedLoopJoins(df: DataFrame): Seq[SparkPlan] =
    nodes(df).filter {
      case _: BroadcastNestedLoopJoinExec => true
      case _: CartesianProductExec => true
      case _ => false
    }

  /** Joins AQE re-planned as skew joins (only meaningful on a plan whose
    * action already ran). */
  def skewJoins(df: DataFrame): Seq[SparkPlan] =
    nodes(df).filter {
      case j: SortMergeJoinExec => j.isSkewJoin
      case j: ShuffledHashJoinExec => j.isSkewJoin
      case _ => false
    }
}
