package graft.core

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small result in one task: rewrites a global
  * `Sort(order, child)` to `Sort(order, Repartition(1, shuffle = true,
  * child))`, so the physical plan is `Sort ← Exchange SinglePartition ←
  * child` instead of `Sort ← Exchange rangepartitioning ← child`.
  *
  * Both plans shuffle once. The range exchange also builds a
  * `RangePartitioner`, whose bounds come from a separate sampling job that
  * runs the sort's whole input (scan and per-row kernels included) a
  * second time; AQE then merges the small result into one reduce task
  * anyway. `Repartition(1)` plans as `SinglePartition`, which satisfies
  * the sort's `OrderedDistribution`, so `EnsureRequirements` adds nothing
  * on top and the sampling job is gone. Rows with distinct sort keys come
  * out in the same order; rows with tied keys may come out in another
  * order, as they may under a range sort.
  *
  * The rule fires only when every one of these holds:
  *   - AQE is on. Without it the range exchange keeps its reduce
  *     partitions and the choice is not one task against one task.
  *   - The child's size estimate is at most
  *     `spark.sql.adaptive.advisoryPartitionSizeInBytes`: Spark's own
  *     target for one reduce task, the size up to which AQE would merge
  *     the range partitions into one task anyway. The estimate leans high
  *     (filters do not shrink it), so a larger input keeps the range path.
  *   - The plan is not streaming.
  *   - The sort is not the input of a `Limit`, `Offset` or `Tail`,
  *     directly or through a `Project`: Spark plans those as
  *     `TakeOrderedAndProject` (a per-partition top-K, no exchange under
  *     it), which a single-partition shuffle would only slow down.
  *   - The child may not already end in one partition: a `Repartition`
  *     to one partition, a limit, a global aggregate, an unpartitioned
  *     window or a one-slice `Range`, under any unary operators, on
  *     either side of a join (whose output follows its streamed side) or
  *     on every side of a union (which then keeps one partition). There
  *     the sort needs no exchange at all, and the rule must never add
  *     one. This also makes the rule idempotent: its own output ends in
  *     `Repartition(1)`.
  *
  * `graft.Bench` times `count()`, under which Catalyst drops the sort, so
  * only a bench that writes the full output (perfbench) shows the change.
  * [[Engine.perfDefaults]] registers the rule on every session the engine
  * tunes.
  */
object SingleTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.adaptiveExecutionEnabled || plan.isStreaming) plan
    else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case _: LocalLimit | _: GlobalLimit | _: Offset | _: Tail =>
      plan.mapChildren(keepTopK)
    case s @ Sort(_, true, child, _) if small(child) && !onePartition(child) =>
      s.copy(child = Repartition(1, shuffle = true, rewrite(child)))
    case other => other.mapChildren(rewrite)
  }

  /** The input of a limit: a sort there (or under a `Project` there) stays
    * as it is, for `TakeOrderedAndProject`. */
  private def keepTopK(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort => s.mapChildren(rewrite)
    case p @ Project(_, s: Sort) => p.copy(child = s.mapChildren(rewrite))
    case other => rewrite(other)
  }

  private def small(child: LogicalPlan): Boolean =
    child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  private def onePartition(plan: LogicalPlan): Boolean = plan match {
    case r: Repartition => r.numPartitions == 1
    case r: RepartitionByExpression => r.numPartitions == 1
    case _: GlobalLimit | _: Offset | _: Tail => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case w: Window if w.partitionSpec.isEmpty => true
    case r: Range => !r.numSlices.exists(_ > 1)
    case u: UnaryNode => onePartition(u.child)
    case j: Join => j.children.exists(onePartition)
    case u: Union => u.children.forall(onePartition)
    case _ => false
  }
}
