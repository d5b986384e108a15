package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project, Repartition, RepartitionOperation, Sample}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plans a small file input as one partition, installed as a pre-CBO
  * optimizer rule (it runs once, after predicate pushdown and column
  * pruning).
  *
  * A scan no larger than `spark.sql.files.openCostInBytes` (4 MB by
  * default) is at most one file split's worth of bytes, yet an aggregate,
  * join, window or global sort above it still plans a shuffle, and a
  * global sort adds a range-sampling job on top. For each child of such
  * an operator that is a chain of deterministic `Project`/`Filter` nodes
  * over a small file `LogicalRelation`, the rule inserts
  * `Repartition(1, shuffle = false)`. That plans as `CoalesceExec(1)`,
  * whose `SinglePartition` output satisfies every distribution those
  * operators require, so `EnsureRequirements` adds no exchange above it
  * and the query runs as one stage. Broadcast joins are planned as before.
  *
  * Guards:
  *  - streaming plans are left alone: their stateful operators partition
  *    state by `spark.sql.shuffle.partitions`;
  *  - a chain with a nondeterministic expression is not wrapped, since
  *    its values may depend on the partition index;
  *  - the child of a `Generate` is not wrapped: an explode can multiply
  *    the rows far past the input size, so the operator above it keeps
  *    its parallel exchange;
  *  - the child of a `Sample` is not wrapped: the sampled rows depend on
  *    the partitioning;
  *  - the child of a repartition stays as the user placed it, and the
  *    rule's own output is never wrapped twice.
  *
  * The threshold is the session's `openCostInBytes`, not a setting of its
  * own; setting it to 0 shows the partitioned plan of a tiny input.
  */
object SmallInputSinglePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUp {
      case p if !keepsChildren(p) && p.children.exists(smallScan) =>
        p.withNewChildren(p.children.map(c =>
          if (smallScan(c)) Repartition(1, shuffle = false, c) else c))
    }

  private def keepsChildren(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: RepartitionOperation | _: Generate | _: Sample => true
    case _ => false
  }

  private def smallScan(p: LogicalPlan): Boolean = p match {
    case Project(list, child) => list.forall(_.deterministic) && smallScan(child)
    case Filter(cond, child) => cond.deterministic && smallScan(child)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation] &&
      r.stats.sizeInBytes <= conf.filesOpenCostInBytes
    case _ => false
  }
}
