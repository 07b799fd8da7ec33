package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeserializeToObject, Filter, Generate, LeafNode, LogicalPlan, MapPartitions, Project, Repartition, RepartitionOperation, SerializeFromObject, Sort, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{V1WriteCommand, WriteFiles}

/** Sorts a small final result in one task. Spark plans a global `Sort`
  * as a range-bounds sampling job plus a range shuffle; for a result
  * whose inputs are small, that fixed cost is most of the query. When
  * the leaves the sort reads sum to at most `MaxInputBytes`, a
  * `Repartition(1, shuffle = false)` goes under the sort: its
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * sort's ordered distribution, so no exchange and no sampling job is
  * planned. The work between the last exchange and the sort runs in
  * that one task too.
  *
  * Only the result's root sort is rewritten, found through projections
  * and a one-partition coalesce, which keep its row order. Under a file
  * write it is reached only through such a coalesce, so a write keeps
  * its file layout: a `coalesce(1)` write is one file either way. A sort
  * under a `Limit` is already one stage (`TakeOrderedAndProject`) and is
  * never reached. Left alone: streaming plans, a leaf without size
  * statistics (its default size is above the gate), a sort whose child
  * already sets the partitioning or is planned as one partition, and a
  * sort whose child is already in order (a `Range`, whose
  * range-partitioned output needs no sort once planned).
  */
object SmallFinalSort extends Rule[LogicalPlan] {

  /** Summed `stats.sizeInBytes` (file bytes, for parquet) of the leaves
    * a rewritten sort may read. Timed with perfbench's checksum action
    * on `local[2]`, rule on against off, over leaf sums from 27 KB to
    * 46 MB: the rule was ahead at every size, by at least 8% on every
    * rewritten job up to 5 MB, but `agg_group_sums`' gain narrowed to 4%
    * at 11 MB and 3% at 23 MB. The gate stays below where it thins.
    */
  private[graft] val MaxInputBytes: Long = 4L << 20

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else atRoot(plan)

  private def atRoot(p: LogicalPlan, inWrite: Boolean = false): LogicalPlan = p match {
    case s @ Sort(order, true, c, _) if !inWrite && !c.isInstanceOf[RepartitionOperation] &&
        !SortOrder.orderingSatisfies(c.outputOrdering, order) && !onePartition(c) && small(c) =>
      s.copy(child = Repartition(1, shuffle = false, c))
    case Repartition(1, false, c) => p.withNewChildren(Seq(atRoot(c)))
    case _: Project => p.withNewChildren(p.children.map(atRoot(_, inWrite)))
    case _: V1WriteCommand | _: WriteFiles => p.withNewChildren(p.children.map(atRoot(_, true)))
    case _ => p
  }

  /** Planned as one partition already, so a coalesce would only add a
    * node: a global aggregate, a one-partition coalesce, or a union of
    * them, seen through operators that keep their child's partitioning.
    */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.isEmpty
    case Repartition(1, _, _) => true
    case u: Union => u.children.forall(onePartition)
    case _: Project | _: Filter | _: Generate | _: SerializeFromObject |
        _: MapPartitions | _: DeserializeToObject => onePartition(p.children.head)
    case _ => false
  }

  private def small(p: LogicalPlan): Boolean =
    p.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum <=
      MaxInputBytes
}
