package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Nondeterministic, SortOrder}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeserializeToObject, Filter, Generate, GlobalLimit, Join, LeafNode, LocalLimit, LogicalPlan, MapPartitions, Project, Repartition, RepartitionOperation, Sample, SerializeFromObject, Sort, Union, V2WriteCommand, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{V1WriteCommand, WriteFiles}

/** Runs a small query without a shuffle. Spark plans an exchange under
  * every operator that needs its input distributed: a grouped
  * aggregate, a window, a window group limit and a global sort (which
  * also pays a range-bounds sampling job). For a plan whose inputs are
  * small that buys no parallelism, only a second stage and an AQE
  * re-plan. When the leaves of the plan, subquery leaves included, sum
  * to at most `MaxInputBytes`, a `Repartition(1, shuffle = false)` goes
  * under each such operator: its `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies every distribution, so no
  * exchange is planned and the query runs as one stage.
  *
  * An operator whose child is already one partition (a global
  * aggregate, a limit, a one-partition coalesce, or a union or join of
  * such inputs, seen through operators that keep their child's
  * partitioning) gets no coalesce, nor does one whose child is an
  * explicit repartition, a sort whose child is already in order (a
  * `Range`, whose range-partitioned output needs no sort once
  * planned), or a sort under a limit, which plans as one
  * `TakeOrderedAndProject`. Joins are never given a coalesce: they keep
  * their planned exchanges and broadcasts. The operator a join reads
  * (through projections, filters and generators) is coalesced only when
  * Spark's join selection broadcasts that input (by hint or size), or when
  * that makes every input of the join one partition.
  *
  * Left alone: streaming plans, a leaf without size statistics (its
  * default size is above the gate), and a plan holding a
  * nondeterministic expression or a `Sample`, whose results follow the
  * partitioning. Under a file write only what lies below a
  * one-partition repartition is rewritten, so a write keeps its file
  * layout: a `coalesce(1)` write is one file either way.
  */
object SmallPlanOnePartition extends Rule[LogicalPlan] with JoinSelectionHelper {

  /** Summed `stats.sizeInBytes` (file bytes, for parquet) of a plan's
    * leaves. Timed with perfbench's checksum action on `local[2]` (4
    * vCPUs), the rewrite without the gate against no rewrite, 9
    * interleaved reps, over perfbench inputs at 0.1-2 x their size:
    * every rewritten job was ahead up to 4.1 MB of leaves (grouped
    * aggregate, windows, as-of window join, distinct: 16-55%), and
    * `agg_group_sums` was still 12% ahead at 10.8 MB but 9% behind at
    * 22.9 MB, where one task aggregating the whole input costs more
    * than the shuffle it saves. The gate stays below that crossing.
    */
  private[graft] val MaxInputBytes: Long = 4L << 20

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || !small(plan) || partitionDependent(plan)) plan
    else rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = coalesce(descend(p))

  /** `p` over its rewritten children, with no coalesce of its own. */
  private def descend(p: LogicalPlan): LogicalPlan = p match {
    case _: V1WriteCommand | _: WriteFiles | _: V2WriteCommand => p.mapChildren(inWrite)
    case _: LocalLimit => p.mapChildren(topK)
    case j: Join =>
      // a join input is coalesced only when Spark broadcasts it, or when
      // that makes every input of the join one partition: beside an
      // input that stays partitioned, a coalesced input is shuffled
      // again by a shuffled join, and narrows a broadcast join's
      // streamed side to one task
      val q = j.mapChildren(joinInput(_, descend))
      val all = q.mapChildren(joinInput(_, coalesce))
      if (onePartition(all)) all
      else getBroadcastBuildSide(j, hintOnly = true, conf)
        .orElse(getBroadcastBuildSide(j, hintOnly = false, conf)) match {
        case Some(BuildLeft) => q.withNewChildren(Seq(all.children.head, q.children(1)))
        case Some(BuildRight) => q.withNewChildren(Seq(q.children.head, all.children(1)))
        case None => q
      }
    case _ => p.mapChildren(rewrite)
  }

  private def coalesce(q: LogicalPlan): LogicalPlan =
    if (needsDistribution(q) && !onePartition(q.children.head))
      q.withNewChildren(Seq(Repartition(1, shuffle = false, q.children.head)))
    else q

  /** `top` applied to the operator a join reads, seen through the
    * operators that keep their child's partitioning.
    */
  private def joinInput(p: LogicalPlan, top: LogicalPlan => LogicalPlan): LogicalPlan =
    p match {
      case _: Project | _: Filter | _: Generate => p.mapChildren(joinInput(_, top))
      case _ => top(p)
    }

  private def inWrite(p: LogicalPlan): LogicalPlan = p match {
    case Repartition(1, _, c) => p.withNewChildren(Seq(rewrite(c)))
    case _ => p.mapChildren(inWrite)
  }

  /** The sort a limit reads, and the projection between them, keep
    * their plan: `TakeOrderedAndProject` is already one stage.
    */
  private def topK(p: LogicalPlan): LogicalPlan = p match {
    case Sort(_, true, _, _) => p.mapChildren(rewrite)
    case _: Project => p.mapChildren(topK)
    case _ => rewrite(p)
  }

  private def needsDistribution(p: LogicalPlan): Boolean = (p match {
    case a: Aggregate => a.groupingExpressions.nonEmpty
    case _: Window | _: WindowGroupLimit => true
    case Sort(order, true, c, _) => !SortOrder.orderingSatisfies(c.outputOrdering, order)
    case _ => false
  }) && !p.children.head.isInstanceOf[RepartitionOperation]

  /** Planned as one partition already, so a coalesce would only add a
    * node and split a code-generated stage.
    */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case Repartition(1, _, _) | _: GlobalLimit => true
    case _: Union | _: Join | _: AsofJoin => p.children.forall(onePartition)
    case _: Project | _: Filter | _: Generate | _: SerializeFromObject | _: MapPartitions |
        _: DeserializeToObject | _: Aggregate | _: Window | _: WindowGroupLimit | _: Sort =>
      onePartition(p.children.head)
    case _ => false
  }

  private def partitionDependent(p: LogicalPlan): Boolean =
    p.collectWithSubqueries {
      case s: Sample => s
      case n if n.expressions.exists(_.exists(_.isInstanceOf[Nondeterministic])) => n
    }.nonEmpty

  private def small(p: LogicalPlan): Boolean =
    p.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum <=
      MaxInputBytes
}
