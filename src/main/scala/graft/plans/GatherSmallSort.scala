package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, LogicalQueryStage, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{OrderedDistribution, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort as one gather and one sort task.
  *
  * Spark plans every global `Sort` over a range exchange, and the
  * range partitioner first runs a sampling job over the exchange's
  * input. When that input is a window, join or aggregate over a
  * finished shuffle, the sampling job computes the whole input once
  * only to pick bounds, the map stage computes it again, and for a
  * small input AQE then coalesces the range partitions into one task
  * anyway. This strategy plans
  *
  *   SortExec(global) ← ShuffleExchangeExec(SinglePartition) ← child
  *
  * instead: no sampling job, one sort task. It fires only during AQE
  * re-planning, when the child holds a finished query stage
  * (`LogicalQueryStage`) so `child.stats` are runtime statistics, and
  * only when those say the child is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the size AQE
  * itself aims one post-shuffle partition at. Everything else returns
  * Nil and Spark plans its range exchange:
  *   - AQE off, and AQE's initial planning (no stage has run);
  *   - a child holding a `Generate`: Spark's size estimate keeps the
  *     generator's input row count, so an explode that multiplies rows
  *     would look small;
  *   - a child already in one partition or in range order (a finished
  *     stage under projections and filters whose partitioning
  *     satisfies the sort): Spark adds no exchange there, and neither
  *     does this.
  * `orderBy(...).limit(n)` is planned above the sort
  * (`TakeOrderedAndProject`) and never reaches it. Answers do not
  * change: one sorted partition is a global order.
  *
  * Registered by [[GraftExtensions]] (`spark.sql.extensions` or
  * [[GraftExtensions.install]]).
  */
object GatherSmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if gathers(order, child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  private def gathers(order: Seq[SortOrder], child: LogicalPlan): Boolean =
    child.exists(_.isInstanceOf[LogicalQueryStage]) &&
      !child.exists(_.isInstanceOf[Generate]) &&
      !placed(order, child) &&
      child.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The child is a finished stage, under projections and filters,
    * whose output partitioning already satisfies the sort. */
  @annotation.tailrec
  private def placed(order: Seq[SortOrder], child: LogicalPlan): Boolean = child match {
    case s: LogicalQueryStage => s.physicalPlan match {
      case p: SparkPlan => p.outputPartitioning.satisfies(OrderedDistribution(order))
      case _ => false
    }
    case Project(_, c) => placed(order, c)
    case Filter(_, c) => placed(order, c)
    case _ => false
  }
}
