package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Grouped top-k as a first-class Catalyst operator.
  *
  * The DataFrame idiom — `row_number().over(Window.partitionBy(g)
  * .orderBy(o)) <= k` — plans as Exchange → SORT of every row →
  * WindowExec that still materializes every row before the filter
  * drops them. At 100 TB that is a full shuffle + full sort of the
  * fact table to keep k rows per group.
  *
  * This operator plans the aggregation-style two-phase shape instead:
  *
  *   partial GroupedTopKExec   (per input partition: bounded heap per
  *                              group, O(n log k), no sort, no shuffle)
  *        → Exchange on group keys (carries ≤ k rows per (group,
  *                              input-partition) — the map-side prune)
  *   final  GroupedTopKExec    (same heap over the pruned rows)
  *
  * Equivalent to `slice_min/slice_max(with_ties = FALSE)` with a total
  * ordering. Output order within a group is unspecified (like any
  * aggregate); callers arrange downstream.
  *
  * Memory: each task holds ≤ k rows per group seen in its partition —
  * the same footprint class as hash aggregation over the group keys
  * (but without spilling; for k × |groups per partition| beyond task
  * memory, use the window form).
  *
  * Registered by [[GraftExtensions]] (config
  * `spark.sql.extensions=graft.plans.GraftExtensions`) or installed at
  * runtime by [[GraftExtensions.install]], which
  * [[TopK.topKPerGroup]] calls.
  */
case class GroupedTopK(groupExprs: Seq[Expression], order: Seq[SortOrder],
                       k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"topKPerGroup: k must be positive (got $k)")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopK =
    copy(child = newChild)
}

case class GroupedTopKExec(groupExprs: Seq[Expression], order: Seq[SortOrder],
                           k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))
  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)
  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groups = groupExprs
    val sortOrder = order
    val limit = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groups, childOutput)
      val toUnsafe = UnsafeProjection.create(
        childOutput.map(_.asInstanceOf[Expression]), childOutput)
      // top-k = the k minimal rows under `order` (callers encode "max"
      // via descending SortOrder). PriorityQueue is a max-heap under
      // its ordering, so with the ascending row ordering its head is
      // the WORST row currently kept — the eviction candidate.
      val rowOrd = GenerateOrdering.generate(sortOrder, childOutput)
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[UnsafeRow]]()
      while (iter.hasNext) {
        val row = toUnsafe(iter.next())
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[UnsafeRow](
            rowOrd.asInstanceOf[Ordering[UnsafeRow]])
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (rowOrd.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator)
    }
  }
}

/** Plans [[GroupedTopK]] as the partial→shuffle→final pair. */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(g, o, k, child) =>
      val part = GroupedTopKExec(g, o, k, partial = true, planLater(child))
      GroupedTopKExec(g, o, k, partial = false, part) :: Nil
    case _ => Nil
  }
}
