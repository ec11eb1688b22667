package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsLast, SortOrder => CatSortOrder}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}

/** Public entry for the [[GroupedTopK]] custom operator. */
object TopK {

  /** The k first rows of each group under `orderCols` (make the
    * ordering total — append unique tie-breakers — for deterministic
    * results; use `.desc` keys for top-by-largest). Plans as partial
    * heaps → one pruned shuffle → final heaps; see [[GroupedTopK]].
    *
    * `groupCols` empty = global top-k (single final task — prefer
    * orderBy+limit, which Spark already plans as TakeOrderedAndProject,
    * unless composing with group semantics). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderCols: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.install(spark)
    val order = orderCols.map(c => ColumnBridge.catalystExpr(c) match {
      case so: CatSortOrder => so
      case e => CatSortOrder(e, Ascending, NullsLast, Seq.empty)
    })
    PlanBridge.ofRows(spark, GroupedTopK(
      groupCols.map(UnresolvedAttribute(_)), order, k, PlanBridge.analyzed(df)))
  }
}
