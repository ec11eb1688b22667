package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, MutableProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

/** Spark's own expressions evaluated over driver-side rows: `cols` are
  * analyzed against `in` once, when the projection is built, and bound
  * and compiled then, so a driver scoring path that reuses the
  * projection evaluates exactly what a plan over the same columns
  * would, without planning a frame per call. `in` rows are external
  * rows of that schema; the output rows have [[schema]]. Evaluation is
  * serialized: one projection may be shared across threads. */
final class RowProjection(spark: SparkSession, in: StructType, cols: Seq[Column]) {
  private val plan = spark.createDataFrame(java.util.List.of[Row](), in)
    .select(cols: _*).queryExecution.analyzed

  /** The output schema, as the same `select` over a frame would give it. */
  val schema: StructType = plan.schema

  private val proj = plan match {
    case Project(list, child) =>
      val p = MutableProjection.create(list.map {
        case a: Alias => a.child
        case e => e
      }, child.output)
      p.initialize(0)
      p
    case other => throw new IllegalStateException(s"RowProjection: not a projection: $other")
  }
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(in)
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)

  def apply(rows: Iterator[Row]): Array[Row] = synchronized {
    rows.map(r => toScala(proj(toCatalyst(r).asInstanceOf[InternalRow])).asInstanceOf[Row])
      .toArray
  }
}
