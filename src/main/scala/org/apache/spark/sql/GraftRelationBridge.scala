package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy

/** Bridge into the sql-private DataFrame constructor, so graft can
  * expose a custom `FileIndex`-backed relation (the checkpoint-served
  * store reader) as a plain DataFrame — the same extension seam
  * Delta-class table formats build their snapshot readers on. */
object GraftRelationBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Filters with their attribute names matched to the relation's
    * schema, as the file-source planner normalizes them. */
  def normalizeExprs(exprs: Seq[Expression], attrs: Seq[Attribute]): Seq[Expression] =
    DataSourceStrategy.normalizeExprs(exprs, attrs)
}
