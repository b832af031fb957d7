package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ catalyst-Expression bridge.
  *
  * Spark 4 made the conversion utilities (`classic.ExpressionUtils`)
  * private[sql]; extension libraries that ship native expressions use a
  * one-file shim in the org.apache.spark.sql namespace to reach them —
  * this is that shim, and the only file in the repo outside the graft
  * namespace. Keep it minimal: conversions only, no logic.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for composing custom
    * LogicalPlan nodes over already-resolved children). */
  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a (resolved) logical plan. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
