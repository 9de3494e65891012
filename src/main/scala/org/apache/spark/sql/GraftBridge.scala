package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access bridge for APIs Spark scopes `private[sql]` — the same
  * technique public Spark-extension projects use (a one-object package
  * bridge) to move between Columns, catalyst Expressions and logical
  * plans. Nothing else in this repo lives outside the graft namespace.
  */
object GraftBridge {
  /** Column ↔ catalyst Expression (Spark 4 moved these behind the
    * column-node indirection).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame — for embedding as a scalar
    * subquery (the shape Spark's InjectRuntimeFilter builds internally).
    */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
}
