package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.util.Utils

import java.util.Properties

/** Minimal access bridge for APIs Spark scopes `private[sql]` or
  * `private[spark]` — the same
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

  /** A copy of the calling thread's Spark local properties: job group,
    * job tags, scheduler pool and any key the caller set. Thread-pool
    * threads get them only by inheritance at creation; this passes them on
    * explicitly (`private[spark]` in `SparkContext`).
    */
  def localProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Installs a copy of `props` as the calling thread's local properties,
    * so that this thread's SQL executions cannot touch another thread's.
    */
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(Utils.cloneProperties(props))
}
