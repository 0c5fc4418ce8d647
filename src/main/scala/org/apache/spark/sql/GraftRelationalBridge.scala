package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` classic-API constructors so
  * graft's custom Catalyst nodes surface as ordinary API values: a
  * hand-built logical operator (e.g. [[graft.plans.AsOfJoin]]) as a
  * DataFrame, a custom expression (the kernels of
  * [[graft.functions]]) as a Column; and the `private[spark]` listener
  * bus's drain, for [[graft.tools.Profile]]. Living in Spark's package
  * namespace purely for access — the standard technique third-party
  * Catalyst extensions use; no Spark behavior is modified or
  * overridden here.
  */
object GraftRelationalBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Catalyst expression as a Column (unresolved children resolve
    * when the Column is used in a plan).
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until the listener bus has delivered every event posted so
    * far (jobs, stages, tasks, query executions, streaming progress),
    * so a listener's counts are complete when a measured call returns.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
