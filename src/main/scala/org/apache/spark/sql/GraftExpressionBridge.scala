package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Tiny bridge into Spark's `private[sql]` Column↔Expression
  * conversions, so graft's custom Catalyst expressions can expose a
  * public Column API without going through the function registry.
  * (The standard extension-library pattern.) Besides those, it touches
  * only the session and plan accessors below and the `private[spark]`
  * task input counters, for graft's own file reads.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (for graft's custom logical
    * operators, e.g. the AsOfJoin node). */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session on `sc` with no extensions installed: what a driver
    * gets that builds its own session without `GraftSession`. */
  def plainSession(sc: org.apache.spark.SparkContext): SparkSession =
    new classic.SparkSession(sc)

  /** The analyzed logical plan of a DataFrame. */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Column → catalyst Expression, eagerly converted (the lazy
    * `expression` wrapper stays a ColumnNodeExpression until the
    * Dataset API converts it; plan-building code needs the real
    * expression tree up front). */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Count `records` input records of `bytes` bytes against the running
    * task, as Spark's own file scans do; a no-op outside a task. */
  def countInput(records: Long, bytes: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { tc =>
      val in = tc.taskMetrics().inputMetrics
      in.incRecordsRead(records)
      in.incBytesRead(bytes)
    }
}
