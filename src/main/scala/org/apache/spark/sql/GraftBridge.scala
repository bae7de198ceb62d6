package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Spark 4 made Expression<->Column conversion private[sql]
  * (org.apache.spark.sql.classic.ExpressionUtils). This is the minimal
  * public bridge graft needs to expose its native Catalyst expressions
  * as Columns — same mechanism every Spark-extension library uses. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A DataFrame over an already-built logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
