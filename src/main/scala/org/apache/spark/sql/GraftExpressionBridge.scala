package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark 4's `private[sql]` Column ↔ Expression
  * converters, the standard pattern for libraries that register custom
  * Catalyst expressions (Spark 4 wraps Column around ColumnNode, so
  * `new Column(expr)` no longer exists), and into the plan → DataFrame
  * constructor that custom logical nodes need.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
