package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Classic-API bridge between [[Column]] and catalyst [[Expression]]
  * for registering custom expressions without a FunctionRegistry round
  * trip, and from an analyzed [[LogicalPlan]] back to a frame. Lives
  * under `org.apache.spark.sql` because the converters are
  * `private[sql]` in Spark 4 (they were public `Column(expr)` in 3.x).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
