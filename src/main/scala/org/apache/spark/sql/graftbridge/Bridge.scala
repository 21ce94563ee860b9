package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Column now wraps a ColumnNode); exposing them from a
  * subpackage of `org.apache.spark.sql` is the standard technique used by
  * open-source Spark extension libraries to attach custom native
  * expressions to the public Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` went
    * `private[sql]` in Spark 4) — needed to hand a custom logical
    * operator to the analyzer.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `checkpoint` (the result of `localCheckpoint`) re-planned over the
    * same RDD with `rows` rows as its statistics, sized by the planner's
    * per-row width of its columns. A checkpoint otherwise carries the
    * size estimate of the plan it replaced, which after a join is far
    * off.
    */
  def withRowCount(checkpoint: DataFrame, rows: Long): DataFrame = {
    val session = checkpoint.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lr = checkpoint.queryExecution.logical match {
      case lr: LogicalRDD => lr
      case p => throw new IllegalArgumentException(s"not a checkpoint: ${p.nodeName}")
    }
    val stats = Statistics(EstimationUtils.getSizePerRow(lr.output) * rows, Some(BigInt(rows)))
    ofRows(session, lr.copy()(session, Some(stats), Some(lr.constraints)))
  }
}
