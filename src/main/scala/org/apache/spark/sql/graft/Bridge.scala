package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 moved `Column` onto ColumnNode and
  * made the classic converters `private[sql]`; a one-file shim in the sql
  * package namespace is the standard third-party-extension access path
  * (same technique as other open-source Spark extension libraries — no
  * Catalyst internals are modified, only converted).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (classic implementation). */
  def analyzed(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a (resolved) logical plan as a DataFrame — the standard
    * third-party custom-operator entry (`Dataset.ofRows` is private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's SQL conf, typed (`RuntimeConfig` only hands out strings). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession):
      org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** Session extension point for extra planner strategies. */
  def experimental(spark: org.apache.spark.sql.SparkSession):
      org.apache.spark.sql.ExperimentalMethods =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
}
