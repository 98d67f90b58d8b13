package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 hides the Column <-> Expression bridge behind
  * `private[sql] ExpressionUtils`; this is the minimal in-namespace
  * shim exposing it to graft (a common pattern for Spark extension
  * libraries).
  */
object Bridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
    * private[sql] in Spark 4) — the seam custom logical operators use
    * to enter the public API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every listener event posted so far is delivered
    * (`listenerBus` is private[spark]) — job counters read after this
    * see every job the measured call launched.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
