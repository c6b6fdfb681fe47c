package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** THE single bridge into Spark's `private[sql]` / `private[spark]`
  * surface.
  *
  * Spark 4 hides the Expression-backed Column constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (private[sql]);
  * extension libraries that ship custom Catalyst expressions open it
  * with a same-package shim like this one (cf. public projects such
  * as qbeast/spark-extensions which do the same for Dataset).
  *
  * Nothing else in the repo crosses this boundary — keep it that
  * way: every additional internal touched here is an upgrade hazard,
  * and a second shim file is a second place to audit (r12 verdict
  * folded the former GraftSqlBridge into this object).
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to surface custom logical operators.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every listener event posted so far has been
    * delivered (the listener bus is asynchronous and private[spark]),
    * so counts read afterwards are complete without sleeping.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
