package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column <-> Expression conversion (Spark 4
  * split the public Column API from Catalyst; `classic.ExpressionUtils`
  * is the supported internal path). Lives in the org.apache.spark.sql
  * package purely for access; our code is all under `graft.*`.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an already-resolved logical plan as a DataFrame
    * (`Dataset.ofRows` is private[sql]) — the entry point for custom
    * logical operators like [[graft.plans.AsOfJoinPlan]].
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every listener has been handed every event posted so
    * far (`listenerBus` is private[spark]). Delivery is asynchronous,
    * so a listener's counters are complete only after this returns;
    * a bus still busy after a minute fails with a TimeoutException.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
