package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  BroadcastQueryStageExec}
import org.apache.spark.sql.execution.joins.HashedRelation

/** Bridge into `private[execution]` physical-plan internals (sibling of
  * [[org.apache.spark.sql.GraftShim]], which covers the sql-package
  * surface). Lives in this package purely for access; all engine code
  * stays under `graft.*`.
  */
object GraftExecShim {

  /** The physical plan WITH exchanges for plan auditing. Under AQE the
    * root is an [[AdaptiveSparkPlanExec]] whose `initialPlan` is the
    * EnsureRequirements-prepared tree (its `inputPlan` field is the
    * pre-preparation tree with NO exchanges — useless for shuffle
    * audits); without AQE, `executedPlan` is already that tree.
    */
  def initialPhysicalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Whether a materialized broadcast stage built a hash relation with
    * one row per key (`HashedRelation` is `private[execution]`). False
    * for an unmaterialized stage, whose relation is never touched: its
    * future would start the broadcast.
    */
  def builtKeysUnique(stage: BroadcastQueryStageExec): Boolean =
    stage.isMaterialized && (stage.broadcast.relationFuture.get().value match {
      case h: HashedRelation => h.keyIsUnique
      case _ => false
    })
}
