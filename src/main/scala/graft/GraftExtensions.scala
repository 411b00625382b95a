package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Declarative session extension: start any Spark application with
  * `--conf spark.sql.extensions=graft.GraftExtensions` and every graft
  * expression is available from SQL on every session of the cluster —
  * no imperative registration call needed. This is the deployment path
  * for a shared cluster (Thrift server / Connect / notebook fleets)
  * where user code never touches the Scala API.
  *
  * NOTE: `spark.sql.extensions` is a STATIC conf — Spark resolves it
  * from the SparkContext's conf when the session is instantiated, so
  * it must be set at application launch. Setting it on a
  * `SparkSession.builder()` that reuses an already-running context is
  * silently ignored by Spark; in that situation use the imperative
  * [[graft.functions.Registry.registerAll]] instead.
  *
  * The global-sort rule [[graft.plans.OneTaskSortRule]] is not injected
  * here: it reaches every session, with or without this conf, through
  * [[graft.plans.GraftSortExtensionsProvider]], which Spark's
  * `ServiceLoader` finds in META-INF/services. Injecting it here too
  * would run it twice per plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRule)
    // off unless spark.graft.rangeJoin.binSeconds is set positive
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoinRule)
    // plans graft.plans.AsOfJoinPlan (inert for every other plan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
