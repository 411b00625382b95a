package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions,
  SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The one way graft builds a session. Every main and the test suite
  * go through [[GraftSession.local]]; every graft function, rule and
  * strategy reaches every session, however it was built, through
  * [[GraftExtensionsProvider]].
  */
object GraftSession {

  /** A local session on `cores` threads: one shuffle partition per
    * core, UTC session time (pins the NTZ→timestamp cast in
    * `Tables.eventsRaw`), nanosecond parquet timestamps read as longs
    * (set at build time so no read resolves a schema before it lands)
    * and no UI.
    */
  def local(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

/** Loaded by Spark's `ServiceLoader` for every session (listed in
  * META-INF/services), so no conf and no call on a built session is
  * needed, and each injection happens once per session. Building a
  * query never changes its session's planning.
  */
class GraftExtensionsProvider extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensionsProvider].getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRule)
    // off unless spark.graft.rangeJoin.binSeconds is set positive
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoinRule)
    // each plans only its own logical node (inert for every other plan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SinkThenScanStrategy)
    // no shuffle where the map side is one small task (inert with AQE off)
    ext.injectQueryStagePrepRule(_ => graft.plans.OneTaskExchangeRule)
  }
}
