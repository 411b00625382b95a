package org.apache.spark.sql

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan

/** Test-side bridge to `private[sql]` session internals: the AQE
  * preparation rules a session carries, and those Spark's
  * `ServiceLoader` pass alone would give a session built with no
  * `spark.sql.extensions` at all.
  */
object GraftTestShim {
  def queryStagePrepRules(s: SparkSession): Seq[Rule[SparkPlan]] =
    s.asInstanceOf[classic.SparkSession].sessionState
      .adaptiveRulesHolder.queryStagePrepRules

  def providerPrepRules(s: SparkSession): Seq[Rule[SparkPlan]] = {
    val ext = new SparkSessionExtensions
    java.util.ServiceLoader.load(classOf[SparkSessionExtensionsProvider],
      Thread.currentThread.getContextClassLoader).forEach(p => p(ext))
    ext.buildQueryStagePrepRules(s)
  }
}
