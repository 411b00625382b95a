package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Test-side bridge to `private[sql]` session internals: the
  * injectable rules, strategies and functions a session carries, and
  * those Spark's `ServiceLoader` pass alone yields.
  */
object GraftTestShim {

  /** Rules, strategies and function names of one injection point. */
  case class Injected(
      prepRules: Seq[Rule[SparkPlan]],
      optimizerRules: Seq[Rule[LogicalPlan]],
      strategies: Seq[SparkStrategy],
      functions: Seq[String])

  private def state(s: SparkSession) = s.asInstanceOf[classic.SparkSession].sessionState

  /** What a session carries: its custom operator-optimization rules
    * and its planner strategies, each together with the session's
    * `experimental` ones, and every function name its registry holds.
    */
  def session(s: SparkSession): Injected = Injected(
    state(s).adaptiveRulesHolder.queryStagePrepRules,
    state(s).optimizer.extendedOperatorOptimizationRules ++
      s.experimental.extraOptimizations,
    state(s).planner.strategies,
    state(s).functionRegistry.listFunction().map(_.funcName))

  /** What the `ServiceLoader` pass alone injects. */
  def provider(s: SparkSession): Injected = {
    val ext = new SparkSessionExtensions
    java.util.ServiceLoader.load(classOf[SparkSessionExtensionsProvider],
      Thread.currentThread.getContextClassLoader).forEach(p => p(ext))
    val registry = new SimpleFunctionRegistry
    ext.registerFunctions(registry)
    Injected(ext.buildQueryStagePrepRules(s), ext.buildOptimizerRules(s),
      ext.buildPlannerStrategies(s), registry.listFunction().map(_.funcName))
  }

  /** The registry entry a session resolves `name` to. */
  def functionInfo(s: SparkSession, name: String): Option[ExpressionInfo] =
    state(s).functionRegistry.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
}
