package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM,
  ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}

/** No shuffle where the map side is one small task. Spark moves the
  * output of even a single small task through an exchange (for a
  * global sort, after a range-sampling job that re-runs the whole
  * input), and AQE then reads it as one partition anyway. Run as an
  * AQE query-stage preparation rule, this replaces an
  * `ENSURE_REQUIREMENTS` `ShuffleExchangeExec` (hash, range or single)
  * under an aggregate, a window or a global sort, directly or below
  * the local sort EnsureRequirements put there, by `CoalesceExec(1)`
  * over the same child when [[OneTaskInput]] proves that child one
  * small task. One partition satisfies every distribution these
  * operators ask for, so the plan stays valid if AQE re-plans.
  *
  * AQE re-applies the rule whenever a stage materializes, so an
  * exchange over a shuffle stage that coalescing reads as one small
  * partition goes too. Exchanges under a join keep Spark's plan: one
  * side alone in one partition would not be co-partitioned with the
  * other. Nor does a rewrite stand where the one-partition output
  * would reach an operator whose requirements the old partitioning met
  * (a sort-merge or as-of join over an aggregate's hash partitioning):
  * Spark's `ValidateRequirements` checks every operator above a
  * rewrite, and one it rejects keeps Spark's children.
  *
  * A hash repartition to a fixed number of partitions
  * (`df.repartition(n, cols)`) of one small task becomes a
  * [[OneTaskSplitExec]] with the same partitioning: each of its n tasks
  * re-reads the input and keeps its own hash partition, so no task
  * shuffles and consumers keyed like the repartition still add no
  * exchange. The input must be deterministic, so every re-read yields
  * the same rows, and its bytes count once per partition against the
  * advisory size, so the re-reads together read no more than one
  * coalesced reducer may.
  *
  * Rows are those of Spark's plan, and after a total sort in the same
  * order. Spark's sort is not stable, so ties under a partial sort come
  * out as in Spark's plan with one reducer, which sees the same row
  * sequence as the one task; with more reducers Spark's own plan can
  * order them differently. A wide, large or unsizable input keeps
  * Spark's exchange and loses no parallelism.
  *
  * With `spark.sql.adaptive.enabled=false` the rule never runs and
  * plans are Spark's. Every session gets it from
  * [[graft.GraftExtensionsProvider]].
  */
object OneTaskExchangeRule extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val kids = plan.children.map(apply)
    val p = if (kids.corresponds(plan.children)(_ eq _)) plan else {
      val rewritten = plan.withNewChildren(kids)
      if (ValidateRequirements.validate(rewritten)) rewritten else plan
    }
    p match {
      case ShuffleExchangeExec(h: HashPartitioning, input, REPARTITION_BY_NUM, _)
          if h.deterministic && deterministic(input) &&
            OneTaskInput(input, h.numPartitions) =>
        OneTaskSplitExec(h, input)
      case _: BaseAggregateExec | _: WindowExecBase | _: WindowGroupLimitExec =>
        p.withNewChildren(p.children.map(oneTask))
      case s: SortExec if s.global => s.withNewChildren(s.children.map(oneTask))
      case _ => p
    }
  }

  private def deterministic(t: SparkPlan): Boolean =
    !t.exists(_.expressions.exists(!_.deterministic))

  private def oneTask(child: SparkPlan): SparkPlan = child match {
    case ShuffleExchangeExec(_, input, ENSURE_REQUIREMENTS, _) if OneTaskInput(input) =>
      CoalesceExec(1, input)
    case s: SortExec if !s.global => s.withNewChildren(s.children.map(oneTask))
    case c => c
  }
}
