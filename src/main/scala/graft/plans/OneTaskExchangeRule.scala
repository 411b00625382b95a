package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, REPARTITION_BY_NUM,
  ReusedExchangeExec, ShuffleExchangeExec, ValidateRequirements}
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
  * Such a fold moves the one task into its consumer's stage, which
  * starts only once every input of that stage has materialized. So an
  * exchange folds only when nothing else that stage waits on is
  * pending: no other exchange, no query stage that has not
  * materialized and no cache that has not loaded. Otherwise AQE runs
  * the one task as a stage of its own beside the others, as Spark
  * plans it: folded behind two broadcast builds, a 300 ms aggregate
  * would start only once both were done. Folds are decided bottom-up
  * and then settled stage by stage from the top, so an exchange that
  * is one small task only once the exchange below it folds (a sort
  * over an aggregate) folds in the same preparation. A folded input
  * waits on nothing (that is what [[OneTaskInput]] proves), so
  * settling a stage never changes the stages below it.
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
  * coalesced reducer may. A split is not held back by the stage it
  * lands in: its n tasks spread the input over the cores either way.
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

  override def apply(plan: SparkPlan): SparkPlan = new Folds().settled(plan)

  /** The folds of one preparation: each `CoalesceExec(1)` placed, with
    * the exchange it replaced (over the same, already folded, child).
    */
  private final class Folds {
    private val replaced = new java.util.IdentityHashMap[SparkPlan, SparkPlan]()

    /** `p`, the top of a stage, with every fold in that stage undone
      * when the stage still waits on a pending input.
      */
    def settled(p: SparkPlan): SparkPlan = {
      val folded = fold(p)
      if (waits(folded)) unfold(folded) else folded
    }

    /** `p` with every exchange folded that [[OneTaskInput]] passes;
      * each stage below `p` settled.
      */
    private def fold(plan: SparkPlan): SparkPlan = {
      val kids = plan match {
        case _: Exchange => plan.children.map(settled)
        case _ => plan.children.map(fold)
      }
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

    private def oneTask(child: SparkPlan): SparkPlan = child match {
      case e @ ShuffleExchangeExec(_, input, ENSURE_REQUIREMENTS, _) if OneTaskInput(input) =>
        val c = CoalesceExec(1, input)
        replaced.put(c, e)
        c
      case s: SortExec if !s.global => s.withNewChildren(s.children.map(oneTask))
      case c => c
    }

    /** Whether the part of a stage at and below `p` waits on an input
      * that has not materialized. A fold is no input: its child is one
      * small task over materialized inputs only.
      */
    private def waits(p: SparkPlan): Boolean = p match {
      case c if replaced.containsKey(c) => false
      case _: Exchange | _: ReusedExchangeExec => true
      case s: QueryStageExec => !s.isMaterialized
      case m: InMemoryTableScanExec => !m.relation.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => p.children.exists(waits)
    }

    /** `p` with the folds of its stage put back as the exchanges they
      * replaced. Folds below those stay: their stages wait on nothing.
      * So do folds in a split's input, which the split's tasks run.
      */
    private def unfold(p: SparkPlan): SparkPlan = p match {
      case c if replaced.containsKey(c) => replaced.get(c)
      case _: Exchange | _: ReusedExchangeExec | _: QueryStageExec | _: OneTaskSplitExec => p
      case _ =>
        val kids = p.children.map(unfold)
        if (kids.corresponds(p.children)(_ eq _)) p else p.withNewChildren(kids)
    }
  }

  private def deterministic(t: SparkPlan): Boolean =
    !t.exists(_.expressions.exists(!_.deterministic))
}
