package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression,
  GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Levenshtein,
  Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite threshold comparisons of the UNBOUNDED
  * levenshtein — `levenshtein(a, b) <= k` and its variants, the form
  * every user naturally writes — into the bounded 3-arg
  * `levenshtein(a, b, k) >= 0`, whose banded DP early-exits after
  * O(len·k) work instead of filling the full O(len²) matrix (and
  * whose -1 sentinel makes the sign test equivalent to the original
  * predicate).
  *
  * Why a Rule and not a convention: the blast radius of the unbounded
  * form is easy to underestimate — an edit-distance filter inside a
  * blocked self-join runs once per CANDIDATE PAIR, so at fuzzy-join
  * fanouts the full-matrix DP is the single hottest expression in the
  * plan (measured here: a 25-block name join spent 57% of a 114-query
  * benchmark inside it). The rewrite is exactly what a user means,
  * preserves null semantics (both forms are null iff an input is
  * null), and is idempotent (the bounded form no longer matches the
  * pattern), so it composes safely with fixed-point optimizer batches.
  *
  * Every session carries it as an optimizer rule, injected by
  * [[graft.GraftExtensionsProvider]].
  */
object BoundedLevenshteinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def bounded(l: Expression, r: Expression, k: Int): Expression =
    GreaterThanOrEqual(Levenshtein(l, r, Some(Literal(k))), Literal(0))

  /** A conjunct whose evaluation runs a string-distance DP (the
    * banded levenshtein this rule emits, or a Jaro-Winkler score) —
    * orders of magnitude more per-row work than a comparison on an
    * already-computed column.
    */
  private def hasDistanceExpr(e: Expression): Boolean = e.exists {
    case _: Levenshtein => true
    case _: graft.functions.JaroWinkler => true
    case _ => false
  }

  /** Cost-order the top-level conjuncts of a condition that mixes a
    * string-distance predicate with cheaper ones: cheap conjuncts
    * first (relative order preserved), distance-bearing conjuncts
    * last, so codegen's left-to-right AND short-circuit skips the DP
    * for every row a cheap test already rejects. Applied only when
    * every conjunct is deterministic; AND is commutative in
    * three-valued logic, so the reorder is semantics-preserving (the
    * same liberty predicate pushdown already takes). Measured on
    * q_sql_lev: the `key_a < key_b` half-filter previously ran AFTER
    * the banded DP on every in-block pair — evaluating it first
    * halves the DP invocations.
    */
  private def costOrder(cond: Expression): Expression = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.size <= 1 || !conjuncts.forall(_.deterministic)) cond
    else {
      val (heavy, cheap) = conjuncts.partition(hasDistanceExpr)
      if (heavy.isEmpty || cheap.isEmpty) cond
      else (cheap ++ heavy).reduceLeft(And)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = rewriteBounded(plan)
    rewritten.transform {
      case f @ Filter(cond, _) if hasDistanceExpr(cond) =>
        f.copy(condition = costOrder(cond))
      case j: Join if j.condition.exists(hasDistanceExpr) =>
        j.copy(condition = j.condition.map(costOrder))
    }
  }

  private def rewriteBounded(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // dist <= k  /  k >= dist
      case LessThanOrEqual(Levenshtein(l, r, None), Literal(k: Int, IntegerType))
          if k >= 0 => bounded(l, r, k)
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(l, r, None))
          if k >= 0 => bounded(l, r, k)
      // dist < k  /  k > dist  (ints: equivalent to dist <= k-1)
      case LessThan(Levenshtein(l, r, None), Literal(k: Int, IntegerType))
          if k >= 1 => bounded(l, r, k - 1)
      case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(l, r, None))
          if k >= 1 => bounded(l, r, k - 1)
      // dist = k: band at k, then require the exact value (the bounded
      // form returns the true distance whenever it is <= k)
      case EqualTo(Levenshtein(l, r, None), Literal(k: Int, IntegerType))
          if k >= 0 =>
        EqualTo(Levenshtein(l, r, Some(Literal(k))), Literal(k))
    }
}
