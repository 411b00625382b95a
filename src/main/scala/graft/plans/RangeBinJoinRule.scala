package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, Cast, Divide, EqualNullSafe, EqualTo, Explode,
  Expression, Floor, GreaterThan, GreaterThanOrEqual, If, LessThan,
  LessThanOrEqual, Literal, RaiseError, Sequence, Subtract, UnixMicros}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  TimestampNTZType, TimestampType}

/** Optimizer rule: rewrite an inner join whose ONLY cross-side
  * predicates are a point-in-interval range — `p >= lo AND p < hi`
  * (any >=/>/<=/< combination bounding the same point expression from
  * one side between two bound expressions from the other) — into the
  * fixed-bin equi-join of [[graft.ops.TemporalJoins.rangeJoinBinned]],
  * automatically.
  *
  * Why: with no equality conjunct Spark can only plan such a join as a
  * broadcast-nested-loop or cartesian product — O(|intervals| x
  * |points|) comparisons, the single most common scale-killer in
  * event-windowing SQL. The rewrite makes each interval emit one row
  * per fixed time bin it overlaps (`explode(sequence(...))`), bins the
  * point side with one projection, and joins on the bin as an EQUI key
  * with the ORIGINAL predicate re-applied exactly — so candidates meet
  * by shuffle/hash instead of by loop, and the answer is bit-identical.
  * Fanout per interval is bounded by length/bin + 1.
  *
  * Fires only when `spark.graft.rangeJoin.binSeconds` is set positive
  * (the bin should be near the typical interval length — a stats-free
  * rule cannot pick it; this mirrors the bin parameter every
  * range-join implementation exposes). Long bounds are treated as
  * epoch MICROSECONDS (the unit every graft temporal op carries);
  * timestamps are binned via `unix_micros`, NTZ cast in the session
  * zone. The rewrite is idempotent: the bin-equality conjunct it adds
  * makes the join carry a cross-side equality, which disqualifies it
  * from matching again.
  *
  * Every session carries it as an optimizer rule, injected by
  * [[graft.GraftExtensionsProvider]]; it stays inert until the conf
  * is set.
  */
object RangeBinJoinRule extends Rule[LogicalPlan] {

  val binSecondsKey = "spark.graft.rangeJoin.binSeconds"

  /** Blast-radius guard: max bins a single interval may fan out to.
    * One corrupt/wide interval (or LongType bounds that are NOT epoch
    * micros — the rule cannot tell) with a small bin would otherwise
    * materialize millions of Sequence elements per row, turning a
    * slow-but-working nested loop into an executor OOM the moment the
    * conf is enabled. Exceeding the cap raises a clear error at
    * execution (never silently drops matches).
    */
  val maxBinsKey = "spark.graft.rangeJoin.maxBinsPerInterval"
  val maxBinsDefault = 100000L

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** Some(true) if e references only `left`, Some(false) if only
    * `right`, None if neither/both/no refs. */
  private def sideOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  private def supported(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType | LongType => true
    case _ => false
  }

  /** One inequality conjunct read as a bound on a point expression. */
  private case class Bound(point: Expression, bound: Expression,
      strict: Boolean, isLower: Boolean)

  private def bounds(e: Expression): Seq[Bound] = e match {
    // a >= b: lower bound b on point a; upper bound a on point b
    case GreaterThanOrEqual(a, b) =>
      Seq(Bound(a, b, strict = false, isLower = true),
        Bound(b, a, strict = false, isLower = false))
    case GreaterThan(a, b) =>
      Seq(Bound(a, b, strict = true, isLower = true),
        Bound(b, a, strict = true, isLower = false))
    case LessThanOrEqual(a, b) =>
      Seq(Bound(a, b, strict = false, isLower = false),
        Bound(b, a, strict = false, isLower = true))
    case LessThan(a, b) =>
      Seq(Bound(a, b, strict = true, isLower = false),
        Bound(b, a, strict = true, isLower = true))
    case _ => Seq.empty
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val binSeconds =
      try conf.getConfString(binSecondsKey, "0").toLong
      catch { case _: NumberFormatException => 0L }
    if (binSeconds <= 0) return plan
    val binUs = binSeconds * 1000000L
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if cond.deterministic =>
        val conjuncts = splitConj(cond)
        val hasCrossEquality = conjuncts.exists {
          case EqualTo(a, b) =>
            (sideOf(a, left, right), sideOf(b, left, right)) match {
              case (Some(x), Some(y)) => x != y
              case _ => false
            }
          case EqualNullSafe(a, b) =>
            (sideOf(a, left, right), sideOf(b, left, right)) match {
              case (Some(x), Some(y)) => x != y
              case _ => false
            }
          case _ => false
        }
        if (hasCrossEquality) j
        else {
          val all = conjuncts.flatMap(bounds)
          val lowers = all.filter(_.isLower)
          val uppers = all.filterNot(_.isLower)
          val pattern = (for {
            lo <- lowers.iterator
            hi <- uppers.iterator
            if lo.point.semanticEquals(hi.point)
            if supported(lo.point.dataType)
            pSide <- sideOf(lo.point, left, right).iterator
            loSide <- sideOf(lo.bound, left, right).iterator
            hiSide <- sideOf(hi.bound, left, right).iterator
            if loSide == hiSide && loSide != pSide
          } yield (lo, hi, pSide)).buffered.headOption
          pattern match {
            case None => j
            case Some((lo, hi, pointOnLeft)) =>
              val maxBins =
                try conf.getConfString(maxBinsKey,
                  maxBinsDefault.toString).toLong
                catch { case _: NumberFormatException => maxBinsDefault }
              rewrite(j, lo, hi, pointOnLeft, binUs, maxBins)
          }
        }
    }
  }

  private def micros(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMicros(e)
    case TimestampNTZType =>
      UnixMicros(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone)))
    case _ => e // LongType: already epoch micros by graft convention
  }

  // floor(m / binUs) as a double divide + floor — the exact binning
  // expression rangeJoinBinned uses, so both paths agree bit-for-bit
  // (micro-epoch doubles are exact well past 2100: |m| < 2^53)
  private def binOf(m: Expression, binUs: Long): Expression =
    Floor(Divide(Cast(m, DoubleType), Literal(binUs.toDouble)))

  private def rewrite(j: Join, lo: Bound, hi: Bound, pointOnLeft: Boolean,
      binUs: Long, maxBins: Long): LogicalPlan = {
    val (pointChild, intervalChild) =
      if (pointOnLeft) (j.left, j.right) else (j.right, j.left)

    // interval side: drop empty intervals (they contain no point, and
    // a reversed sequence() would fan out across the whole span), then
    // one row per overlapped bin
    val nonEmpty =
      if (lo.strict || hi.strict) GreaterThan(hi.bound, lo.bound)
      else GreaterThanOrEqual(hi.bound, lo.bound)
    val hiMicros =
      if (hi.strict) Subtract(micros(hi.bound), Literal(1L))
      else micros(hi.bound)
    // Sequence is TimeZoneAware: without an explicit zone it stays
    // UNRESOLVED and the optimizer rejects the rewritten plan
    val binLo = binOf(micros(lo.bound), binUs)
    val binHi = binOf(hiMicros, binUs)
    val seqRaw = Sequence(binLo, binHi, None,
      Some(conf.sessionLocalTimeZone))
    // fanout guard: a single interval spanning more than maxBins bins
    // raises (clear error beats executor OOM; a filter would silently
    // drop its matches). Cast(RaiseError, array) never materializes —
    // RaiseError throws before the cast evaluates.
    val seq = If(
      LessThan(Subtract(binHi, binLo), Literal(maxBins)),
      seqRaw,
      Cast(new RaiseError(Literal(
        s"graft range-join rewrite: an interval spans > $maxBins bins " +
          s"of $binUs us — widen $binSecondsKey, raise $maxBinsKey, " +
          "or clean the interval bounds")), seqRaw.dataType))
    val ivBin = AttributeReference("__graft_bin", LongType,
      nullable = false)()
    val ivPlan = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(ivBin),
      child = Filter(nonEmpty, intervalChild))

    // point side: exactly one bin per row
    val pAlias = Alias(binOf(micros(lo.point), binUs), "__graft_pbin")()
    val pPlan = Project(pointChild.output :+ pAlias, pointChild)

    // bin equality becomes the equi key; the ORIGINAL condition is
    // re-applied verbatim, so the join's answer cannot change
    val newCond = And(EqualTo(pAlias.toAttribute, ivBin), j.condition.get)
    val newJoin =
      if (pointOnLeft) Join(pPlan, ivPlan, Inner, Some(newCond), j.hint)
      else Join(ivPlan, pPlan, Inner, Some(newCond), j.hint)
    Project(j.output, newJoin)
  }
}
