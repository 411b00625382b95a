package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport,
  SparkPlan, SparkStrategy}

/** Native as-of join: the full custom-operator stack — a resolved
  * logical node, a planner [[SparkStrategy]], and a physical
  * [[AsOfJoinExec]] whose per-partition state is O(1) — the strategy
  * reaches every session through [[graft.GraftExtensionsProvider]].
  *
  * Semantics match [[graft.ops.TemporalJoins.asofJoin]] (left as-of:
  * for each left row, the LATEST right row with equal keys and
  * rightTime <= leftTime; unmatched left rows keep null payload;
  * right rows with null time match nothing; left rows with null time
  * match nothing; null keys group together — the window/groupBy
  * convention that implementation established, pinned equivalent by
  * AsOfJoinNativeSpec).
  *
  * Scale shape vs the union+window formulation: each side shuffles
  * ONCE on its own keys and sorts by (keys, time); the merge then
  * consumes both sorted streams with a single buffered cursor — no
  * union row widening (the window path pads every right row with null
  * left columns and vice versa before the shuffle), no window state,
  * and the right side's payload is projected only when it becomes a
  * match candidate. At 100 TB that halves shuffle bytes for wide
  * schemas and removes the post-window filter pass.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightPayload: Seq[Attribute])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, payload) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
        payload) :: Nil
    case _ => Nil
  }
}

/** The per-partition as-of merge, factored out of the exec so the
  * interpreted path (doExecute's zipPartitions) and the whole-stage
  * codegen path (doProduce's generated loop) run the SAME advance
  * logic. All projections/orderings are codegen'd objects built once
  * per partition on the executor; per-row state is O(1) (the latest
  * qualifying right key + payload, copied out of the projection
  * buffers).
  */
final class AsOfMerger(
    lOutput: Seq[Attribute], rOutput: Seq[Attribute],
    lKeys: Seq[Expression], rKeys: Seq[Expression],
    lTime: Expression, rTime: Expression,
    payload: Seq[Attribute], outAttrs: Seq[Attribute],
    rIter: Iterator[InternalRow]) {

  private val lKeyProj = UnsafeProjection.create(lKeys, lOutput)
  private val rKeyProj = UnsafeProjection.create(rKeys, rOutput)
  private val lTimeProj = UnsafeProjection.create(Seq(lTime), lOutput)
  private val rTimeProj = UnsafeProjection.create(Seq(rTime), rOutput)
  private val payloadProj = UnsafeProjection.create(
    payload.map(a => a: Expression), rOutput)
  private val keyOrd = RowOrdering.createNaturalAscendingOrdering(
    lKeys.map(_.dataType))
  private val timeOrd = RowOrdering.createNaturalAscendingOrdering(
    Seq(lTime.dataType))
  // bind against nullability-FORCED payload attrs: an unmatched left
  // row carries a null payload even when the right column is
  // non-nullable, and a non-nullable BoundReference would read that
  // null as 0/""
  private val resultProj = UnsafeProjection.create(
    outAttrs.map(a => a: Expression),
    lOutput ++ payload.map(_.withNullability(true)))
  private val nullPayload = new GenericInternalRow(payload.length)
  private val joined = new JoinedRow
  private val rBuf = rIter.buffered
  // latest consumed right row whose (key, time) qualified, with its
  // key copied out of the projection buffer
  private var matchKey: InternalRow = null
  private var matchPayload: InternalRow = null

  /** The joined output row for left row `l` (reuses an internal
    * buffer — callers that buffer rows must copy, the standard
    * UnsafeProjection contract).
    */
  def join(l: InternalRow): InternalRow = {
    val lk = lKeyProj(l)
    val lt = lTimeProj(l)
    val ltNull = lt.isNullAt(0)
    // advance the right cursor past every row at-or-before this left
    // row; rows are never revisited (left times are nondecreasing
    // within a key), so the scan is linear
    var continue = true
    while (continue && rBuf.hasNext) {
      val r = rBuf.head
      val rk = rKeyProj(r)
      val c = keyOrd.compare(rk, lk)
      if (c < 0) {
        rBuf.next() // right key behind every remaining left row
      } else if (c == 0) {
        val rt = rTimeProj(r)
        if (rt.isNullAt(0)) {
          rBuf.next() // null right time matches nothing
        } else if (!ltNull && timeOrd.compare(rt, lt) <= 0) {
          matchKey = rk.copy()
          matchPayload = payloadProj(r).copy()
          rBuf.next()
        } else {
          continue = false // right row is in this left row's future
        }
      } else {
        continue = false // right key ahead: keep for later keys
      }
    }
    val p =
      if (!ltNull && matchKey != null &&
        keyOrd.compare(matchKey, lk) == 0) matchPayload
      else nullPayload
    resultProj(joined(l, p))
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightPayload: Seq[Attribute])
  extends BinaryExecNode with CodegenSupport {

  // keyOrd/timeOrd below are built from the LEFT types only and
  // compare raw UnsafeRow fields — a type mismatch across sides would
  // compare garbage silently, so reject it at construction
  leftKeys.zip(rightKeys).zipWithIndex.foreach { case ((a, b), i) =>
    require(org.apache.spark.sql.types.DataType.equalsStructurally(
      a.dataType, b.dataType, ignoreNullability = true),
      s"AsOfJoinExec key $i type mismatch: " +
        s"left ${a.dataType.sql} vs right ${b.dataType.sql}")
  }
  require(org.apache.spark.sql.types.DataType.equalsStructurally(
    leftTime.dataType, rightTime.dataType, ignoreNullability = true),
    s"AsOfJoinExec time type mismatch: left ${leftTime.dataType.sql} " +
      s"vs right ${rightTime.dataType.sql}")

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  // both sides co-partitioned on the keys (EnsureRequirements inserts
  // the exchanges and validates compatibility, exactly as for a
  // sort-merge join) ...
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // ... and sorted by (keys, time) so the merge is a linear scan
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  private def newMerger(rIter: Iterator[InternalRow]): AsOfMerger =
    new AsOfMerger(left.output, right.output, leftKeys, rightKeys,
      leftTime, rightTime, rightPayload, output, rIter)

  override protected def doExecute(): RDD[InternalRow] = {
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val merger = newMerger(rIter)
      lIter.map(merger.join)
    }
  }

  // ---- whole-stage codegen: the two-input pattern SortMergeJoinExec
  // uses. The merge itself runs in AsOfMerger (already built from
  // codegen'd projections/orderings); what fusing buys is the
  // OUTBOUND side — parent project/filter/agg consume the joined row
  // inside one generated loop instead of across a per-row iterator
  // boundary, which is where the interpreted path spent its time at
  // sf1 (everything around the join codegens, the join didn't).

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // the output row reuses the merger's projection buffer
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    // the exec itself is the partition-setup factory: ship it as a
    // reference object and build the merger (executor-side codegen'd
    // projections) at init time from inputs[1]
    val self = ctx.addReferenceObj("asofExec", this,
      classOf[AsOfJoinExec].getName)
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];", forceInline = true)
    val merger = ctx.addMutableState(classOf[AsOfMerger].getName,
      "asofMerger",
      v => s"$v = $self.buildMerger(inputs[1]);", forceInline = true)
    val outRow = ctx.freshName("asofOutRow")
    val rowCls = classOf[InternalRow].getName
    s"""
       |while ($leftInput.hasNext()) {
       |  $rowCls $outRow =
       |    $merger.join(($rowCls) $leftInput.next());
       |  ${consume(ctx, null, outRow).trim}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  /** Partition-setup hook called from generated code. */
  def buildMerger(rIter: Iterator[InternalRow]): AsOfMerger =
    newMerger(rIter)
}
