package graft.plans

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, FileSourceScanExec,
  GenerateExec, LocalTableScanExec, MapPartitionsExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.internal.SQLConf

/** Global ORDER BY without Spark's range-sampling job when the sort
  * input is one small task. Spark plans a total sort as a range
  * exchange whose `RangePartitioner` first runs a job that re-executes
  * the whole sort input to sample its keys, even when that input is a
  * single partition. Run as an AQE query-stage preparation rule, this
  * drops the range exchange EnsureRequirements put directly under a
  * global `SortExec` and sorts in place over `CoalesceExec(1)` (which
  * keeps the ordered distribution satisfied if AQE re-plans) when
  *
  *  - the exchange's child is narrow: no exchange, query stage,
  *    broadcast or subquery, and no operator that can emit more rows
  *    than it reads (generate, expand, join, mapPartitions);
  *  - its leaves hold at most one partition between them; and
  *  - their input is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  *    (file bytes for a scan), the size AQE would read as one reducer.
  *
  * No sampling job, no shuffle, one stage fewer. Rows and their order,
  * ties included, are those of Spark's plan: one map task means one
  * reducer sees the same row sequence. Anything else keeps Spark's
  * sampled range exchange: a wide or large input loses no parallelism.
  *
  * Leaves are sized without running or building anything: file scans
  * from their file listing (a scan's read RDD would build the file
  * reader, which broadcasts the Hadoop conf), loaded caches from their
  * statistics, local tables from their rows. AQE prepares plans for
  * `explain` too, and executing any other leaf may run a job or a side
  * effect (a SinkThenScan leaf writes), so those keep Spark's plan.
  *
  * With `spark.sql.adaptive.enabled=false` the rule never runs and
  * plans are Spark's. Every session gets it from
  * [[graft.GraftExtensionsProvider]].
  */
object OneTaskSortRule extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: SortExec if s.global => s.child match {
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if isNarrow(child) && fitsOneTask(child) =>
        s.withNewChildren(CoalesceExec(1, child) :: Nil)
      case _ => s
    }
  }

  private def isNarrow(p: SparkPlan): Boolean = !p.exists {
    case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => true
    case _: GenerateExec | _: ExpandExec | _: BaseJoinExec | _: MapPartitionsExec => true
    case n => n.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
  }

  private def fitsOneTask(p: SparkPlan): Boolean = {
    val leaves = p.collectLeaves().map(leafSize)
    leaves.forall(_.isDefined) && {
      val (parts, bytes) = leaves.flatten.foldLeft((0, BigInt(0))) {
        case ((n, b), (n1, b1)) => (n + n1, b + b1)
      }
      parts <= 1 && bytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    }
  }

  /** (partitions, bytes) of a leaf, or None when it cannot be sized
    * without running something. A file scan's runtime filter is a
    * subquery, which `isNarrow` rejects.
    */
  private def leafSize(leaf: SparkPlan): Option[(Int, BigInt)] = leaf match {
    case f: FileSourceScanExec if !f.bucketedScan =>
      val files = f.selectedPartitions
      val (n, bytes) = (files.totalNumberOfFiles, files.totalFileSize)
      // FilePartition.getFilePartitions packs splits of at most
      // maxSplitBytes, charging openCost per file: every file fits one
      // partition iff the last one still does. An unsplittable or
      // empty file can make this say 2 where Spark reads 1, never the
      // reverse, so a miss only keeps Spark's plan.
      val maxSplit = FilePartition.maxSplitBytes(f.relation.sparkSession, files)
      val parts =
        if (n == 0) 0
        else if (bytes + (n - 1) * conf.filesOpenCostInBytes <= maxSplit) 1
        else 2
      Some((parts, BigInt(bytes)))
    case m: InMemoryTableScanExec if m.relation.cacheBuilder.isCachedColumnBuffersLoaded =>
      Some((m.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions,
        m.relation.computeStats().sizeInBytes))
    case l: LocalTableScanExec =>
      Some((l.inputRDD.getNumPartitions, EstimationUtils.getSizePerRow(l.output) * l.rows.size))
    case _ => None
  }
}
