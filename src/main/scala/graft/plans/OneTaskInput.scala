package graft.plans

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi,
  RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, GenerateExec,
  GraftExecShim, LocalTableScanExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  BroadcastQueryStageExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.internal.SQLConf

/** Whether a physical subtree provably runs as one small task, decided
  * without running anything. It does when it is narrow (below) and its
  * leaves hold at most one partition and at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` between them.
  *
  * Narrow means no exchange or [[OneTaskSplitExec]] (its tasks run
  * apart so that kernels over the split run on every core), no
  * operator that can emit more rows than it reads (generate, expand,
  * mapPartitions, any join but the one below) and no subquery. A
  * broadcast hash join is allowed when its build side is a
  * materialized broadcast stage and it emits at most one row per
  * streamed row: a semi or anti join, or an inner or outer join whose
  * built relation has unique keys. Only its streamed side is sized.
  *
  * Leaves are sized only where that runs nothing: file scans from
  * their file listing (a scan's read RDD would build the file reader,
  * which broadcasts the Hadoop conf), and a parquet scan of one file
  * that the listing cuts into several splits also from its footer,
  * read on the driver ([[ParquetRowGroups]]); loaded caches from their
  * statistics, local tables from their rows. A materialized shuffle
  * stage (AQE re-plans after each stage runs) counts the partitions
  * Spark's own `CoalesceShufflePartitions` reads it as and the bytes it
  * wrote; with `spark.sql.adaptive.coalescePartitions.enabled` off, or
  * with no map output, it is not sized. AQE prepares plans for
  * `explain` too, and executing any other leaf may run a job or a side
  * effect (a SinkThenScan leaf writes), so it is never one task here.
  */
object OneTaskInput {

  /** Whether `p` is one small task that may be read `copies` times:
    * its bytes count once per copy against the advisory size.
    */
  def apply(p: SparkPlan, copies: Int = 1): Boolean =
    streamedLeaves(p).exists(fitsOneTask(_, copies))

  /** The leaves `p` streams from when it is narrow, None otherwise. */
  private def streamedLeaves(p: SparkPlan): Option[Seq[SparkPlan]] = p match {
    case n if n.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) => None
    case j: BroadcastHashJoinExec if emitsAtMostStreamed(j) =>
      streamedLeaves(if (j.buildSide == BuildLeft) j.right else j.left)
    case _: Exchange | _: ReusedExchangeExec | _: OneTaskSplitExec => None
    case _: GenerateExec | _: ExpandExec | _: BaseJoinExec | _: MapPartitionsExec => None
    case leaf if leaf.children.isEmpty => Some(Seq(leaf))
    case n => n.children.foldLeft(Option(Seq.empty[SparkPlan])) { (acc, c) =>
      for (a <- acc; l <- streamedLeaves(c)) yield a ++ l
    }
  }

  /** The built relation is read only once its stage has materialized,
    * so this never starts the broadcast.
    */
  private def emitsAtMostStreamed(j: BroadcastHashJoinExec): Boolean =
    (if (j.buildSide == BuildLeft) j.left else j.right) match {
      case b: BroadcastQueryStageExec if b.isMaterialized => j.joinType match {
        case LeftSemi | LeftAnti => true
        case Inner | LeftOuter | RightOuter => GraftExecShim.builtKeysUnique(b)
        case _ => false
      }
      case _ => false
    }

  private def fitsOneTask(leaves: Seq[SparkPlan], copies: Int): Boolean = {
    val sizes = leaves.map(leafSize)
    sizes.forall(_.isDefined) && {
      val (parts, bytes) = sizes.flatten.foldLeft((0, BigInt(0))) {
        case ((n, b), (n1, b1)) => (n + n1, b + b1)
      }
      parts <= 1 && bytes * copies <= advisory
    }
  }

  private def advisory: Long = SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Whether the one file `f` scans is parquet with at most one row
    * group. False when its footer cannot be read.
    */
  private def atMostOneRowGroup(f: FileSourceScanExec): Boolean =
    f.relation.fileFormat.isInstanceOf[ParquetFileFormat] && {
      val file = f.selectedPartitions.filePartitionIterator.flatMap(_.files).next().fileStatus
      ParquetRowGroups(f.relation.sparkSession, file, f.relation.options).exists(_ <= 1)
    }

  /** (partitions, bytes) of a leaf, or None when it cannot be sized
    * without running something. A file scan's runtime filter is a
    * subquery, which `streamedLeaves` rejects.
    */
  private def leafSize(leaf: SparkPlan): Option[(Int, BigInt)] = leaf match {
    case f: FileSourceScanExec if !f.bucketedScan =>
      val files = f.selectedPartitions
      val (n, bytes) = (files.totalNumberOfFiles, files.totalFileSize)
      // FilePartition.getFilePartitions packs splits of at most
      // maxSplitBytes, charging openCost per file: every file fits one
      // partition iff the last one still does. A parquet split reads
      // the row groups whose midpoint it holds, so a file of at most
      // one row group has rows in one split at most, however many it
      // is cut into: the rest read nothing. An unsplittable or empty
      // file of another format can make this say 2 where Spark reads
      // 1; a miss only keeps Spark's plan.
      val maxSplit = FilePartition.maxSplitBytes(f.relation.sparkSession, files)
      val parts =
        if (n == 0) 0
        else if (bytes + (n - 1) * SQLConf.get.filesOpenCostInBytes <= maxSplit) 1
        else if (n == 1 && bytes <= advisory && atMostOneRowGroup(f)) 1
        else 2
      Some((parts, BigInt(bytes)))
    case m: InMemoryTableScanExec if m.relation.cacheBuilder.isCachedColumnBuffersLoaded =>
      Some((m.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions,
        m.relation.computeStats().sizeInBytes))
    case l: LocalTableScanExec =>
      Some((l.inputRDD.getNumPartitions, EstimationUtils.getSizePerRow(l.output) * l.rows.size))
    case s: ShuffleQueryStageExec if s.isMaterialized && SQLConf.get.coalesceShufflePartitionsEnabled =>
      s.mapStats.map(_.bytesByPartitionId).filter(_.nonEmpty).map { bytes =>
        val read = CoalesceShufflePartitions(s.session)(s) match {
          case r: AQEShuffleReadExec => r.partitionSpecs.size
          case _ => bytes.length
        }
        (read, BigInt(bytes.sum))
      }
    case _ => None
  }
}
