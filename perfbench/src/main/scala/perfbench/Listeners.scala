package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals from Spark's scheduler events. Registered in every
  * run (untraced too): the end-to-end byte metrics come from here. Job
  * intervals are kept only while `recordJobs` is set (traced rounds).
  */
final class ExecCounters extends SparkListener {
  val jobs, stages, tasks, singleTaskStages, failedTasks = new AtomicLong
  val taskRunMs, gcMs, shuffleWrite, shuffleRead, outputBytes, spillBytes =
    new AtomicLong
  @volatile var recordJobs = false
  private val jobStart = mutable.Map.empty[Int, Long]
  /** Finished jobs as (start ms, end ms). */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (recordJobs) synchronized { jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "single_task_stages" -> singleTaskStages.get,
    "failed_tasks" -> failedTasks.get, "task_ms" -> taskRunMs.get,
    "gc_ms" -> gcMs.get, "shuffle_write" -> shuffleWrite.get,
    "shuffle_read" -> shuffleRead.get, "output_bytes" -> outputBytes.get,
    "spill" -> spillBytes.get)

  def takeJobIntervals(): Seq[(Long, Long)] = synchronized {
    val out = jobIntervals.toSeq; jobIntervals.clear(); out
  }
}

/** One executed query plan as Spark's `QueryExecutionListener` saw it:
  * Catalyst phase intervals from `QueryPlanningTracker` and operator
  * counts of the final (post-AQE) physical plan.
  */
final case class PlanRecord(phases: Map[String, (Long, Long)],
    exchanges: Int, sorts: Int, broadcastJoins: Int, smj: Int, scans: Int,
    scannedPaths: Seq[String])

final class PlanRecorder extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val records = mutable.ArrayBuffer.empty[PlanRecord]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> ((p.startTimeMs, p.endTimeMs)) }
    val plan = qe.executedPlan
    def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]) =
      collect(plan)(pf).sum
    val r = PlanRecord(phases,
      exchanges = count { case _: ShuffleExchangeLike => 1 },
      sorts = count { case _: SortExec => 1 },
      broadcastJoins = count {
        case _: BroadcastHashJoinExec => 1
        case _: BroadcastNestedLoopJoinExec => 1 },
      smj = count { case _: SortMergeJoinExec => 1 },
      scans = count { case _: FileSourceScanExec => 1 },
      scannedPaths = collect(plan) { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString) }.flatten)
    synchronized { records += r }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def take(): Seq[PlanRecord] = synchronized {
    val out = records.toSeq; records.clear(); out
  }
}

/** Interval arithmetic on millisecond [start, end) intervals. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map(x => x._2 - x._1).sum

  /** Length of the union of `xs` inside `w`. */
  def within(xs: Seq[(Long, Long)], w: (Long, Long)): Long =
    length(xs.map { case (a, b) => (math.max(a, w._1), math.min(b, w._2)) })

  /** Length of the union of `xs` minus the part covered by `ys`. */
  def minus(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Long =
    length(xs) - union(xs).map(w => within(ys, w)).sum
}
