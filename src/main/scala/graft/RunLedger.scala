package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftShim, SparkSession}

/** The one metrics listener of the mains (Bench, ProfQ, Tune): counts
  * job starts and records completed stages, but only inside a window
  * opened by [[measure]], so nothing piles up between measurements.
  * Listener delivery is asynchronous; [[measure]] drains the bus on
  * both sides of its body, so a window holds exactly the events its
  * body posted: none left over from before it, none still queued.
  */
final class RunLedger private (spark: SparkSession) extends SparkListener {
  import RunLedger._

  // guarded by `this`: the bus thread appends, the caller opens/closes
  private var open = false
  private var jobs = 0
  private val stages = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) synchronized {
      if (open) {
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
          .getOrElse(0L)
        stages += Stage(i.stageId, i.name.linesIterator.nextOption().getOrElse(""),
          wall, i.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.jvmGCTime, m.diskBytesSpilled + m.memoryBytesSpilled,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** Run `body` in a window of its own. Returns its result (a failure
    * too: the window still closes, and the jobs it started count) and
    * what the window saw; `seconds` is the body's wall time alone.
    */
  def measure[A](body: => A): (Try[A], Window) = {
    val sc = spark.sparkContext
    GraftShim.drainListenerBus(sc)
    synchronized { open = true; jobs = 0; stages.clear() }
    val t0 = System.nanoTime()
    val result = try Success(body) catch { case e: Throwable => Failure(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val window =
      try { GraftShim.drainListenerBus(sc); synchronized(Window(seconds, jobs, stages.toList)) }
      finally synchronized { open = false; stages.clear() }
    (result, window)
  }
}

object RunLedger {
  /** One completed stage: `name` is the first line of Spark's stage
    * name (a call site), byte and row fields are summed over its tasks.
    */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      taskMs: Long, shW: Long, shR: Long, gcMs: Long, spill: Long,
      inRows: Long, outRows: Long)

  /** What one [[RunLedger.measure]] saw, stages in completion order. */
  final case class Window(seconds: Double, jobs: Int, stages: Seq[Stage]) {
    def shW: Long = stages.map(_.shW).sum
    def shR: Long = stages.map(_.shR).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def spill: Long = stages.map(_.spill).sum
  }

  /** A ledger listening to `spark`'s bus for the rest of the session. */
  def attach(spark: SparkSession): RunLedger = {
    val l = new RunLedger(spark)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
