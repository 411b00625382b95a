package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** The ledger's windows are exact: each holds the jobs and stages its
  * body started, however far behind listener delivery runs. A second
  * listener on the same (shared) queue sleeps on every job start, so
  * any read that does not drain the bus comes out short.
  */
class RunLedgerSpec extends SparkTestBase {
  private def withLedger[A](f: RunLedger => A): A = {
    val sc = spark.sparkContext
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(300)
    }
    val ledger = RunLedger.attach(spark)
    sc.addSparkListener(slow)
    try f(ledger)
    finally { sc.removeSparkListener(slow); sc.removeSparkListener(ledger) }
  }

  private def oneTaskCount(): Long = spark.range(0, 10, 1, 1).count()

  test("a window counts every job its body started, behind a slow listener") {
    withLedger { ledger =>
      val (r, w) = ledger.measure((1 to 3).map(_ => oneTaskCount()))
      assert(r.get === Seq(10L, 10L, 10L))
      assert(w.jobs === 3)
      assert(w.stages.size === 3)
      assert(w.seconds > 0)
    }
  }

  test("a window holds only its own stages, none from before it") {
    withLedger { ledger =>
      val sc = spark.sparkContext
      val (_, before) = ledger.measure(oneTaskCount())
      val outside = s"outside-${java.util.UUID.randomUUID}"
      sc.setJobGroup(outside, "outside any window")
      try oneTaskCount() finally sc.clearJobGroup()
      val (r, w) = ledger.measure(
        spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect())
      assert(r.get.length === 7)
      assert(w.shW > 0)
      assert(w.stages.nonEmpty)
      assert(w.stages.map(_.id).min > before.stages.map(_.id).max)
      val outsideStages = sc.statusTracker.getJobIdsForGroup(outside).toSeq
        .flatMap(sc.statusTracker.getJobInfo).flatMap(_.stageIds)
      assert(outsideStages.nonEmpty)
      assert(w.stages.map(_.id).intersect(outsideStages).isEmpty)
    }
  }

  test("a body that throws still closes its window, its jobs counted") {
    withLedger { ledger =>
      val (r, w) = ledger.measure[Long] {
        oneTaskCount(); oneTaskCount()
        throw new IllegalStateException("boom")
      }
      assert(r.failed.get.getMessage === "boom")
      assert(w.jobs === 2)
      oneTaskCount() // between windows: recorded nowhere
      val (_, next) = ledger.measure(oneTaskCount())
      assert(next.jobs === 1)
      assert(next.stages.size === 1)
    }
  }
}
