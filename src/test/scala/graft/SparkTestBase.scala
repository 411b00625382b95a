package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Run `body` with the given SQL confs set, restoring priors after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val priors = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally priors.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Broadcasts `body` creates: broadcast ids are handed out in order,
    * so two probes around it bracket every id it took.
    */
  def broadcastsCreatedBy(body: => Unit): Long = {
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    body
    val after = sc.broadcast(0)
    try after.id - before.id - 1 finally { before.destroy(); after.destroy() }
  }

  /** Spark jobs that `body` starts on this thread, counted once the
    * listener bus has delivered every event `body` posted.
    */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, "counted")
      body
      GraftShim.drainListenerBus(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
