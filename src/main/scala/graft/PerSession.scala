package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** One concurrent map per session, the session held weakly: what is
  * kept for a session goes with it, and a `newSession()` (whose confs
  * may differ) starts empty.
  */
private[graft] final class PerSession[K, V] {
  private val maps = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[K, V]]()

  def apply(spark: SparkSession): ConcurrentHashMap[K, V] = maps.synchronized {
    maps.computeIfAbsent(spark, _ => new ConcurrentHashMap[K, V]())
  }
}
