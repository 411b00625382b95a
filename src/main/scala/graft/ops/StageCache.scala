package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for the lazily-persisted internal stages of multi-consumer
  * operators (minhash sketches, tf tables, IVF cell assignments, …).
  *
  * Those operators persist a mid-pipeline frame because two+ consumers
  * read it, but they RETURN a lazy result — so they cannot unpersist
  * before the caller consumes it (the blocks would be dropped and the
  * stage recomputed per consumer), and without a cleanup path every
  * invocation leaks cached blocks for the session lifetime (the leak
  * `Dedup.clusters` avoids by materializing eagerly). The contract:
  * operators route internal persists through [[persisted]], and the
  * CALLER — who knows when the result has been consumed — calls
  * [[releaseAll]] between queries (Verify/Bench do; a notebook user
  * can also `spark.catalog.clearCache()`, which is the blunt global
  * version).
  */
object StageCache {
  private val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` and register it for later release. */
  def persisted(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      val p = df.persist(level)
      stages += p
      p
    }

  /** Unpersist every registered stage (non-blocking) and clear the
    * registry. Safe to call at any time: an in-flight consumer of a
    * released stage recomputes it rather than failing.
    */
  def releaseAll(): Unit = synchronized {
    stages.foreach(df => try df.unpersist(false) catch { case NonFatal(_) => () })
    stages.clear()
  }

  /** Number of currently registered stages (spec hook). */
  def registeredCount: Int = synchronized(stages.length)
}
