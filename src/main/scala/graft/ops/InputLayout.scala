package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}

/** Input-parallelism guard for the map-heavy operator entries (guide
  * §2.5 "input skew: one huge unsplittable file … repartition
  * immediately after the read", §6 input split size).
  *
  * The expensive per-row kernels of the text/dedup family (shingling,
  * k-MD5 minhash signatures, rolling window digests) execute inside the
  * SCAN stage, so their parallelism is the scan's split count. A
  * parquet source with a single row group is unsplittable no matter the
  * split-size conf — maxPartitionBytes / openCostInBytes only cut byte
  * ranges, and a row group is readable by exactly one task — so on such
  * inputs the whole sketch pass serializes onto one core while the rest
  * of the cluster idles (measured: the q_dedup_minhash sketch+bucket
  * stages run 2×~1.0 s single-task at sf0.1 on local[32]; ~60 ms/stage
  * once spread).
  *
  * `spread` hash-repartitions the frame on the operator's id column to
  * the session's default parallelism — but ONLY when the input carries
  * at most half that many partitions, so it is a NO-OP on any properly
  * laid-out source (a corpus-scale scan has orders of magnitude more
  * splits than the cluster has cores, and coalescing it here would be
  * harmful — hence the guard, not an unconditional repartition). Hash
  * on the unique id avoids the round-robin form's
  * sort-before-repartition pass and is deterministic under task retry
  * (SPARK-38388 class); unique keys spread evenly by construction.
  *
  * Under AQE a one-task input that is small enough is split by
  * re-reading it, not by shuffling it: `graft.plans.OneTaskExchangeRule`
  * turns the repartition into a [[graft.plans.OneTaskSplitExec]], whose
  * tasks each scan the input and keep their own hash partition, so no
  * document text crosses a shuffle. A larger input, one of several
  * splits, or AQE off keeps Spark's hash exchange.
  *
  * The partition-count probe plans (but never runs) the frame's
  * physical plan; a frame the probe cannot plan standalone (e.g. one
  * that needs EnsureRequirements) falls back to the no-op side —
  * failing OPEN to the current behavior.
  */
object InputLayout {

  def spread(df: DataFrame, key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val target = sc.defaultParallelism
    val cur =
      try df.queryExecution.sparkPlan.execute().getNumPartitions
      catch { case NonFatal(_) => target }
    if (cur * 2 <= target) df.repartition(target, key) else df
  }

  def spread(df: DataFrame, keyCol: String): DataFrame =
    spread(df, df.col(keyCol))
}
