package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GraftExecShim, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkTestBase
import graft.plans.OneTaskSplitExec

/** [[InputLayout.spread]]: a no-op on a frame with enough splits, a
  * hash repartition to the default parallelism of a frame with few,
  * and, for a one-split input under AQE, a repartition that re-reads
  * the input instead of shuffling it.
  */
class InputLayoutSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val dir = Files.createTempDirectory("input-layout").toString

  /** `files` parquet files of the same 400 documents. */
  private def docs(files: Int): DataFrame = {
    val path = s"$dir/docs_$files.parquet"
    spark.range(0, 400, 1, files)
      .selectExpr("(id * 7919) % 401 AS doc_id", "concat('text ', id % 13) AS text")
      .write.parquet(path)
    spark.read.parquet(path)
  }

  private lazy val one = docs(1)
  private lazy val four = docs(4)

  private def fresh(df: DataFrame): DataFrame = GraftShim.ofRows(spark, df.queryExecution.logical)

  /** (partition, row) pairs in the order each partition yields them. */
  private def byPartition(df: DataFrame): Seq[(Int, String)] =
    df.rdd.mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r.toString))).collect().toSeq

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(p) { case e: ShuffleExchangeLike => e }

  test("spread is a no-op on a frame with more splits than half the cores") {
    assert(spark.sparkContext.defaultParallelism === 4)
    assert(InputLayout.spread(four, "doc_id") eq four)
  }

  test("spread hash-repartitions a one-split frame to the default parallelism") {
    val s = InputLayout.spread(one, "doc_id")
    assert(s ne one)
    GraftExecShim.initialPhysicalPlan(s).outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions === 4 && h.references.map(_.name).toSeq === Seq("doc_id"))
      case other => fail(s"not hash-partitioned: $other")
    }
    assert(s.rdd.getNumPartitions === 4)
    assert(s.collect().map(_.toString).sorted === one.collect().map(_.toString).sorted)
  }

  test("under AQE a one-split spread runs without a shuffle stage, rows and order as the shuffle's") {
    val s = InputLayout.spread(one, "doc_id")
    val shuffled = withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val f = fresh(s)
      assert(shuffles(f.queryExecution.executedPlan).size === 1)
      byPartition(f)
    }
    val f = fresh(s)
    assert(jobsStartedBy(assert(byPartition(f) === shuffled)) === 1)
    val p = f.queryExecution.executedPlan
    assert(shuffles(p).isEmpty && collect(p) { case e: OneTaskSplitExec => e }.size === 1)
    assert(shuffled.map(_._1).distinct.sorted === (0 until 4))
  }
}
