package graft.plans

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, GraftShim, GraftTestShim, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, GraftExecShim,
  InputAdapter, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{SparkEntry, SparkTestBase}

/** [[OneTaskExchangeRule]] on global sorts: a sort over a narrow,
  * small, one-partition input sorts in place, and everything else keeps
  * Spark's sampled range exchange, with rows and order as Spark's plan
  * gives them. Aggregates, windows, joins and post-shuffle inputs are
  * [[OneTaskExchangeRuleSpec]]'s.
  *
  * Mutants this spec kills: "at most 2 leaf partitions count as one"
  * (the two-split input sorts in place), "no fan-out check" (an explode
  * sorts inside the scan task), "no byte guard" (an input over the
  * advisory size sorts in place), "size a scan by its read RDD"
  * (`explain` builds the Parquet reader, which creates a broadcast)
  * and "read an unbuilt broadcast" (`explain` of a broadcast join
  * starts the broadcast).
  */
class OneTaskSortRuleSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val dir = Files.createTempDirectory("one-task-sort").toString

  /** k with nulls and ties, unique id, seq in write order; one file. */
  private lazy val singlePath: String = {
    val path = s"$dir/single.parquet"
    spark.range(0, 400, 1, 1).selectExpr(
        "CASE WHEN id % 17 = 0 THEN NULL ELSE id % 5 END AS k",
        "(id * 7919) % 401 AS u", "id AS seq")
      .write.parquet(path)
    path
  }
  private lazy val single: DataFrame = spark.read.parquet(singlePath)

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = collect(p) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  private def sortedInPlace(p: SparkPlan): Boolean =
    collect(p) { case s: SortExec if s.global => s.child }.exists {
      case c: CoalesceExec => c.numPartitions == 1
      case InputAdapter(c: CoalesceExec) => c.numPartitions == 1
      case _ => false
    }

  private val orderings: Seq[(String, Seq[Column])] = Seq(
    "asc nulls first" -> Seq(col("k").asc_nulls_first, col("u")),
    "asc nulls last" -> Seq(col("k").asc_nulls_last, col("u")),
    "desc nulls first" -> Seq(col("k").desc_nulls_first, col("u").desc),
    "desc nulls last" -> Seq(col("k").desc_nulls_last, col("u")),
    "multi-key" -> Seq(col("k").desc, col("u").asc, col("seq").desc),
    "one key, unique" -> Seq(col("u").desc))

  test("a single-split parquet input sorts in place, rows as a 3-partition reference") {
    for ((name, ord) <- orderings) {
      val df = single.orderBy(ord: _*)
      val p = finalPlan(df)
      assert(collect(p) { case e: ShuffleExchangeLike => e }.isEmpty, name)
      assert(sortedInPlace(p), name)
      // the reference keeps Spark's sampled range exchange
      val ref = single.repartition(3).orderBy(ord: _*)
      assert(rangeExchanges(finalPlan(ref)).forall(_.numMappers == 3), name)
      assert(df.collect().toSeq === ref.collect().toSeq, name)
    }
  }

  test("ties come out in the order Spark's sampled plan gives them") {
    // Spark's sort is not stable: the order of ties depends on the
    // whole row sequence a sort task sees. The reference is Spark's own
    // exchange (AQE off: the rule is inert) from the one map task to one
    // reducer, which hands that reducer the scan's row sequence, planned
    // anew (a frame keeps the plan of its first run).
    def spark0(df: DataFrame): Seq[Row] = withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1") {
      val ref = GraftShim.ofRows(spark, df.queryExecution.logical)
      assert(rangeExchanges(ref.queryExecution.executedPlan).map(_.numPartitions) === Seq(1))
      ref.collect().toSeq
    }
    for (ord <- Seq(col("k").asc_nulls_first, col("k").desc_nulls_last)) {
      val inPlace = single.orderBy(ord)
      assert(sortedInPlace(finalPlan(inPlace)))
      assert(inPlace.collect().toSeq === spark0(inPlace), ord)
    }
  }

  /** Spark's own shape for a global sort, which the rule leaves alone:
    * a user range repartition samples, shuffles and sorts within
    * partitions.
    */
  private def sparkShape(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(spark.conf.get("spark.sql.shuffle.partitions").toInt, col(key))
      .sortWithinPartitions(key)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("a grouped one-split input loses both exchanges, same rows in order") {
    val post = single.groupBy("k").agg(count(lit(1)).as("n"))
    assert(jobsStartedBy(noop(post.orderBy("k"))) < jobsStartedBy(noop(sparkShape(post, "k"))))
    val p = finalPlan(post.orderBy("k"))
    assert(sortedInPlace(p) && collect(p) { case e: ShuffleExchangeLike => e }.isEmpty)
    assert(post.orderBy("k").collect().toSeq === sparkShape(post, "k").collect().toSeq)
  }

  test("an explode between the scan and the sort keeps the sampled range exchange") {
    val exploded = single.select(explode(sequence(lit(1L), col("u") % 7 + 1)).as("x"), col("seq"))
    val p = finalPlan(exploded.orderBy("x", "seq"))
    assert(!sortedInPlace(p) && rangeExchanges(p).size === 1)
    assert(exploded.orderBy("x", "seq").collect().toSeq ===
      exploded.repartition(3).orderBy("x", "seq").collect().toSeq)
  }

  test("a one-split input over the advisory partition size keeps the sampled range exchange") {
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      val p = finalPlan(single.orderBy("u"))
      assert(!sortedInPlace(p))
      assert(rangeExchanges(p).map(_.numMappers) === Seq(1))
      assert(jobsStartedBy(noop(single.orderBy("u"))) === jobsStartedBy(noop(sparkShape(single, "u"))))
    }
    // the same input under the default advisory size sorts in place
    assert(sortedInPlace(finalPlan(single.orderBy("u"))))
  }

  test("a multi-task map side keeps a sampled range exchange") {
    // two splits are not one: the two-file input samples as Spark does
    val path = s"$dir/two.parquet"
    spark.range(0, 100, 1, 2).selectExpr("(id * 37) % 101 AS u").write.parquet(path)
    val two = spark.read.parquet(path)
    assert(jobsStartedBy(noop(two.orderBy("u"))) === jobsStartedBy(noop(sparkShape(two, "u"))))
    val p = finalPlan(two.orderBy("u"))
    assert(!sortedInPlace(p))
    assert(rangeExchanges(p).map(_.numMappers) === Seq(2))
    assert(two.orderBy("u").collect().map(_.getLong(0)).toSeq ===
      two.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("q_substr_dedup's final sort still samples on a multi-task map side") {
    // at the dedup bench tier the final sort's input is 4 tasks; here a
    // 4-split corpus with coalescing off gives the same shape
    val sf = s"$dir/sf4"
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .repartition(4).write.parquet(s"$sf/documents.parquet")
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val p = finalPlan(SparkEntry.queries("q_substr_dedup")(spark, sf))
      val top = collectFirst(p) { case s: SortExec if s.global => s.child }
      val ex = top.toSeq.flatMap(rangeExchanges)
      assert(ex.map(_.getClass) === Seq(classOf[ShuffleExchangeExec]),
        "final sort lost its range exchange")
      assert(ex.head.numMappers > 1, "final sort no longer samples")
    }
  }

  test("zero-row and zero-file inputs sort to an empty, typed result") {
    val zeroRows = s"$dir/zero_rows.parquet"
    spark.range(0, 0, 1, 1).toDF("u").write.parquet(zeroRows)
    val z = spark.read.parquet(zeroRows).orderBy(col("u").desc)
    assert(z.collect().isEmpty && z.schema.fieldNames.toSeq === Seq("u"))
    val zeroFiles = Files.createTempDirectory(Files.createDirectories(
      new java.io.File(dir).toPath), "zero_files").toString
    val schema = StructType(Seq(StructField("u", LongType)))
    val f = spark.read.schema(schema).parquet(zeroFiles).orderBy("u")
    assert(f.collect().isEmpty)
    assert(sortedInPlace(f.queryExecution.executedPlan))
    assert(f.groupBy("u").count().orderBy("u").collect().isEmpty)
  }

  test("ORDER BY + LIMIT, sortWithinPartitions, window sorts and repartitionByRange are untouched") {
    def touched(p: SparkPlan): Boolean =
      collect(p) { case c: CoalesceExec => c }.nonEmpty
    val top = finalPlan(single.orderBy("u").limit(5))
    assert(collect(top) { case t: TakeOrderedAndProjectExec => t }.nonEmpty && !touched(top))
    assert(!touched(finalPlan(single.sortWithinPartitions("u"))))
    // the window's exchange goes (OneTaskExchangeRuleSpec); its sort
    // stays the local sort Spark plans
    def windowed = single.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("seq")))
    def windowSorts(p: SparkPlan) = collect(p) { case s: SortExec => (s.global, s.sortOrder) }
    val spark0 = withSQLConf("spark.sql.adaptive.enabled" -> "false")(windowed.queryExecution.executedPlan)
    assert(windowSorts(finalPlan(windowed)) === windowSorts(spark0))
    assert(windowSorts(spark0).map(_._1) === Seq(false))
    val byRange = finalPlan(single.repartitionByRange(3, col("u")).sortWithinPartitions("u"))
    assert(!touched(byRange))
    assert(collect(byRange) {
      case e: ShuffleExchangeExec if e.shuffleOrigin != ENSURE_REQUIREMENTS => e }.size === 1)
  }

  test("explain and the prepared plan start no job, build no reader and write nothing") {
    // sizing the scan reads its file listing; building the parquet
    // reader would broadcast the Hadoop conf
    val scan = spark.read.parquet(singlePath).orderBy("u")
    assert(jobsStartedBy {
      assert(broadcastsCreatedBy {
        scan.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        GraftExecShim.initialPhysicalPlan(scan)
      } === 0)
    } === 0)
    assert(sortedInPlace(GraftExecShim.initialPhysicalPlan(scan)))

    val writes = new AtomicInteger
    val out = s"$dir/sink_${java.util.UUID.randomUUID}"
    val schema = StructType(Seq(StructField("u", LongType)))
    val rt = SinkThenScan.roundTrip(spark, schema,
      s => { writes.incrementAndGet(); s.range(0, 50, 1, 1).toDF("u").write.parquet(out) },
      s => s.read.parquet(out))
    val df = rt.orderBy(col("u").desc)
    assert(jobsStartedBy {
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      GraftExecShim.initialPhysicalPlan(df)
    } === 0)
    assert(writes.get === 0)
    assert(df.collect().map(_.getLong(0)).toSeq === (49L to 0L by -1L))
    assert(writes.get === 1, "the deferred write must run exactly once per execution")
    // an aggregate under the sort and a broadcast join under the sort
    // (whose build side is not yet a stage) are prepared without a job
    // or a broadcast
    val dimPath = s"$dir/dim_${java.util.UUID.randomUUID}.parquet"
    spark.range(0, 5, 1, 1).selectExpr("id AS k", "id * 10 AS w").write.parquet(dimPath)
    for (shaped <- Seq(
        spark.read.parquet(singlePath).groupBy("k").agg(sum("u").as("s")).orderBy("k"),
        spark.read.parquet(singlePath).join(broadcast(spark.read.parquet(dimPath)), "k").orderBy("u"))) {
      assert(jobsStartedBy {
        assert(broadcastsCreatedBy {
          shaped.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          GraftExecShim.initialPhysicalPlan(shaped)
        } === 0)
      } === 0)
    }
    // a scalar subquery under the sort does not run at plan time
    single.createOrReplaceTempView("one_task_sort_single")
    val sub = spark.sql("""SELECT u FROM one_task_sort_single
      WHERE u > (SELECT avg(u) FROM one_task_sort_single) ORDER BY u""")
    assert(jobsStartedBy(sub.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)) === 0)
    val us = single.collect().map(_.getLong(1)).toSeq
    assert(sub.collect().map(_.getLong(0)).toSeq ===
      us.filter(_ > us.sum.toDouble / us.size).sorted)
  }

  test("every session carries the rule exactly once") {
    for (s <- Seq(spark, spark.newSession()))
      assert(GraftTestShim.session(s).prepRules.count(_ eq OneTaskExchangeRule) === 1)
    // what ServiceLoader alone gives a plain builder session
    assert(GraftTestShim.provider(spark).prepRules.count(_ eq OneTaskExchangeRule) === 1)
  }

  test("with AQE off the plan is Spark's") {
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val p = single.orderBy("u").queryExecution.executedPlan
      assert(collect(p) { case c: CoalesceExec => c }.isEmpty)
      assert(collect(p) {
        case e @ ShuffleExchangeExec(_: RangePartitioning, _, ENSURE_REQUIREMENTS, _) => e
      }.size === 1)
    }
  }
}
