package graft.plans

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, FormattedMode, GraftExecShim, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkTestBase
import graft.ops.TemporalJoins

/** [[OneTaskExchangeRule]] under aggregates, windows and joins, over
  * inputs that are one task only once the upstream stage has run, and
  * for hash repartitions of one small task ([[OneTaskSplitExec]]); over
  * one-file parquet scans cut into several splits, sized by their row
  * groups ([[ParquetRowGroups]]); and the guard that folds only into a
  * stage waiting on nothing else. Global sorts over one-split scans are
  * [[OneTaskSortRuleSpec]]'s.
  * Every rewritten query returns Spark's rows (AQE off, where the rule
  * never runs) in Spark's order.
  *
  * Mutants this spec kills: "no coalescing check" (a post-shuffle input
  * coalescing reads as several partitions loses its exchange),
  * "no post-shuffle byte guard"
  * (a one-partition stage over the advisory size loses the exchange
  * above it), "no unique-key check" (a fan-out broadcast join runs in
  * one task), "any broadcast side counts as built" (the broadcast
  * future starts at `explain`), "rewrite under joins" (a sort-merge
  * join's one-task side loses its exchange and the join is no longer
  * co-partitioned), "no determinism check" (a repartition over `rand`
  * is split and its re-reads disagree), "no N× byte guard" (an input
  * that fits the advisory size once but not once per partition is
  * split), "partitioning dropped to Unknown" (a groupBy or window on
  * the repartition key shuffles again), "read only parent partition
  * 0" (a split over a three-partition parent loses rows), "a split is
  * narrow" (a groupBy on another key runs every split task in one),
  * "no guard" (an aggregate folds into a stage that waits on an unbuilt
  * broadcast), "every stage input pending" (a materialized stage
  * beside a fold holds it back), "no query stage pending" (an
  * unmaterialized broadcast stage lets a fold through), "undo every
  * fold of a merged stage" (the aggregate under a held-back window
  * exchange loses its fold), "row groups keyed without the mtime" (a
  * same-length rewrite keeps the old footer's count), "no row-group
  * sizing" (a one-row-group file cut into splits keeps its exchanges).
  */
class OneTaskExchangeRuleSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val dir = Files.createTempDirectory("one-task-exchange").toString

  private def written(name: String, df: DataFrame): DataFrame = {
    val path = s"$dir/$name.parquet"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  private val cols = Seq("CASE WHEN id % 17 = 0 THEN NULL ELSE id % 5 END AS k",
    "(id * 7919) % 401 AS u", "id AS seq")
  /** k with nulls and ties, unique u, seq in write order; one split. */
  private lazy val single = written("single", spark.range(0, 400, 1, 1).selectExpr(cols: _*))
  /** The same rows in two files: two map tasks, so every exchange over
    * it stays until its stage has run.
    */
  private lazy val two = written("two", spark.range(0, 400, 1, 2).selectExpr(cols: _*))
  private lazy val dimUnique = written("dim_unique",
    spark.range(0, 5, 1, 1).selectExpr("id AS k", "id * 10 AS w"))
  private lazy val dimRepeated = written("dim_repeated",
    spark.range(0, 10, 1, 1).selectExpr("id % 5 AS k", "id AS w"))

  /** A new plan for `df`: a frame keeps the plan of its first run,
    * whatever confs are set later.
    */
  private def fresh(df: DataFrame): DataFrame = GraftShim.ofRows(spark, df.queryExecution.logical)

  private def finalPlan(df: DataFrame): SparkPlan = {
    val f = fresh(df)
    f.collect()
    f.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(p) { case e: ShuffleExchangeLike => e }

  private def rangeShuffles(p: SparkPlan): Int =
    shuffles(p).count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  private def coalesced(p: SparkPlan): Boolean =
    collect(p) { case c: CoalesceExec => c.numPartitions }.contains(1)

  /** Spark's rows in Spark's order: AQE off, where the rule never runs. */
  private def spark0(df: DataFrame): Seq[Row] =
    withSQLConf("spark.sql.adaptive.enabled" -> "false")(fresh(df).collect().toSeq)

  private def sameRows(df: DataFrame, ordered: Boolean, clue: String): Unit =
    if (ordered) assert(fresh(df).collect().toSeq === spark0(df), clue)
    else assert(fresh(df).collect().map(_.toString).sorted === spark0(df).map(_.toString).sorted, clue)

  private def splits(p: SparkPlan): Int = collect(p) { case s: OneTaskSplitExec => s }.size

  /** (partition, row) pairs in the order each partition yields them. */
  private def byPartition(df: DataFrame): Seq[(Int, String)] =
    df.rdd.mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r.toString))).collect().toSeq

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("one-split aggregates, distinct and windows run as one stage, rows as Spark's") {
    val shapes = Seq(
      "grouped" -> single.groupBy("k").agg(sum("u").as("s"), count(lit(1)).as("n")),
      "global" -> single.agg(sum("u").as("s"), max("seq").as("m")),
      "distinct" -> single.select("k").distinct(),
      "window" -> single.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("seq"))),
      "global window" -> single.withColumn("r", rank().over(Window.orderBy(col("u").desc))))
    for ((name, df) <- shapes) {
      val p = finalPlan(df)
      assert(shuffles(p).isEmpty && coalesced(p), name)
      assert(jobsStartedBy(noop(df)) === 1, name)
      sameRows(df, ordered = false, name)
    }
  }

  /** Over `two`: the grouping exchange stays, and what sits above the
    * aggregate is one small task only once that exchange's stage ran.
    */
  private def postShuffle: Seq[(String, DataFrame)] = {
    val grouped = two.groupBy("k").agg(sum("u").as("s"), count(lit(1)).as("n"))
    Seq(
      "sort" -> grouped.orderBy("k"),
      "global aggregate" -> grouped.agg(max("s").as("m"), sum("n").as("t")),
      "window" -> grouped.withColumn("r", rank().over(Window.orderBy(col("s").desc, col("k")))))
  }

  test("a post-shuffle input coalescing reads as one partition loses the exchange above it") {
    for ((name, df) <- postShuffle) {
      assert(shuffles(GraftExecShim.initialPhysicalPlan(df)).size === 2, name)
      val p = finalPlan(df)
      assert(shuffles(p).size === 1 && coalesced(p), name)
      val spark1 = withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        jobsStartedBy(noop(df))
      }
      assert(jobsStartedBy(noop(df)) < spark1, name)
      sameRows(df, ordered = true, name)
    }
  }

  test("a post-shuffle input coalescing reads as several partitions keeps its exchange") {
    // a tiny minimum partition size lets coalescing keep one partition
    // per core; with coalescing off AQE reads every shuffle partition
    for (conf <- Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
                     "spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      withSQLConf(conf) {
        for ((name, df) <- postShuffle) {
          val p = finalPlan(df)
          assert(shuffles(p).size === 2 && !coalesced(p), s"$name under $conf")
          sameRows(df, ordered = true, s"$name under $conf")
        }
      }
    }
  }

  test("inputs over the advisory size keep their exchanges, before or after the upstream stage runs") {
    // every row lands in one partition of the window's hash exchange,
    // which coalescing reads as one partition of more than the advisory
    // size
    val oneBig = two.withColumn("g", col("seq") - col("seq"))
      .withColumn("r", row_number().over(Window.partitionBy("g").orderBy("seq")))
      .orderBy("u")
    val grouped = single.groupBy("k").agg(sum("u").as("s"))
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      val p = finalPlan(oneBig)
      assert(rangeShuffles(p) === 1 && !coalesced(p))
      sameRows(oneBig, ordered = true, "one big partition")
      val g = finalPlan(grouped)
      assert(shuffles(g).size === 1 && !coalesced(g))
    }
    // under the default advisory size both go
    assert(rangeShuffles(finalPlan(oneBig)) === 0 && coalesced(finalPlan(oneBig)))
    assert(shuffles(finalPlan(grouped)).isEmpty)
  }

  test("a broadcast join that emits at most its streamed rows runs inside the one task") {
    val shapes = Seq(
      "inner, unique keys" -> single.join(broadcast(dimUnique), Seq("k")),
      "left outer, unique keys" -> single.join(broadcast(dimUnique), Seq("k"), "left_outer"),
      "left semi, repeated keys" -> single.join(broadcast(dimRepeated), Seq("k"), "left_semi"),
      "left anti, repeated keys" -> single.join(broadcast(dimRepeated), Seq("k"), "left_anti"))
    for ((name, joined) <- shapes) {
      val df = joined.orderBy("u")
      // the build side is an exchange until its stage runs
      assert(rangeShuffles(GraftExecShim.initialPhysicalPlan(df)) === 1, name)
      val p = finalPlan(df)
      assert(rangeShuffles(p) === 0 && coalesced(p), name)
      sameRows(df, ordered = true, name)
    }
  }

  test("a broadcast join whose build keys repeat keeps the exchange above it") {
    for (how <- Seq("inner", "left_outer")) {
      val df = single.join(broadcast(dimRepeated), Seq("k"), how).orderBy("u", "w")
      val p = finalPlan(df)
      assert(rangeShuffles(p) === 1 && !coalesced(p), how)
      sameRows(df, ordered = true, how)
    }
  }

  test("a sort-merge join with one one-task side shuffles both sides") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = single.join(two.select(col("u"), col("seq").as("seq2")), Seq("u")).orderBy("u")
      val p = finalPlan(df)
      val joins = collect(p) { case j: SortMergeJoinExec => j }
      assert(joins.size === 1)
      assert(shuffles(joins.head.left).size === 1 && shuffles(joins.head.right).size === 1)
      assert(!coalesced(p))
      sameRows(df, ordered = true, "smj")
    }
  }

  test("an aggregate whose hash partitioning a join relies on keeps its exchange") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      // both aggregates already hash-partition by the join key, so the
      // join adds no exchange of its own
      val left = single.groupBy("k").agg(sum("u").as("s"))
      val right = two.groupBy("k").agg(count(lit(1)).as("n"))
      val df = left.join(right, "k").orderBy("k")
      val joins = collect(finalPlan(df)) { case j: SortMergeJoinExec => j }
      assert(joins.size === 1)
      assert(shuffles(joins.head.left).size === 1 && shuffles(joins.head.right).size === 1)
      sameRows(df, ordered = true, "sort-merge join over aggregates")
    }
    // the as-of join zips the partitions of its two sides, here two
    // aggregates hash-partitioned by the key
    val asOf = TemporalJoins.asofJoinNative(single.groupBy("k").agg(max("seq").as("t")),
      two.groupBy("k").agg(max("u").as("rt"), sum("seq").as("v")), Seq("k"), "t", "rt", Seq("v"))
    sameRows(asOf.orderBy("k"), ordered = true, "as-of join over aggregates")
  }

  test("a stage with no map output or no rows gives an empty, typed result") {
    val schema = StructType(Seq(StructField("u", LongType)))
    val noFiles = Files.createTempDirectory(Files.createDirectories(
      new java.io.File(dir).toPath), "no_files").toString
    val noRows = s"$dir/no_rows.parquet"
    spark.range(0, 0, 1, 1).toDF("u").write.parquet(noRows)
    for (in <- Seq(spark.read.schema(schema).parquet(noFiles), spark.read.parquet(noRows))) {
      // the explode keeps the grouping exchange, so the sort and the
      // global aggregate above it read a materialized stage
      val exploded = in.select(explode(array(col("u"), col("u") + 1)).as("x"))
      val sorted = exploded.groupBy("x").count().orderBy("x")
      assert(sorted.collect().isEmpty && sorted.schema.fieldNames.toSeq === Seq("x", "count"))
      val total = exploded.groupBy("x").count().agg(count(lit(1)).as("n"))
      assert(total.collect().toSeq === Seq(Row(0L)))
      assert(!coalesced(sorted.queryExecution.executedPlan))
    }
  }

  /** `df` hash-repartitioned by k to the four cores. */
  private def byK(df: DataFrame): DataFrame = df.repartition(4, col("k"))

  /** Spark's partitions of `df`, each in order: AQE off. */
  private def sparkPartitions(df: DataFrame): Seq[(Int, String)] =
    withSQLConf("spark.sql.adaptive.enabled" -> "false")(byPartition(fresh(df)))

  test("a hash repartition of one small task is split without a shuffle, and keyed consumers add none") {
    val shapes = Seq(
      "repartition" -> byK(single),
      "groupBy" -> byK(single).groupBy("k").agg(sum("u").as("s"), count(lit(1)).as("n")),
      "window" -> byK(single).withColumn("r", row_number().over(Window.partitionBy("k").orderBy("seq"))))
    for ((name, df) <- shapes) {
      val p = finalPlan(df)
      assert(shuffles(p).isEmpty && splits(p) === 1, name)
      assert(jobsStartedBy(noop(fresh(df))) === 1, name)
      assert(byPartition(fresh(df)) === sparkPartitions(df), name)
    }
    // keyed otherwise, a consumer keeps its exchange: one task would
    // run every split task's share of the work in turn
    val other = byK(single).groupBy("u").agg(max("seq").as("m"))
    val p = finalPlan(other)
    assert(shuffles(p).size === 1 && splits(p) === 1 && !coalesced(p))
    sameRows(other, ordered = false, "keyed otherwise")
  }

  test("a hash repartition keeps its exchange over a wide, oversize or nondeterministic input") {
    val keeps = Seq(
      "two splits" -> byK(two),
      "nondeterministic input" -> byK(single.withColumn("r", rand(7))),
      "nondeterministic key" -> single.repartition(4, (col("u") + rand(7) * 3).cast("long")))
    for ((name, df) <- keeps) {
      val p = finalPlan(df)
      assert(shuffles(p).size === 1 && splits(p) === 0, name)
    }
    sameRows(byK(two), ordered = false, "two splits")
    // the input fits the advisory size once but not once per partition
    val bytes = single.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4 * bytes - 1).toString) {
      val p = finalPlan(byK(single))
      assert(shuffles(p).size === 1 && splits(p) === 0)
    }
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4 * bytes).toString) {
      val p = finalPlan(byK(single))
      assert(shuffles(p).isEmpty && splits(p) === 1)
    }
  }

  test("a split over a scan of no files gives four empty, typed partitions") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val noFiles = Files.createTempDirectory(Files.createDirectories(
      new java.io.File(dir).toPath), "split_no_files").toString
    val df = byK(spark.read.schema(schema).parquet(noFiles))
    val f = fresh(df)
    assert(f.rdd.getNumPartitions === 4 && byPartition(f).isEmpty)
    assert(splits(f.queryExecution.executedPlan) === 1)
    val counted = fresh(df.groupBy("k").count())
    assert(counted.collect().isEmpty && counted.schema.fieldNames.toSeq === Seq("k", "count"))
  }

  test("every task of a split reads every partition of its parent") {
    // the rule splits only one-task inputs, which a materialized shuffle
    // stage is while still holding one partition per core
    val postShuffle = two.groupBy("k").agg(sum("u").as("s")).repartition(4, col("s"))
    val p = finalPlan(postShuffle)
    assert(shuffles(p).size === 1 && splits(p) === 1)
    assert(byPartition(fresh(postShuffle)).sorted === sparkPartitions(postShuffle).sorted)
    // a parent of three partitions, split directly
    val three = spark.range(0, 400, 1, 3).selectExpr(cols: _*)
    val spark3 = sparkPartitions(byK(three)).sorted
    val child = withSQLConf("spark.sql.adaptive.enabled" -> "false")(
      fresh(three).queryExecution.executedPlan)
    assert(child.execute().getNumPartitions === 3)
    val schema = child.schema
    val split = OneTaskSplitExec(HashPartitioning(child.output.filter(_.name == "k"), 4), child)
    val got = split.execute().mapPartitionsWithIndex { (i, rows) =>
      rows.map(r => (i, r.toSeq(schema).mkString("[", ",", "]")))
    }.collect().toSeq
    assert(got.size === 400 && got.sorted === spark3)
  }

  test("repartitions by column alone, round-robin ones and any with AQE off keep Spark's exchange") {
    for ((name, df) <- Seq("by column" -> single.repartition(col("k")),
                           "round-robin" -> single.repartition(4))) {
      val p = finalPlan(df)
      assert(shuffles(p).size === 1 && splits(p) === 0, name)
    }
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val p = fresh(byK(single)).queryExecution.executedPlan
      assert(shuffles(p).size === 1 && splits(p) === 0)
    }
  }

  test("explain and the initial plan show the split and start no job") {
    val df = byK(single).groupBy("k").count()
    val shown = new java.io.ByteArrayOutputStream
    assert(jobsStartedBy {
      Console.withOut(shown)(fresh(df).explain())
      assert(splits(GraftExecShim.initialPhysicalPlan(fresh(df))) === 1)
    } === 0)
    assert(shown.toString.contains("OneTaskSplit"))
  }

  /** `df` written as one bare parquet file at `path` (no checksum file
    * beside it, so a rewrite in place stays readable).
    */
  private def bareFile(df: DataFrame, path: String, options: (String, String)*): File = {
    val tmp = s"$dir/tmp_${java.util.UUID.randomUUID}"
    df.coalesce(1).write.options(options.toMap).parquet(tmp)
    val part = new File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    copyOver(part, path)
  }

  private def copyOver(from: File, path: String): File = {
    val to = new File(path)
    to.getParentFile.mkdirs()
    Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
    to
  }

  private def rowGroups(f: File): Int = ParquetFooterReader.readFooter(
    HadoopInputFile.fromPath(new Path(f.toURI), spark.sparkContext.hadoopConfiguration),
    ParquetMetadataConverter.NO_FILTER).getBlocks.size

  private lazy val rows = spark.range(0, 400, 1, 1).selectExpr(cols: _*)
  /** `rows` in one row group, and in row groups of about 100 rows. */
  private lazy val oneGroupFile = bareFile(rows, s"$dir/rg/one_group.parquet")
  private lazy val groupsFile = bareFile(rows, s"$dir/rg/groups.parquet", "parquet.block.size" -> "1024")
  private def oneGroup: DataFrame = spark.read.parquet(oneGroupFile.getPath)

  /** Splits of at most 1 KB: every fixture file is cut into several. */
  private def smallSplits[A](body: => A): A =
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "1024")(body)

  /** Spark's rows in the order its plan with one reducer gives them. */
  private def oneReducer(df: DataFrame): Seq[Row] = withSQLConf(
      "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "1")(
    fresh(df).collect().toSeq)

  private def initial(df: DataFrame): SparkPlan = GraftExecShim.initialPhysicalPlan(fresh(df))

  private def folds(p: SparkPlan): Int = collect(p) { case c: CoalesceExec => c.numPartitions }.count(_ == 1)

  private def shapesOver(in: DataFrame): Seq[(String, DataFrame)] = Seq(
    "grouped" -> in.groupBy("k").agg(sum("u").as("s"), count(lit(1)).as("n")),
    "global" -> in.agg(sum("u").as("s"), max("seq").as("m")),
    "sort" -> in.orderBy("k"),
    "window" -> in.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("seq"))))

  test("a one-row-group parquet file read as several splits is one task, rows and order as one reducer's") {
    smallSplits {
      assert(rowGroups(oneGroupFile) === 1 && fresh(oneGroup).rdd.getNumPartitions >= 3)
      for ((name, df) <- shapesOver(oneGroup)) {
        val p = finalPlan(df)
        assert(shuffles(p).isEmpty && coalesced(p), name)
        assert(jobsStartedBy(noop(fresh(df))) === 1, name)
        assert(fresh(df).collect().toSeq === oneReducer(df), name)
      }
    }
    // one split per file: the plan the row groups now give it
    assert(shuffles(finalPlan(oneGroup.orderBy("k"))).isEmpty)
  }

  test("the same rows in several row groups keep their exchanges") {
    val groups = spark.read.parquet(groupsFile.getPath)
    smallSplits {
      assert(rowGroups(groupsFile) >= 2 && fresh(groups).rdd.getNumPartitions >= 2)
      for ((name, df) <- shapesOver(groups)) {
        val p = finalPlan(df)
        assert(shuffles(p).nonEmpty && !coalesced(p), name)
        sameRows(df, ordered = name == "sort", name)
      }
    }
  }

  test("a zero-row file read as several splits is one task") {
    val empty = bareFile(spark.range(0, 0, 1, 1).toDF("u"), s"$dir/rg/zero_rows.parquet")
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "64") {
      val in = spark.read.parquet(empty.getPath)
      assert(rowGroups(empty) === 0 && fresh(in).rdd.getNumPartitions >= 2)
      val df = in.groupBy("u").count().orderBy("u")
      val p = finalPlan(df)
      assert(shuffles(p).isEmpty && folds(p) === 2)
      assert(fresh(df).collect().isEmpty && df.schema.fieldNames.toSeq === Seq("u", "count"))
      assert(fresh(in.agg(count(lit(1)))).collect().toSeq === Seq(Row(0L)))
    }
  }

  test("an unreadable footer keeps Spark's plan and throws nothing") {
    val bytes = Files.readAllBytes(oneGroupFile.toPath)
    val truncated = new File(s"$dir/rg/truncated.parquet")
    Files.write(truncated.toPath, bytes.take(bytes.length - 8))
    smallSplits {
      val df = spark.read.schema(rows.schema).parquet(truncated.getPath).groupBy("k").count()
      val p = initial(df)
      assert(shuffles(p).size === 1 && !coalesced(p))
      assert(fresh(df).queryExecution.explainString(FormattedMode).contains("Exchange"))
    }
  }

  test("a file rewritten in place is sized from its new footer") {
    val path = s"$dir/rg/rewritten/data.parquet"
    def foldsNow: Boolean = smallSplits {
      shuffles(initial(spark.read.schema(rows.schema).parquet(path).groupBy("k").count())).isEmpty
    }
    val f = copyOver(oneGroupFile, path)
    assert(foldsNow)
    // a new length: the same rows in several row groups
    copyOver(groupsFile, path)
    assert(!foldsNow)
    copyOver(oneGroupFile, path)
    assert(foldsNow)
    // the same length, a new mtime: the footer's magic overwritten
    val mtime = f.lastModified
    val bytes = Files.readAllBytes(oneGroupFile.toPath)
    "XXXX".getBytes.copyToArray(bytes, bytes.length - 4)
    Files.write(f.toPath, bytes)
    assert(f.setLastModified(mtime + 10000) && f.length === oneGroupFile.length)
    assert(!foldsNow)
  }

  test("preparing and explaining a plan sized by row groups start no job and no broadcast") {
    val path = s"$dir/rg/cold_${java.util.UUID.randomUUID}.parquet"
    copyOver(oneGroupFile, path)
    val df = spark.read.parquet(path).groupBy("k").agg(sum("u").as("s")).orderBy("k")
    smallSplits {
      assert(jobsStartedBy {
        assert(broadcastsCreatedBy {
          fresh(df).queryExecution.explainString(FormattedMode)
          assert(shuffles(initial(df)).isEmpty)
        } === 0)
      } === 0)
    }
  }

  test("an aggregate whose stage also waits on an unbuilt broadcast keeps its exchange") {
    smallSplits {
      val grouped = oneGroup.groupBy("k").agg(sum("u").as("s"))
      assert(shuffles(initial(grouped)).isEmpty)
      // the aggregate runs as its own stage beside the broadcast build
      val joined = grouped.join(broadcast(dimUnique), "k")
      val p = initial(joined)
      assert(shuffles(p).size === 1 && !coalesced(p))
      assert(shuffles(finalPlan(joined)).size === 1)
      sameRows(joined, ordered = false, "joined")
      // a split is not held back: its tasks spread the input either way
      assert(splits(initial(byK(single).join(broadcast(dimUnique), "k"))) === 1)
    }
  }

  test("an unmaterialized query stage in the stage holds a fold back") {
    smallSplits {
      val joined = oneGroup.groupBy("k").agg(sum("u").as("s")).join(broadcast(dimUnique), "k")
      val spark0 = withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.codegen.wholeStage" -> "false")(fresh(joined).queryExecution.executedPlan)
      val built = spark0.transform { case b: BroadcastExchangeExec =>
        BroadcastQueryStageExec(0, b, b.canonicalized) }
      assert(shuffles(OneTaskExchangeRule(built)).size === 1)
      // the aggregate alone folds
      val agg = collectFirst(built) { case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if shuffles(a).nonEmpty => a }.get
      assert(shuffles(OneTaskExchangeRule(agg)).isEmpty)
    }
  }

  test("a sort over an aggregate of one small task folds both exchanges in one preparation") {
    smallSplits {
      val df = oneGroup.groupBy("k").agg(sum("u").as("s"), count(lit(1)).as("n")).orderBy("k")
      val p = initial(df)
      assert(shuffles(p).isEmpty && folds(p) === 2)
      assert(jobsStartedBy(noop(fresh(df))) === 1)
      assert(fresh(df).collect().toSeq === oneReducer(df))
      // under a window whose stage waits on a broadcast, the window's
      // exchange stays and the aggregate's, in the window's map stage, folds
      val ranked = oneGroup.groupBy("k").agg(sum("u").as("s"))
        .withColumn("r", rank().over(Window.orderBy(col("s").desc, col("k"))))
        .join(broadcast(dimUnique), "k")
      val q = initial(ranked)
      assert(shuffles(q).size === 1 && folds(q) === 1)
      sameRows(ranked, ordered = false, "ranked")
    }
  }

  test("a materialized stage beside a fold does not hold it back") {
    // both branches read one reused grouping stage; once it has run, the
    // sort's exchange folds though the union's stage also reads the stage
    val grouped = two.groupBy("k").agg(sum("u").as("s"))
    val df = grouped.orderBy("k").union(grouped)
    val p = finalPlan(df)
    assert(rangeShuffles(p) === 0 && coalesced(p))
    sameRows(df, ordered = false, "union")
  }
}
