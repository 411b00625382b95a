package graft.queries

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.SparkTestBase

class TablesSpec extends SparkTestBase {

  val sf = "/root/testdata/sf0.01"
  val fixtures = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def tmpDir(): String =
    Files.createTempDirectory("tables-spec").toString

  /** Spark jobs that `body` starts on this thread. Listener delivery is
    * asynchronous but in post order, so once a sentinel job started
    * after `body` has been delivered, every job of `body` has been.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"tables-spec-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`) => n.incrementAndGet()
          case Some(g) if g == s"$tag-sentinel" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, "counted")
      body
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never delivered")
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("pinned schema and rows equal a fresh inference for every fixture table") {
    for (name <- fixtures) {
      val fresh = spark.read.parquet(s"$sf/$name.parquet")
      Tables.t(spark, sf, name)
      val pinned = Tables.t(spark, sf, name)
      assert(Tables.pinned(spark)(s"$sf/$name.parquet") === fresh.schema, name)
      assert(pinned.schema === fresh.schema, name)
      assert(pinned.collect().toSeq === fresh.collect().toSeq, name)
    }
  }

  test("a second read of an unchanged path starts no Spark job") {
    val s2 = spark.newSession()
    for (name <- fixtures) {
      assert(jobsStartedBy(Tables.t(s2, sf, name)) >= 1, name)
      assert(jobsStartedBy(Tables.t(s2, sf, name)) === 0, name)
    }
  }

  test("a directory overwritten in place with a new schema is re-inferred") {
    val dir = tmpDir()
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    spark.range(3).selectExpr("cast(id as string) as b", "id * 2 as c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.t(spark, dir, "t")
    assert(df.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.schema.fieldNames.toSeq === Seq("b", "c"))
    assert(df.orderBy("c").collect().map(_.getString(0)).toSeq ===
      Seq("0", "1", "2"))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers the schema") {
    // written without Spark's schema footer, which would pin BinaryType
    // whatever the conf says
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType("message m { required binary v; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/bin.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("0", "1").foreach(v => w.write(rows.newGroup().append("v", v)))
    finally w.close()
    def vType = Tables.t(spark, dir, "bin").schema("v").dataType
    assert(vType === BinaryType)
    withSQLConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(vType === StringType)
      assert(Tables.t(spark, dir, "bin").orderBy("v").collect()
        .map(_.getString(0)).toSeq === Seq("0", "1"))
    }
    assert(vType === BinaryType)
  }

  test("a new session does not see the first session's pins") {
    Tables.t(spark, sf, "region")
    assert(Tables.pinned(spark).contains(s"$sf/region.parquet"))
    val s2 = spark.newSession()
    assert(Tables.pinned(s2).isEmpty)
    assert(jobsStartedBy(Tables.t(s2, sf, "region")) >= 1)
  }

  test("8 threads on a cold cache get identical schemas") {
    val s2: SparkSession = spark.newSession()
    val expected = fixtures.map(n => n -> spark.read.parquet(s"$sf/$n.parquet").schema)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new CountDownLatch(1)
      val runs = (0 until 8).map { i =>
        Future {
          start.await()
          val order = fixtures.drop(i % fixtures.size) ++ fixtures.take(i % fixtures.size)
          order.map(n => n -> Tables.t(s2, sf, n).schema).sortBy(_._1)
        }
      }
      start.countDown()
      val got = Await.result(Future.sequence(runs), 3.minutes)
      got.foreach(g => assert(g === expected.sortBy(_._1)))
      assert(Tables.pinned(s2).size === fixtures.size)
    } finally pool.shutdownNow()
  }

  test("five rewrites of one path leave exactly one pin for it") {
    val dir = tmpDir()
    for (i <- 1 to 5) {
      spark.range(i).toDF(s"c$i").write.mode("overwrite").parquet(s"$dir/r.parquet")
      val df = Tables.t(spark, dir, "r")
      assert(df.schema.fieldNames.toSeq === Seq(s"c$i"))
      assert(df.count() === i)
    }
    assert(Tables.pinned(spark).keys.count(_.startsWith(dir)) === 1)
  }

  test("a missing path fails as a plain read does and pins nothing") {
    val dir = tmpDir()
    val e = intercept[AnalysisException](Tables.t(spark, dir, "absent"))
    assert(e.getMessage.contains("absent.parquet"))
    assert(!Tables.pinned(spark).keys.exists(_.startsWith(dir)))
  }
}
