package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TopKBySpec extends SparkTestBase {
  import spark.implicits._

  val agg = new TopKBy(3)

  test("reduce keeps the k best in (value desc, id asc) order") {
    val buf = Seq((10L, 1L), (10L, 2L), (5L, 9L))
    // loses: worse than the current last, full buffer
    assert(agg.reduce(buf, (4L, 0L)) === buf)
    // tie on value -> lower id slots BEFORE the equal-value higher id
    assert(agg.reduce(buf, (10L, 0L)) === Seq((10L, 0L), (10L, 1L), (10L, 2L)))
    // beats the middle -> inserted, tail truncated to k
    assert(agg.reduce(buf, (7L, 3L)) === Seq((10L, 1L), (10L, 2L), (7L, 3L)))
    // underfull buffer always accepts
    assert(agg.reduce(Seq((10L, 1L)), (1L, 5L)) === Seq((10L, 1L), (1L, 5L)))
  }

  test("merge is a truncated merge of sorted runs, either side empty ok") {
    val a = Seq((9L, 1L), (7L, 2L))
    val b = Seq((8L, 3L), (6L, 4L))
    assert(agg.merge(a, b) === Seq((9L, 1L), (8L, 3L), (7L, 2L)))
    assert(agg.merge(a, Nil) === a)
    assert(agg.merge(Nil, b) === b)
  }

  test("grouped top-k matches the row_number window on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaAgg = docs.groupBy("lang")
      .agg(TopKBy.topKBy(3)(col("n_chars"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("lang"), col("t._2").as("doc_id"),
        col("t._1").as("n_chars"), (col("p") + 1).cast("int").as("rn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
    val viaWindow = docs
      .select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "doc_id", "n_chars", "rn")
        .as[(String, Long, Long, Int)].collect().toSet
    assert(key(viaAgg) === key(viaWindow))
    assert(key(viaAgg).nonEmpty)
  }

  test("the aggregate plans partial aggregation below the exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the file is one small task, which runs without the exchange; an
    // advisory size below the file's gives the plan an input at scale
    // gets
    val p = withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      docs.groupBy("lang")
        .agg(TopKBy.topKBy(3)(col("n_chars"), col("doc_id")).as("top"))
        .queryExecution.executedPlan.toString
    }
    // typed-Aggregator aggregates plan as ObjectHashAggregate (or sort
    // fallback); two of them = partial + final around the exchange
    val aggs = "(?i)(objecthashaggregate|sortaggregate)".r
      .findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate pair in:\n$p")
    assert(p.contains("Exchange"))
  }
}
