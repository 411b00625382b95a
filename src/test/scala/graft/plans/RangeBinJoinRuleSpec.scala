package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RangeBinJoinRule: the auto bin-equi rewrite of inequality-only
  * range joins. Semantics pinned against the rule-off (nested-loop)
  * answer on the same data; plan shape pinned to contain a hash/merge
  * join and no nested-loop/cartesian node.
  */
class RangeBinJoinRuleSpec extends SparkTestBase {

  private def withRule[A](binSeconds: Long)(f: => A): A =
    withSQLConf(RangeBinJoinRule.binSecondsKey -> binSeconds.toString)(f)

  // long epoch-micros intervals/points with nulls and degenerates
  private def ivDf: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 0L, 3600000000L),          // [0h, 1h)
      (2L, 1800000000L, 9000000000L), // [0.5h, 2.5h)
      (3L, 7200000000L, 7200000000L), // empty
      (4L, 9000000000L, 3600000000L), // reversed
      (5L, 0L, 36000000000L)          // [0h, 10h) spans many bins
    ).toDF("iv_id", "lo", "hi")
  }

  private def ptDf: DataFrame = {
    import spark.implicits._
    (Seq.tabulate(40)(i => (100L + i, i * 900000000L)) :+
      ((999L, Long.MinValue))) // sentinel far outside every interval
      .toDF("pt_id", "ts")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("iv_id", "pt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("long-micros range join: rewrite matches nested-loop answer") {
    val cond = col("ts") >= col("lo") && col("ts") < col("hi")
    val expected = pairs(ivDf.join(ptDf, cond))
    for (binSec <- Seq(600L, 3600L, 86400L)) {
      val got = withRule(binSec) { pairs(ivDf.join(ptDf, cond)) }
      assert(got === expected, s"binSeconds=$binSec")
    }
  }

  test("strict/inclusive bound variants all match nested-loop") {
    val conds = Seq(
      col("ts") >= col("lo") && col("ts") <= col("hi"),
      col("ts") > col("lo") && col("ts") < col("hi"),
      col("ts") > col("lo") && col("ts") <= col("hi"),
      // reversed operand order spellings of the same interval
      col("lo") <= col("ts") && col("hi") > col("ts"))
    for (cond <- conds) {
      val expected = pairs(ivDf.join(ptDf, cond))
      val got = withRule(3600L) { pairs(ivDf.join(ptDf, cond)) }
      assert(got === expected, cond.toString)
    }
  }

  test("timestamp and NTZ-free plan: no nested-loop join remains") {
    withRule(3600L) {
      val joined = ivDf.join(ptDf,
        col("ts") >= col("lo") && col("ts") < col("hi"))
      val phys = joined.queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"),
        phys)
      assert(phys.contains("HashJoin") || phys.contains("SortMergeJoin"),
        phys)
    }
  }

  test("timestamp-typed bounds: rewrite matches nested-loop answer") {
    val iv = ivDf
      .select(col("iv_id"), timestamp_micros(col("lo")).as("lo"),
        timestamp_micros(col("hi")).as("hi"))
    val pt = ptDf.filter(col("pt_id") =!= 999L)
      .select(col("pt_id"), timestamp_micros(col("ts")).as("ts"))
    val cond = col("ts") >= col("lo") && col("ts") < col("hi")
    val expected = pairs(iv.join(pt, cond))
    val got = withRule(1800L) { pairs(iv.join(pt, cond)) }
    assert(got === expected)
    withRule(1800L) {
      val phys = iv.join(pt, cond).queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"),
        phys)
    }
  }

  test("null bounds and null points drop out, same as nested-loop") {
    import spark.implicits._
    val iv = Seq((1L, Some(0L), Some(3600000000L)),
      (2L, None, Some(3600000000L)), (3L, Some(0L), None))
      .toDF("iv_id", "lo", "hi")
    val pt = Seq((100L, Some(0L)), (101L, None)).toDF("pt_id", "ts")
    val cond = col("ts") >= col("lo") && col("ts") < col("hi")
    val expected = pairs(iv.join(pt, cond))
    val got = withRule(3600L) { pairs(iv.join(pt, cond)) }
    assert(got === expected)
    assert(got === Set((1L, 100L)))
  }

  test("does not fire: conf off, cross equality present, non-inner") {
    // conf EXPLICITLY off (not just "never set") -> nested loop stays,
    // regardless of which suite touched the shared session first
    spark.conf.set(RangeBinJoinRule.binSecondsKey, "0")
    val cond = col("ts") >= col("lo") && col("ts") < col("hi")
    val physOff = ivDf.join(ptDf, cond)
      .queryExecution.executedPlan.toString
    assert(physOff.contains("NestedLoop") || physOff.contains("Cartesian"))
    withRule(3600L) {
      // an equi conjunct means Spark already hash-joins; rule must not
      // touch it (and must not re-fire on its own rewrites)
      val iv2 = ivDf.withColumn("k", col("iv_id") % 2)
      val pt2 = ptDf.withColumn("k2", col("pt_id") % 2)
      val eqCond = col("k") === col("k2") && cond
      val expected = pairs(iv2.join(pt2, eqCond))
      val df = iv2.join(pt2, eqCond)
      assert(pairs(df) === expected)
      assert(!df.queryExecution.optimizedPlan.toString
        .contains("__graft_bin"))
      // left join keeps unmatched intervals -> rule must leave it alone
      val lj = ivDf.join(ptDf, cond, "left")
      assert(!lj.queryExecution.optimizedPlan.toString
        .contains("__graft_bin"))
    }
  }

  test("fanout guard: interval wider than maxBinsPerInterval raises") {
    // interval 5 spans 10h = 60 bins of 600s; cap at 5 -> clear error
    // at execution instead of an unbounded Sequence materialization
    spark.conf.set(RangeBinJoinRule.maxBinsKey, "5")
    try {
      val cond = col("ts") >= col("lo") && col("ts") < col("hi")
      val e = intercept[Exception] {
        withRule(600L) { ivDf.join(ptDf, cond).collect() }
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("spans > 5 bins")), e.toString)
      // narrow intervals under the cap still work
      spark.conf.set(RangeBinJoinRule.maxBinsKey, "100")
      val expected = pairs(ivDf.join(ptDf, cond))
      assert(withRule(600L) { pairs(ivDf.join(ptDf, cond)) } === expected)
    } finally spark.conf.unset(RangeBinJoinRule.maxBinsKey)
  }

  test("sql surface: inequality join through spark.sql gets the rewrite") {
    ivDf.createOrReplaceTempView("rbj_iv")
    ptDf.createOrReplaceTempView("rbj_pt")
    val q = """SELECT iv_id, pt_id FROM rbj_iv JOIN rbj_pt
               ON ts >= lo AND ts < hi"""
    val expected = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    withRule(3600L) {
      val df = spark.sql(q)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"),
        phys)
    }
  }
}
