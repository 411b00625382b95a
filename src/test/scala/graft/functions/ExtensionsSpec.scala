package graft.functions

import graft.{GraftExtensionsProvider, GraftSession, SparkTestBase}
import graft.plans.{AsOfJoinStrategy, BoundedLevenshteinRule, OneTaskExchangeRule,
  RangeBinJoinRule, SinkThenScanStrategy}
import org.apache.spark.sql.{GraftTestShim, SparkSession}

/** The one extension route. Spark's `ServiceLoader` finds
  * [[graft.GraftExtensionsProvider]] in META-INF/services and applies
  * it to every session, however the session was built, so no conf
  * and no call on a built session is needed. This spec checks that
  * the provider alone carries every graft function, rule and
  * strategy, that each lands exactly once in a session and in a
  * second session created after the fact (cluster-notebook shape),
  * and that the whole function surface resolves from SQL.
  */
class ExtensionsSpec extends SparkTestBase {

  test("the provider alone injects each graft extension exactly once") {
    val optimizerRules = Seq(BoundedLevenshteinRule, RangeBinJoinRule)
    val strategies = Seq(AsOfJoinStrategy, SinkThenScanStrategy)
    val functions = GraftFunctions.all.map(_._1)
    def once[A <: AnyRef](where: String, got: Seq[A], want: Seq[AnyRef]): Unit =
      want.foreach(w => assert(got.count(_ eq w) === 1, s"$w in $where"))
    val alone = GraftTestShim.provider(spark)
    once("provider", alone.prepRules, Seq(OneTaskExchangeRule))
    once("provider", alone.optimizerRules, optimizerRules)
    once("provider", alone.strategies, strategies)
    assert(alone.functions.sorted === functions.sorted)
    val local = GraftSession.local(4)
    for ((where, s) <- Seq("session" -> local, "newSession" -> local.newSession())) {
      val carried = GraftTestShim.session(s)
      once(where, carried.prepRules, Seq(OneTaskExchangeRule))
      once(where, carried.optimizerRules, optimizerRules)
      once(where, carried.strategies, strategies)
      functions.foreach { f =>
        assert(carried.functions.count(_ == f) === 1, s"$f in $where")
        assert(GraftTestShim.functionInfo(s, f).map(_.getClassName) ===
          Some(classOf[GraftExtensionsProvider].getName), s"$f in $where")
      }
    }
  }

  test("every session resolves every graft function from SQL") {
    val row = spark.sql(
      """SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw,
                word_shingles('a b c', 2) AS sh,
                minhash_sig(array('a b', 'b c'), 4) AS sig,
                abs_diff_sum(array(1, 0, 1), array(0, 0, 1)) AS h
      """).collect()(0)
    assert(row.getAs[Double]("jw") === 0.9611111111111111)
    assert(row.getSeq[String](1) === Seq("a b", "b c"))
    assert(row.getSeq[String](2).length === 4)
    assert(row.getAs[Int]("h") === 1)
  }

  test("every GraftFunctions entry is resolvable by name") {
    GraftFunctions.all.foreach { case (name, _) =>
      assert(spark.catalog.functionExists(name), s"function $name not registered")
    }
  }

  test("a later session on the same context also gets the functions") {
    val shared = spark // force shared session init first
    val fresh = SparkSession.builder().getOrCreate().newSession()
    try {
      val jw = fresh.sql("SELECT jaro_winkler('abc', 'abc') AS jw")
        .collect()(0).getAs[Double]("jw")
      assert(jw === 1.0)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
