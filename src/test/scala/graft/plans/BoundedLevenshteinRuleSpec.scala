package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

/** Every session carries the rule (graft.GraftExtensionsProvider),
  * so it is active on every DataFrame here — these specs pin both the
  * rewrite (plan shape) and the unchanged semantics (results).
  */
class BoundedLevenshteinRuleSpec extends SparkTestBase {
  import spark.implicits._

  // parquet-backed, NOT a LocalRelation: the optimizer constant-folds
  // deterministic filters over local data (ConvertToLocalRelation),
  // which would erase the expression this suite inspects
  val pairs: DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("lev_rule_spec").toString
    Seq(
      ("same", "same"),       // dist 0
      ("kitten", "sitten"),   // dist 1
      ("kitten", "sitting"),  // dist 3
      (null, "x"),            // null in -> null comparison -> filtered
      ("ab", "ba"))           // dist 2
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def boundedLevs(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case e @ Levenshtein(_, _, Some(_)) => n += 1; e
    }
    n
  }

  test("levenshtein(a,b) <= k rewrites to the banded 3-arg form") {
    val df = pairs.filter(levenshtein(col("a"), col("b")) <= 1)
    assert(boundedLevs(df) === 1, "optimizer did not bound the levenshtein")
    assert(df.select("a").as[String].collect().toSet === Set("same", "kitten"))
  }

  test("k >= / < / > variants rewrite and keep semantics") {
    val le = pairs.filter(lit(2) >= levenshtein(col("a"), col("b")))
    val lt = pairs.filter(levenshtein(col("a"), col("b")) < 2)
    val gt = pairs.filter(lit(2) > levenshtein(col("a"), col("b")))
    for (df <- Seq(le, lt, gt))
      assert(boundedLevs(df) === 1)
    assert(le.count() === 3) // dist 0, 1, 2
    assert(lt.count() === 2) // dist 0, 1
    assert(gt.count() === 2)
  }

  test("levenshtein(a,b) = k bands at k and compares the exact value") {
    val df = pairs.filter(levenshtein(col("a"), col("b")) === 2)
    assert(boundedLevs(df) === 1)
    assert(df.select("a").as[String].collect().toSeq === Seq("ab"))
  }

  test("the already-bounded form is left alone (idempotence)") {
    val df = pairs.filter(levenshtein(col("a"), col("b"), 1) >= 0)
    assert(boundedLevs(df) === 1)
    assert(df.count() === 2)
  }

  test("distance conjuncts are cost-ordered last; results unchanged") {
    // user writes the expensive predicate FIRST; the rule must leave
    // the cheap length test in front of the (bounded) DP so codegen's
    // AND short-circuit skips the DP on length-rejected rows
    val df = pairs.filter(
      levenshtein(col("a"), col("b")) <= 1 && length(col("a")) >= 4)
    val conds = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }
    assert(conds.nonEmpty)
    val conjuncts = conds.flatMap { c =>
      var cs = Seq.empty[org.apache.spark.sql.catalyst.expressions.Expression]
      def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Unit = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          split(l); split(r)
        case o => cs = cs :+ o
      }
      split(c); cs
    }
    val levIdx = conjuncts.indexWhere(_.exists {
      case _: Levenshtein => true; case _ => false
    })
    val nonLevAfter = conjuncts.drop(levIdx + 1)
      .exists(!_.exists { case _: Levenshtein => true; case _ => false })
    assert(levIdx >= 0, "bounded levenshtein conjunct missing")
    assert(!nonLevAfter,
      s"cheap conjunct ordered after the distance conjunct: $conjuncts")
    assert(df.select("a").as[String].collect().toSet === Set("same", "kitten"))
  }
}
