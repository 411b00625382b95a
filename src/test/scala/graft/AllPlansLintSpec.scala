package graft

import graft.ops.PlanLint

/** The whole registered query surface swept through the scale linter
  * ([[graft.ops.PlanLint]]): no query may plan a cross product, an
  * unkeyed window over un-aggregated input, or a no-combine
  * single-partition funnel unless it is on the allowlist below with a
  * reason. This is the automated form of the per-query plan audits in
  * PlanSpec — a NEW query cannot land with a quadratic join or a
  * one-task funnel without either fixing it or documenting why here.
  */
class AllPlansLintSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The documented exemptions live with the CLI gate (graft.Lint.allow,
    * one source of truth, every entry justified there); this spec
    * asserts the same contract from the suite.
    */
  private val allow: Map[String, Set[String]] = Lint.allow

  /** Builds and lints every registered query once, for both tests. */
  private lazy val findings: Seq[String] = {
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    for (q <- SparkEntry.allDefs) {
      val rules =
        try PlanLint.lint(q.fn(spark, sf)).map(_.rule).toSet
        catch { case e: Throwable =>
          bad += s"${q.name}: lint failed: ${e.getMessage}"; Set.empty[String]
        }
      val extra = rules -- allow.getOrElse(q.name, Set.empty)
      if (extra.nonEmpty)
        bad += s"${q.name}: ${extra.mkString(", ")}"
      graft.ops.StageCache.releaseAll()
      spark.catalog.clearCache()
    }
    bad.toList
  }

  test("every registered query plans clean under the scale linter") {
    assert(findings.isEmpty,
      s"scale-lint findings outside the allowlist:\n  ${findings.mkString("\n  ")}")
  }

  test("building every registered query leaves the session unchanged") {
    findings
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
    // Spark lists every function that is not built in as temporary,
    // the injected ones too; one a query registered while it was built
    // names its builder's class instead of the provider
    val graftFns = graft.functions.GraftFunctions.all.map(_._1)
    val listed = spark.catalog.listFunctions().collect().toSeq
      .filter(f => graftFns.contains(f.name))
    assert(listed.map(_.name).sorted === graftFns.sorted)
    val registered = listed.filter(_.className != classOf[GraftExtensionsProvider].getName)
    assert(registered.isEmpty, registered.mkString(", "))
  }
}
