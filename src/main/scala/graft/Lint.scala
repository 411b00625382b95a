package graft

/** Scale linter over the registered query surface: builds every named
  * query (no execution beyond what the builder itself forces) and runs
  * [[graft.ops.PlanLint]] on its prepared physical plan. Findings
  * outside [[Lint.allow]] fail the run (exit 1), so this main is a
  * CI-able gate as well as the iteration tool; AllPlansLintSpec asserts
  * the same contract from the test suite, sharing the same allowlist.
  *
  * Usage: runMain graft.Lint <sfDir> [queryName ...]
  */
object Lint {

  /** Documented exemptions — every entry carries its justification.
    * The linter already auto-exempts the safe shapes (scalar re-inject
    * cross joins, histogram-input global windows), so what lands here
    * is a deliberate algorithmic choice, not noise.
    */
  val allow: Map[String, Set[String]] = Map(
    // exact brute-force cosine baseline: the broadcast side is the
    // LIMIT-k query frame (model-sized by construction, Ann.scala) —
    // the documented exact path the bucketed variants are judged
    // against
    "q_ann_brute" -> Set("cross_product"),
    "q_ann_recall" -> Set("cross_product"),
    "q_mrl_recall" -> Set("cross_product"),
    "q_quantized_topk" -> Set("cross_product"),
    "q_rrf" -> Set("cross_product"),
    // pair-predicate (label-inequality) join against the broadcast
    // query frame — same bounded broadcast side as the brute baseline
    "q_hard_negatives" -> Set("cross_product"),
    // KMV sketch-row pair merges: both sides are one-row-per-source
    // sketch tables (|sources|^2 pairs, sources is a handful), joined
    // on a non-equi pair predicate by design
    "q_kmv_overlap" -> Set("cross_product"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.allDefs.map(_.name)
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    var clean = 0
    var unexpected = 0
    names.foreach { n =>
      try {
        val findings = graft.ops.PlanLint.lint(
          SparkEntry.queries(n)(spark, sfDir))
        if (findings.isEmpty) clean += 1
        else {
          val allowed = allow.getOrElse(n, Set.empty)
          findings.foreach { f =>
            val tag = if (allowed.contains(f.rule)) "allowed" else "UNEXPECTED"
            if (!allowed.contains(f.rule)) unexpected += 1
            println(s"$n\t$tag\t$f")
          }
        }
      } catch {
        case e: Throwable =>
          unexpected += 1
          println(s"$n\tUNEXPECTED\tLINT_ERROR ${e.getMessage}")
      }
      graft.ops.StageCache.releaseAll()
      spark.catalog.clearCache()
    }
    println(s"\n${names.size} queries linted, $clean clean, " +
      s"$unexpected unexpected findings")
    spark.stop()
    if (unexpected > 0) sys.exit(1)
  }
}
