package graft

/** Plan auditor: prints the formatted physical plan for the named
  * queries (or all). Used to check that filters/projections reach the
  * parquet scans (PushedFilters / ReadSchema), dimension joins
  * broadcast, and the hot path stays inside WholeStageCodegen.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.allDefs.map(_.name)
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
