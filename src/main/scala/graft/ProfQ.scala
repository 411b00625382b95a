package graft

/** Per-query stage profiler (dev tool, Tune family): runs the
  * named REGISTERED queries through the Bench protocol (noop sink,
  * min-of-2, cache hygiene between runs) and prints, for the best rep,
  * every stage's wall, task count, shuffle bytes and GC — the
  * "where inside this query does the time go" attribution the compact
  * bench line cannot carry. Stage names are action call sites, so the
  * occurrence index disambiguates (same convention as Tune.dumpStages).
  *
  * Usage: runMain graft.ProfQ <sfDir> q_a[,q_b...]
  */
object ProfQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfQ <sfDir> q_a[,q_b...]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = RunLedger.attach(spark)
    for (n <- names) {
      require(SparkEntry.queries.contains(n), s"unknown query $n")
      // warmup rep (JIT/codegen), then 2 measured reps; report best
      val reps = (0 to 2).map { rep =>
        graft.ops.StageCache.releaseAll()
        spark.catalog.clearCache()
        System.gc()
        val (result, w) = ledger.measure(SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
        result.get
        println(f"[profq] $n rep$rep ${w.seconds}%7.2f s  ${w.jobs}%3d jobs")
        w
      }
      val best = reps.tail.minBy(_.seconds)
      println(f"[profq] ==== $n best ${best.seconds}%.2f s  ${best.jobs} jobs ====")
      val totalTask = best.stages.map(_.taskMs).sum.toDouble.max(1.0)
      best.stages.sortBy(-_.taskMs).foreach { s =>
        println(f"[profq]  stage ${s.id}%4d ${s.name.take(60)}%-60s wall ${s.wallMs}%6d ms " +
          f"tasks ${s.tasks}%4d taskSum ${s.taskMs}%7d ms (${100 * s.taskMs / totalTask}%4.1f%%) " +
          f"shW ${s.shW / 1024}%8d KB shR ${s.shR / 1024}%8d KB gc ${s.gcMs}%5d ms " +
          f"spill ${s.spill / 1024}%7d KB inRows ${s.inRows}%9d outRows ${s.outRows}%9d")
      }
    }
    spark.stop()
  }
}
