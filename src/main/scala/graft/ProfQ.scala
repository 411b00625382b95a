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
    case class St(id: Int, name: String, wallMs: Long, tasks: Int,
      taskMs: Long, shW: Long, shR: Long, gcMs: Long, spill: Long,
      inRows: Long, outRows: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val i = sc.stageInfo
          val m = i.taskMetrics
          if (m != null) stages.synchronized {
            val wall = (for {
              a <- i.completionTime; b <- i.submissionTime
            } yield a - b).getOrElse(0L)
            stages += St(i.stageId, i.name.linesIterator.next().take(60),
              wall, i.numTasks, m.executorRunTime,
              m.shuffleWriteMetrics.bytesWritten,
              m.shuffleReadMetrics.totalBytesRead, m.jvmGCTime,
              m.diskBytesSpilled + m.memoryBytesSpilled,
              m.inputMetrics.recordsRead,
              m.shuffleWriteMetrics.recordsWritten); ()
          }
        }
      })
    for (n <- names) {
      require(SparkEntry.queries.contains(n), s"unknown query $n")
      // warmup rep (JIT/codegen), then 2 measured reps; report best
      var best = Double.MaxValue
      var bestStages = Seq.empty[St]
      var bestJobs = 0
      for (rep <- 0 to 2) {
        graft.ops.StageCache.releaseAll()
        spark.catalog.clearCache()
        System.gc()
        stages.synchronized(stages.clear())
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        val nj = ListenerSettle.settled(jobs) - j0
        if (rep > 0 && t < best) {
          best = t
          bestStages = stages.synchronized(stages.toSeq)
          bestJobs = nj
        }
        println(f"[profq] $n rep$rep ${t}%7.2f s  $nj%3d jobs")
      }
      println(f"[profq] ==== $n best ${best}%.2f s  $bestJobs jobs ====")
      val totalTask = bestStages.map(_.taskMs).sum.toDouble.max(1.0)
      bestStages.sortBy(-_.taskMs).foreach { s =>
        println(f"[profq]  stage ${s.id}%4d ${s.name}%-60s wall ${s.wallMs}%6d ms " +
          f"tasks ${s.tasks}%4d taskSum ${s.taskMs}%7d ms (${100 * s.taskMs / totalTask}%4.1f%%) " +
          f"shW ${s.shW / 1024}%8d KB shR ${s.shR / 1024}%8d KB gc ${s.gcMs}%5d ms " +
          f"spill ${s.spill / 1024}%7d KB inRows ${s.inRows}%9d outRows ${s.outRows}%9d")
      }
    }
    spark.stop()
  }
}
