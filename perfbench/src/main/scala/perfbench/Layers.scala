package perfbench

/** Per-layer numbers of the traced executions, per measured pass.
  *
  * Layer self time partitions each query's wall time (build + action +
  * release), using separate instruments:
  *  - `queries`: the builder call, minus the jobs and Catalyst phases
  *    that ran inside it (eager work);
  *  - `plans`: Catalyst phase intervals (`QueryPlanningTracker`) not
  *    overlapped by a job;
  *  - `exec`: time covered by at least one running job;
  *  - `stagecache`: the `StageCache.releaseAll` call.
  * What is left is reported as `trace.unattributed_s`: driver-side
  * action time that no job or planning phase covers.
  */
object Layers {
  private val mb = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def clip(xs: Seq[(Long, Long)], w: (Long, Long)) =
    xs.map { case (a, b) => (math.max(a, w._1), math.min(b, w._2)) }

  private def phaseIntervals(e: Exec): Seq[(Long, Long)] =
    clip(e.plans.flatMap(_.phases.values), e.window)

  /** Self times of one execution in seconds. */
  def selfTimes(e: Exec): Map[String, Double] = {
    val jobs = clip(e.jobs, e.window)
    val phases = phaseIntervals(e)
    val busy = jobs ++ phases
    val buildMs = e.buildNs / 1e6
    val queries = buildMs - Intervals.within(busy, e.buildWin)
    val plans = Intervals.minus(phases, jobs).toDouble
    val exec = Intervals.length(jobs).toDouble
    val release = e.releaseNs / 1e6
    val wall = e.wallNs / 1e6
    Map("queries" -> queries / 1e3, "plans" -> plans / 1e3,
      "exec" -> exec / 1e3, "stagecache" -> release / 1e3,
      "unattributed" -> (wall - queries - plans - exec - release) / 1e3,
      "idle" -> (e.actionNs / 1e6 - Intervals.within(jobs, e.actionWin)) / 1e3)
  }

  def summarize(execs: Seq[Exec], cores: Int): Map[String, Double] = {
    val passes = execs.map(_.round).distinct.size.max(1).toDouble
    def sum(f: Exec => Double): Double = execs.map(f).sum / passes
    def c(k: String): Exec => Double = _.counters.getOrElse(k, 0L).toDouble
    def phase(p: String): Exec => Double = e =>
      e.plans.flatMap(_.phases.get(p)).map(x => x._2 - x._1).sum / 1e3
    val self = execs.map(e => e -> selfTimes(e)).toMap
    def selfSum(k: String) = sum(e => self(e)(k))
    val wall = sum(_.wallNs / 1e9)
    val taskS = sum(c("task_ms")) / 1e3
    Map(
      "queries.executions" -> execs.size.toDouble / passes,
      "queries.build_s" -> sum(_.buildNs / 1e9),
      "queries.build_p50_ms" -> median(execs.map(_.buildNs / 1e6)),
      "queries.eager_jobs" -> sum(e => e.jobs.count(j =>
        j._1 >= e.buildWin._1 && j._1 <= e.buildWin._2).toDouble),
      "queries.scans" -> sum(_.plans.map(_.scans).sum.toDouble),
      "queries.self_s" -> selfSum("queries"),
      "plans.analysis_s" -> sum(phase("analysis")),
      "plans.optimization_s" -> sum(phase("optimization")),
      "plans.planning_s" -> sum(phase("planning")),
      "plans.exchanges" -> sum(_.plans.map(_.exchanges).sum.toDouble),
      "plans.sorts" -> sum(_.plans.map(_.sorts).sum.toDouble),
      "plans.broadcast_joins" -> sum(_.plans.map(_.broadcastJoins).sum.toDouble),
      "plans.smj" -> sum(_.plans.map(_.smj).sum.toDouble),
      "plans.self_s" -> selfSum("plans"),
      "exec.jobs" -> sum(c("jobs")),
      "exec.stages" -> sum(c("stages")),
      "exec.tasks" -> sum(c("tasks")),
      "exec.single_task_stages" -> sum(c("single_task_stages")),
      "exec.action_s" -> sum(_.actionNs / 1e9),
      "exec.task_s" -> taskS,
      "exec.core_util" -> (if (wall > 0) taskS / (cores * wall) else 0.0),
      "exec.idle_s" -> selfSum("idle"),
      "exec.gc_s" -> sum(c("gc_ms")) / 1e3,
      "exec.spill_mb" -> sum(c("spill")) / mb,
      "exec.shuffle_read_mb" -> sum(c("shuffle_read")) / mb,
      "exec.failed_tasks" -> sum(c("failed_tasks")),
      "exec.self_s" -> selfSum("exec"),
      "stagecache.persists" -> sum(_.persists.toDouble),
      "stagecache.resident_mb" ->
        (if (execs.isEmpty) 0.0 else execs.map(_.residentMb).max),
      "stagecache.leaked_blocks" -> sum(_.leakedBlocks.toDouble),
      "stagecache.release_s" -> sum(_.releaseNs / 1e9),
      "sources.write_s" -> sum(_.sink.writeNs / 1e9),
      "sources.read_s" -> sum(_.sink.readNs / 1e9),
      "sources.rows_written" -> sum(_.sink.rowsRead.max(0L).toDouble),
      "trace.wall_s" -> wall,
      "trace.unattributed_s" -> selfSum("unattributed"))
  }

  /** Spans of the traced executions: (name, start, end, parent, query). */
  def spans(execs: Seq[Exec]): Seq[Map[String, Any]] = execs.flatMap { e =>
    val q = s"${e.round}:${e.name}"
    def span(name: String, w: (Long, Long), parent: String) = Map[String, Any](
      "name" -> name, "start_ms" -> w._1, "end_ms" -> w._2,
      "parent" -> parent, "query" -> q)
    def parentOf(start: Long) =
      if (start <= e.buildWin._2) "queries.build" else "action"
    val a0 = e.actionWin._1
    val w1 = a0 + e.sink.writeNs / 1000000L
    Seq(span("query", e.window, ""),
      span("queries.build", e.buildWin, "query"),
      span("action", e.actionWin, "query"),
      span("stagecache.release", e.releaseWin, "query")) ++
      (if (e.sink.writeNs > 0) Seq(span("sources.write", (a0, w1), "action"),
        span("sources.read", (w1, w1 + e.sink.readNs / 1000000L), "action"))
       else Nil) ++
      e.jobs.map(j => span("exec.job", j, parentOf(j._1))) ++
      e.plans.flatMap(_.phases.toSeq.map { case (p, w) =>
        span(s"plans.$p", w, parentOf(w._1)) })
  }
}
