package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.ops.StageCache
import graft.queries.QueryDef

/** One measured execution of one query. Times in ns, intervals in
  * epoch ms (the clock Spark's events use).
  */
final case class Exec(name: String, round: Int, traced: Boolean,
    buildNs: Long, actionNs: Long, releaseNs: Long, sink: SinkResult,
    window: (Long, Long), buildWin: (Long, Long), actionWin: (Long, Long),
    releaseWin: (Long, Long), heapMb: Double, persists: Int,
    residentMb: Double, registeredAfter: Int, leakedBlocks: Long,
    counters: Map[String, Long], jobs: Seq[(Long, Long)],
    plans: Seq[PlanRecord]) {
  def wallNs: Long = buildNs + actionNs + releaseNs
}

/** The benchmark's JVM side. Runs one workload as a closed loop with a
  * single client: an untimed oracle pass over the basket (which also
  * warms the JVM) and the workload's untimed warm-up rounds, then whole
  * timed rounds over the basket in a
  * seed-shuffled order until `--seconds` have passed. With `--trace 1`
  * rounds alternate untraced/traced, and per-layer numbers are taken
  * from the traced ones. Writes everything it measured as one JSON
  * file; `run.py` checks the oracle and prints the result.
  */
object Harness {
  private val mb = 1024.0 * 1024.0
  private val jvmStart = System.nanoTime()
  private def say(msg: String): Unit =
    System.err.println(f"[harness] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s  $msg")

  /** One loop of Bench's single-thread calibration probe (Bench takes
    * the min of three; one keeps the probe under 0.4 s per run). */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var i = 0; var x = 1234567891L
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    if (x == 42) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val wl = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val inputs = a("inputs")
    val out = a("out")
    val mainEntryMs = a("main-entry-ms").toLong

    val calib0 = System.currentTimeMillis()
    val calibStart = calibMs()
    val calibSpentMs = System.currentTimeMillis() - calib0

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    say(s"session up, calibration probe ${calibStart.round} ms")
    val counters = new ExecCounters
    sc.addSparkListener(counters)
    val planRec = new PlanRecorder
    val memBean = ManagementFactory.getMemoryMXBean

    val order: Seq[QueryDef] = new scala.util.Random(seed).shuffle(wl.defs)
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val expected = mutable.Map.empty[String, Long]
    val readsDocs = mutable.Map.empty[String, Boolean]
    def reason(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        .linesIterator.take(3).mkString(" ").take(400)

    def cachedBlocks(): (Long, Double) = {
      val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      (infos.map(_.numCachedPartitions.toLong).sum,
        infos.map(i => i.memSize + i.diskSize).sum / mb)
    }
    /** Blocks still cached after release; an unpersist is asynchronous,
      * so give removal a short grace period before counting. */
    def residueAfterRelease(): Long = {
      val deadline = System.nanoTime() + 500000000L
      var left = cachedBlocks()._1
      while (left > 0 && System.nanoTime() < deadline) {
        Thread.sleep(10); left = cachedBlocks()._1
      }
      left
    }
    def release(): Unit = {
      StageCache.releaseAll()
      spark.catalog.clearCache()
    }

    // ---- untimed oracle pass: each basket query once, result to
    // parquet for the DuckDB comparison; doubles as the JVM warm-up.
    // Its plans tell which queries scan the documents input.
    spark.listenerManager.register(planRec)
    for (q <- order) {
      val path = s"$out/results/${q.name}"
      val t0 = System.nanoTime()
      try {
        q.fn(spark, inputs).coalesce(1).write.mode("overwrite").parquet(path)
        expected(q.name) = spark.read.parquet(path).count()
      } catch {
        case NonFatal(e) => failures += ((q.name, "oracle pass: " + reason(e)))
      } finally release()
      BusDrain(sc)
      readsDocs(q.name) = planRec.take().exists(
        _.scannedPaths.exists(_.endsWith("/documents.parquet")))
      say(f"oracle pass ${q.name}%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    spark.listenerManager.unregister(planRec)

    // ---- timed rounds. Each query is measured at least `wl.rounds`
    // times and run.py reports its median execution. Traced runs order
    // their first four rounds untraced, traced, traced, untraced, so
    // warm-up does not favour either side of trace.overhead_s. The heap
    // probe costs about 0.3 s, so it runs in round `minRounds - 1` only.
    val minRounds = if (trace) 4 else wl.rounds
    val execs = mutable.ArrayBuffer.empty[Exec]
    var failedExecs, attemptedExecs = 0
    /** The workload's sink, then the read-back row check. */
    def sinkChecked(q: QueryDef, df: org.apache.spark.sql.DataFrame): SinkResult = {
      val sink = wl.sink(spark, df, s"$out/sink/${q.name}")
      if (sink.rowsRead >= 0 && expected.get(q.name).exists(_ != sink.rowsRead))
        throw new IllegalStateException(s"read back ${sink.rowsRead} rows, " +
          s"the oracle pass wrote ${expected(q.name)}")
      sink
    }
    /** One execution: timed builder + action, the untimed heap probe,
      * the timed release and the residue check. */
    def execute(q: QueryDef, round: Int, traced: Boolean): Unit = {
      if (traced) { BusDrain(sc); counters.takeJobIntervals(); planRec.take() }
      val before = if (traced) counters.snapshot() else Map.empty[String, Long]
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      var t1 = t0; var ms1 = ms0
      var sink = SinkResult()
      var ok = true
      attemptedExecs += 1
      try {
        val df = q.fn(spark, inputs)
        t1 = System.nanoTime(); ms1 = System.currentTimeMillis()
        sink = sinkChecked(q, df)
      } catch {
        case NonFatal(e) =>
          ok = false; failedExecs += 1
          failures += ((q.name, s"round $round: " + reason(e)))
      }
      val t2 = System.nanoTime(); val ms2 = System.currentTimeMillis()
      if (t1 == t0) { t1 = t2; ms1 = ms2 }
      // untimed: used heap after a full GC, before release. Spark's
      // ContextCleaner frees broadcast and shuffle state only once a GC
      // has found it unreachable, so collect, let it run, collect again
      // (one GC alone read 100 MB high on some executions).
      val heap = if (trace || round != minRounds - 1) -1.0 else {
        System.gc(); Thread.sleep(100); System.gc()
        memBean.getHeapMemoryUsage.getUsed / mb
      }
      say(f"round $round ${q.name}%-24s ${(t2 - t0) / 1e9}%6.2f s" +
        (if (heap >= 0) f"  heap $heap%6.1f MB" else "") + (if (ok) "" else " FAILED"))
      if (traced) BusDrain(sc)
      val persists = StageCache.registeredCount
      val resident = if (traced) cachedBlocks()._2 else 0.0
      val msr0 = System.currentTimeMillis(); val r0 = System.nanoTime()
      StageCache.releaseAll()
      val r1 = System.nanoTime(); val msr1 = System.currentTimeMillis()
      val registeredAfter = StageCache.registeredCount
      val leaked = residueAfterRelease()
      spark.catalog.clearCache()
      val (delta, jobs, plans) =
        if (!traced) (Map.empty[String, Long], Seq.empty, Seq.empty)
        else {
          BusDrain(sc)
          val after = counters.snapshot()
          (after.map { case (k, v) => k -> (v - before(k)) },
            counters.takeJobIntervals(), planRec.take())
        }
      if (ok) execs += Exec(q.name, round, traced, t1 - t0, t2 - t1,
        r1 - r0, sink, (ms0, msr1), (ms0, ms1), (ms1, ms2), (msr0, msr1),
        heap, persists, resident, registeredAfter, leaked, delta, jobs, plans)
    }

    // ---- untimed warm-up rounds, part of setup: builder, sink and
    // release as in a timed round; only failures are recorded.
    for (w <- 0 until wl.warmRounds; q <- order) {
      val t0 = System.nanoTime()
      attemptedExecs += 1
      try sinkChecked(q, q.fn(spark, inputs))
      catch {
        case NonFatal(e) =>
          failedExecs += 1
          failures += ((q.name, s"warm-up round $w: " + reason(e)))
      } finally release()
      say(f"warm-up $w ${q.name}%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }

    var round = 0
    BusDrain(sc)
    val c0 = counters.snapshot()
    val firstTimedMs = System.currentTimeMillis()
    val passStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - passStart) / 1e9
    while (round < minRounds || elapsedS < seconds) {
      val traced = trace && (round % 4 == 1 || round % 4 == 2)
      counters.recordJobs = traced
      if (traced) spark.listenerManager.register(planRec)
      for (q <- order) execute(q, round, traced)
      if (traced) spark.listenerManager.unregister(planRec)
      counters.recordJobs = false
      round += 1
    }
    BusDrain(sc)
    val c1 = counters.snapshot()
    val rounds = round

    // ---- staged public dedup calls on the tier (traced dedup-tier only)
    val staged: Map[String, Double] =
      if (trace && wl.stagedDedup) stagedDedup(spark, inputs) else Map.empty

    val calibEnd = calibMs()
    val result = Map[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / mb,
      "calib_start_ms" -> calibStart, "calib_end_ms" -> calibEnd,
      "setup_s" -> (firstTimedMs - mainEntryMs - calibSpentMs) / 1e3,
      "rounds" -> rounds, "warm_rounds" -> wl.warmRounds,
      "pass_counters" -> c1.map { case (k, v) => k -> (v - c0(k)) },
      "expected_rows" -> expected.toMap,
      "reads_docs" -> readsDocs.toMap,
      "attempted_execs" -> attemptedExecs, "failed_execs" -> failedExecs,
      "failures" -> failures.map { case (n, r) => Map[String, Any]("query" -> n, "reason" -> r) },
      "execs" -> execs.map(e => Map[String, Any](
        "name" -> e.name, "round" -> e.round, "traced" -> e.traced,
        "build_ns" -> e.buildNs, "action_ns" -> e.actionNs,
        "release_ns" -> e.releaseNs, "heap_mb" -> e.heapMb,
        "registered_after" -> e.registeredAfter,
        "leaked_blocks" -> e.leakedBlocks)),
      "layers" -> Layers.summarize(execs.filter(_.traced).toSeq, cores),
      "spans" -> Layers.spans(execs.filter(_.traced).toSeq),
      "staged" -> staged,
      "oracle_sql" -> order.flatMap(q => q.oracle.map(q.name -> _)).toMap)
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new java.io.File(s"$out/harness.json"), result)
    spark.stop()
  }

  /** Times the dedup layer's public stages one by one on the tier:
    * kernel columns (forced with a noop write), the MinHash index, the
    * candidate pairs its buckets yield, the verified pairs, and the
    * connected-component clustering of those pairs.
    */
  private def stagedDedup(spark: SparkSession, inputs: String): Map[String, Double] = {
    def timeS(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val docs = spark.read.parquet(s"$inputs/documents.parquet")
    val n = docs.count().toDouble
    val shinglesS = timeS(noop(docs.select(Dedup.shingles(col("text"), 2))))
    val sh = docs.select(Dedup.shingles(col("text"), 2).as("sh")).persist()
    sh.count()
    val minhashS = timeS(noop(sh.select(Dedup.minhashSignatureFast(col("sh"), 16))))
    sh.unpersist(true)
    val simhashS = timeS(noop(docs.select(Dedup.simhash64(col("text")))))
    var index: Dedup.MinhashIndex = null
    val indexS = timeS {
      index = Dedup.minhashIndex(docs, "doc_id", "text")
      index.shingles.count(); index.buckets.count()
    }
    val b = index.buckets
    val candidates = b.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
    val pairs = Dedup.minhashPairsFromIndex(index, 0.3).persist()
    var verified = 0L
    val verifyS = timeS { verified = pairs.count() }
    val clustersS = timeS { Dedup.clusters(pairs).count() }
    pairs.unpersist(true)
    StageCache.releaseAll()
    spark.catalog.clearCache()
    Map("dedup.index_s" -> indexS, "dedup.verify_s" -> verifyS,
      "dedup.candidates" -> candidates.toDouble,
      "dedup.verified" -> verified.toDouble,
      "dedup.verify_yield" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "dedup.clusters_s" -> clustersS,
      "functions.shingles_ns_per_doc" -> shinglesS * 1e9 / n,
      "functions.minhash_ns_per_doc" -> minhashS * 1e9 / n,
      "functions.simhash64_ns_per_doc" -> simhashS * 1e9 / n)
  }
}
