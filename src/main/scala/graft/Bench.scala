package graft
object Bench {
  def main(args: Array[String]): Unit = {
    // Host-contention provenance (r12). Raw 1-min loadavg CANNOT gate a
    // bench launched through sbt: on an externally-verified-quiet host
    // (shell loadavg 0.43 at launch) main() still reads load 19-22,
    // because the sbt-boot + forked-JVM JIT/GC thread storm IS
    // double-digit 1-min load all by itself — r10/r11's load_start of
    // 13.2/17.3 were this self-load, not host contention, so the r11
    // drift adjudication leaned on a number that never measured what it
    // claimed. The working instrument is a single-threaded CPU
    // calibration loop: it measures contention NOW (a busy thread on a
    // 32-cpu host runs at full speed unless the machine is genuinely
    // saturated), is immune to loadavg's decay history, and its
    // absolute value is comparable ACROSS rounds on the same driver
    // host. Sampled at start (pre-Spark) and end; loaded_host trips on
    // mid-run contention (end ≫ start).
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def calibMs(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        var i = 0; var x = 1234567891L
        while (i < 200000000) {
          x = x * 6364136223846793005L + 1442695040888963407L; i += 1
        }
        if (x == 42) System.err.print("")  // defeat dead-code elimination
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 3).map(_ => once()).min
    }
    val calibStart = calibMs()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // a silently-swallowed exception must not hide inside a "passing"
    // round: every failure is collected and flagged in the output JSON
    // AND fails the run (exit 1) after the JSON line is printed
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    System.err.println(
      f"[bench] calib_start ${calibStart}%.0f ms (single-thread probe; " +
        "compare across rounds — flat = comparable host)")
    // Spark JOB COUNT per query: scheduling overhead (not data) is the
    // sf1 heavy-tail cost, so the action count is the tuning signal.
    // The ledger drains the listener bus around each query, so every
    // job of a query lands in its own window and none in the next's.
    val ledger = RunLedger.attach(spark)
    // noop sink executes the FULL physical plan (count() would let
    // Catalyst prune every projected expression away); returns the
    // query's (seconds, jobs)
    def runIn(name: String, dir: String): (Double, Int) = {
      val (result, w) = ledger.measure(SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
      result.failed.foreach { e =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      System.err.println(f"[bench] $name%-22s ${w.seconds}%8.2f s  ${w.jobs}%3d jobs")
      // isolate queries: the dedup/ANN pipelines persist sketch stages
      // that would otherwise accumulate memory pressure across the run;
      // the forced GC (outside the timed section) stops 100 queries'
      // worth of heap debt from landing as a multi-second pause inside
      // whichever later query crosses the collection threshold
      // (measured: q_json_extract 1.5s isolated vs 7.9s late in a full
      // run, same plan)
      graft.ops.StageCache.releaseAll()
      spark.catalog.clearCache()
      System.gc()
      (w.seconds, w.jobs)
    }
    def run(name: String): (Double, Int) = runIn(name, sfDir)
    // local iteration aid: SPARK_GRAFT_ONLY=q_a,q_b benches a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.allDefs.map(_.name)
      .filter(n => only.forall(_.contains(n)))
    // session/codegen/JIT warmup across the main physical archetypes
    // (join+agg, window, scan+sort) — with a single warmup query the
    // first window/sort queries in the run pay JIT compilation inside
    // their timed sections (measured: q_keepfirst 3.4s cold vs 1.5s)
    (names.headOption.toSeq ++ Seq("q_keepfirst", "q_select_rename"))
      .filter(SparkEntry.queries.contains).distinct.foreach(run)

    // ---- sf1 subset runs FIRST (r15 protocol change): a 10×-documents
    // tier for the heaviest dedup/text queries — measures the SCALING
    // EXPONENT (log10 t10/t1; alpha is computed after the main passes
    // produce t1), not just absolute sf0.1 time. Each copy's tokens
    // are prefixed c0..c9 so shingle spaces stay disjoint across
    // copies: per-copy duplicate density (and so the true answer)
    // scales linearly, and an exponent near 1.0 means the pipeline's
    // cost does too.
    // PROTOCOL (r14 watch-list 2): the subset must run BEFORE the two
    // full passes. In r14 it ran last — in a JVM warm with ~2×201
    // query executions' heap debt, over a /tmp holding ~15 GB of
    // probe tiers — and all 16 arms read uniformly 1.7-2.5× high,
    // touched and untouched alike, while min_sum improved: the
    // per-query cross-round regression signal was dead. Immediately
    // after warmup the subset's environment is reproducible across
    // rounds, so its absolute seconds compare again.
    // WARMUP PASS (r15, measured): at the front of the session the
    // first tier-scale executions ride the JVM's C2/codegen warmup
    // curve — the first arms read 2-7× their steady state
    // (q_ngram_prefix 34.3/21.4 s where the same session's main pass
    // read 3.07 s minutes later; entries beyond ~90 s of heavy
    // execution were already steady, and a tier re-run seconds after
    // run A was STILL falling). One UNCOUNTED full pass over the
    // subset at the tier burns that curve for every plan before any
    // measured execution; the min-of-2 below then reads steady state
    // — comparable round-over-round at this fixed position, and
    // within spread of the old warm-position (r13) levels. Enabled on
    // the driver's sf0.1 full runs; override with SPARK_GRAFT_SF1=0/1.
    val sf1Queries = Seq("q_dedup_minhash", "q_dedup_minhash_fast",
      "q_ngram_prefix",
      "q_ngram_jaccard", "q_dedup_eval", "q_dedup_simhash",
      "q_dedup_simhash64", "q_substr_dedup",
      "q_incremental_minhash", "q_substr_apply", "q_containment",
      // paragraph keep-first: prefix-disjoint copies scale paragraph
      // digests linearly; the WindowGroupLimit winner should too
      "q_paragraph_dedup",
      // fuzzy decontamination reads only documents; its LSH probe
      // should scale like the other banded pipelines
      "q_fuzzy_decontaminate",
      // events-backed iterative/graph ops: the 10x tier shifts user and
      // event ids per copy, so user partitions stay disjoint (10x
      // transition rows over the same page-node set — iteration count
      // and node-side state are scale-INdependent by design)
      "q_pagerank", "q_triangles",
      // native as-of operator: 10x disjoint users -> the sorted-merge
      // exec should scale linearly in rows
      "q_asof_native")
    val sf1Spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val sf1Jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // per-arm 1-min loadavg at arm START (r16 VERDICT task 3): the r16
    // run launched at load_start 22.98 and the subset — which runs
    // first by protocol — absorbed the spike: all 16 arms read
    // 1.5-12x high and the cross-round signal died, invisibly except
    // by hand-reconciling against the c8 rerun. The loadavg is the
    // ANNOTATION (per arm, so a mid-subset spike is attributable to
    // the arms it hit); the GATE below uses the calibration probe,
    // because raw loadavg cannot gate a bench launched through sbt
    // (the boot JIT storm IS double-digit 1-min load — r12 note at
    // the top of main)
    val sf1Loads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var sf1GateCalibMs = 0.0
    var sf1GateWaitS = 0.0
    val sf1Enabled = sys.env.get("SPARK_GRAFT_SF1")
      .map(_ != "0").getOrElse(sfDir.contains("sf0.1") && only.isEmpty)
    val sf1Times: Seq[(String, Double)] = if (!sf1Enabled) Seq.empty else {
      import org.apache.spark.sql.functions._
      // heap telemetry reading rule (r11): the allocation-heavy entries
      // (the md5-lex-min minhash kernel in particular) go GC-bound when
      // the heap is small — a 34 GB run measured q_dedup_minhash at
      // 24.5 s where the same commit at 96 GB (the driver's
      // configuration, SPARK_DRIVER_MEM) measures 6.3 s. Label such
      // runs loudly so a low-heap number is never read as a plan
      // regression.
      val heapGb = Runtime.getRuntime.maxMemory / 1e9
      if (heapGb < 60)
        System.err.println(f"[bench] WARNING: sf1 tier on a $heapGb%.0f GB " +
          "heap — allocation-heavy entries can read 2-4x high from GC; " +
          "compare only against runs with similar env.heap_max_gb")
      val dir = "/tmp/graft_sf1"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until 10).map { k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
          .withColumn("text", concat_ws(" ",
            transform(split(trim(col("text")), "[ \\t\\n\\r\\f]+"),
              t => concat(lit("c" + k), t))))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // 10x events: disjoint user/event id spaces per copy; ts/props
      // pass through unchanged in whatever type the fixture ships
      // (nanos-as-long or TIMESTAMP_NTZ micros — Tables.eventsRaw
      // branches on the resolved type at re-read)
      val evs = spark.read.parquet(s"$sfDir/events.parquet")
      (0 until 10).map { k =>
        evs.withColumn("user_id", col("user_id") + lit(k * 10000000L))
          .withColumn("event_id", col("event_id") + lit(k * 1000000000L))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val subsetNames = sf1Queries.filter(n =>
        SparkEntry.queries.contains(n) && only.forall(_.contains(n)))
      // uncounted tier-scale warmup pass over the WHOLE subset first:
      // burns the session's C2/codegen warmup curve and each tier
      // plan's codegen before any measured execution (see PROTOCOL
      // note above; a per-query discard is not enough — the first
      // queries' re-runs landed at 8-25 s of heavy execution, still
      // on the curve)
      System.err.println("[bench] ---- sf1 warmup pass (uncounted) ----")
      subsetNames.foreach(n => runIn(n, dir))
      // load gate before the MEASURED passes (r16 VERDICT task 3):
      // spin — bounded, so a permanently-busy host still produces a
      // (flagged) number — until a single busy thread runs within
      // 1.4x of the pre-Spark calibration baseline. A busy probe
      // thread only slows when the host is saturated NOW, which is
      // exactly the contention class that inflated every r16 arm;
      // loadavg can't serve here (self-load, r12 note above). The
      // gate calib and total wait land in the env block so a gated
      // (or given-up) run is distinguishable from a quiet one.
      sf1GateCalibMs = calibMs()
      while (sf1GateCalibMs > 1.4 * calibStart && sf1GateWaitS < 240.0) {
        System.err.println(f"[bench] sf1 gate: calib ${sf1GateCalibMs}%.0f ms" +
          f" vs baseline ${calibStart}%.0f ms — host busy, waiting 15 s")
        Thread.sleep(15000)
        sf1GateWaitS += 15.0
        sf1GateCalibMs = calibMs()
      }
      if (sf1GateWaitS > 0)
        System.err.println(f"[bench] sf1 gate: proceeded at " +
          f"${sf1GateCalibMs}%.0f ms after ${sf1GateWaitS}%.0f s")
      System.err.println("[bench] ---- sf1 measured passes ----")
      val measured = subsetNames.map { n =>
        // min-of-2 like the sf0.1 passes: host/GC contention is
        // strictly additive, and a single-shot sf1 number was observed
        // 1.8x off the quiet-machine cost for the same plan
        sf1Loads(n) = osBean.getSystemLoadAverage
        val (tA, jA) = runIn(n, dir)
        val (tB, jB) = runIn(n, dir)
        sf1Spreads(n) = math.abs(tA - tB)
        val (t10, j10) = if (tB < tA) (tB, jB) else (tA, jA)
        sf1Jobs(n) = j10
        System.err.println(f"[bench] sf1 $n%-20s $t10%8.2f s " +
          "(alpha printed after the main passes)")
        n -> t10
      }
      // delete the tier before the main passes: leaving ~1 GB of tier
      // parquet on /tmp through them is a (measured-benign, r15:
      // 152.21 vs 154.90) environment change vs rounds <= 14 — the
      // same /tmp-contamination class the r14 watch-list flagged, so
      // the main passes run against the same /tmp state as before the
      // sf1 tier existed (r15 ADVICE)
      val fsDir = new org.apache.hadoop.fs.Path(dir)
      fsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(fsDir, true)
      System.err.println(s"[bench] sf1 tier $dir deleted before main passes")
      measured
    }

    // TWO full passes, per-query MIN (r13). The r11/r12 adjudications
    // proved single-run totals carry ±5-10% additive noise (host/GC
    // contention lands multi-second pauses on whichever query is
    // unlucky; a full run under external load came in 25% over its
    // quiet-machine total), and the only number that compared across
    // rounds was the per-query min over two runs (r12: 147.74 s ≈
    // r10's 147.56 s while the single-run totals read 176 vs 162).
    // The calibration probe cannot flag this — a single busy thread on
    // a 32-cpu host only slows at SATURATION, while a 32-way Spark
    // stage contends as soon as background load occupies any core —
    // so instead of gating on a blind probe, the bench measures every
    // query twice and reports min_sum as THE cross-round-comparable
    // total ("value" in the JSON). Noise is strictly additive, so the
    // min estimates the code's cost, not the neighbor's; the
    // first-pass sum is retained as pass1_sum for continuity with
    // rounds <= 12. SPARK_GRAFT_PASSES=1 restores the single-pass
    // shape for quick local iteration.
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES").map { s =>
      val v = try s.toInt catch {
        case _: NumberFormatException =>
          sys.error(s"SPARK_GRAFT_PASSES must be a positive int, got '$s'")
      }
      require(v >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $v " +
        "(use 1 for the quick single-pass shape)")
      v
    }.getOrElse(2)
    val passes = (1 to nPasses).map { p =>
      System.err.println(s"[bench] ---- pass $p/$nPasses ----")
      names.map { n => val (t, j) = run(n); (n, t, j) }
    }
    val pass1 = passes.head
    // per-query SPREAD (|t1 - t2|): the mechanical host-noise signal.
    // A big spread on an unchanged query is contention; a tight spread
    // at a higher level than last round is a real regression.
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val bests = pass1.indices.map { i =>
      val runs = passes.map(_(i))
      val n = runs.head._1
      if (runs.size > 1)
        spreads(n) = runs.map(_._2).max - runs.map(_._2).min
      runs.minBy(_._2)
    }
    val results = bests.map { case (n, t, _) => n -> t }
    val bestJobs = bests.map { case (n, _, j) => n -> j }.toMap
    val pass1Sum = pass1.map(_._2).sum
    val pass2Sum = if (passes.size > 1) passes(1).map(_._2).sum else 0.0
    // sf1 alphas: the subset ran FIRST (see above); its exponent needs
    // the main passes' t1, so it is computed here at report time
    val resultMap = results.toMap
    val sf1: Seq[(String, (Double, Double))] = sf1Times.map { case (n, t10) =>
      val t1 = resultMap.getOrElse(n, 0.0)
      val alpha = if (t1 > 0 && t10 > 0) math.log(t10 / t1) / math.log(10.0)
                  else 0.0
      System.err.println(
        f"[bench] sf1 $n%-20s $t10%8.2f s alpha $alpha%.2f")
      n -> ((t10, alpha))
    }

    // The harness that captures this output keeps only the LAST 2000
    // chars and json-parses lines; a full-precision 80-query map
    // overflows that window and clips the FRONT of the line (rounds 1
    // and 2 lost the headline total this way — BENCH_r02's stored tail
    // is exactly 2000 chars and starts MID-LINE at `ordinal":0.8659…`
    // with parsed=null, so the window is measured, not folklore). The
    // r16 VERDICT asked for the FULL 201-query map inline; that is
    // arithmetically impossible — 201 names at ~14 chars plus 2-dp
    // values is ~4.6 KB before the sf1/env blocks — and emitting it
    // would clip the line's front and lose even min_sum, the r02
    // failure. What fits is maximized instead: 2-dp values, keep the
    // SLOWEST entries in "queries" until the line reaches the cap
    // below (1880 = 2000-char window minus the ~80-char sbt success
    // line that follows, minus margin), fold the cheap tail into
    // rest_sec/n_rest. To make room for the VERDICT's "top ~50"
    // (r16's sf1_subset block alone was 1100 of the 1441-char line,
    // leaving ZERO query entries inline), the per-arm sf1 detail now
    // lives only in the full dump + stderr; the compact line keeps a
    // 3-number sf1 summary. The complete per-query map goes to
    // bench_full_last.json AND the cpu-stamped copy (r16 task 2), and
    // the per-query stderr lines above.
    def r2(v: Double): String = f"$v%.2f"
    def entry(kv: (String, Double)): String = "\"" + kv._1 + "\":" + r2(kv._2)
    // "value" IS min_sum (sum of per-query mins across the passes) —
    // the cross-round-comparable total; pass sums ride along so the
    // additive-noise magnitude of this run is itself recorded
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val passesPart = s""","min_sum":${r2(total)},"n_passes":$nPasses""" +
      s""","pass1_sum":${r2(pass1Sum)}""" +
      (if (nPasses > 1) s""","pass2_sum":${r2(pass2Sum)}""" else "")
    val bySlowest = results.sortBy(-_._2)
    // full-dump sf1 block (per-arm sec/alpha/jobs/spread/load); the
    // compact line carries only the summary so query entries fit
    val sf1Part =
      if (sf1.isEmpty) ""
      else s""","sf1_subset":${sf1.sortBy(_._1).map { case (n, (t, a)) =>
        "\"" + n + "\":{\"sec\":" + r2(t) + ",\"alpha\":" + r2(a) +
          ",\"jobs\":" + sf1Jobs.getOrElse(n, 0) +
          ",\"spread\":" + r2(sf1Spreads.getOrElse(n, 0.0)) +
          ",\"ld\":" + r2(sf1Loads.getOrElse(n, 0.0)) + "}"
      }.mkString("{", ",", "}")}"""
    val sf1Summary =
      if (sf1.isEmpty) ""
      else {
        val secs = sf1.map(_._2._1)
        val alphas = sf1.map(_._2._2)
        s""","sf1_n":${sf1.size},"sf1_sum":${r2(secs.sum)}""" +
          s""","sf1_alpha_max":${r2(alphas.max)}"""
      }
    // host-contention markers: load averages straddling the run plus
    // the retried-query spreads — the "is it noise or a regression"
    // evidence the per-round comparison needs (additive noise shows as
    // high load / wide spreads; a plan regression shows as a tight
    // spread at a new level)
    val calibEnd = calibMs()
    // mid-run contention gate: a single busy thread only slows down
    // when the host is saturated NOW, so end ≫ start means something
    // external (or a leaked thread pool) competed during the run
    val loadedHost = calibEnd > 1.5 * calibStart
    if (loadedHost)
      System.err.println(f"[bench] WARNING: calibration probe " +
        f"${calibStart}%.0f -> ${calibEnd}%.0f ms — the host picked up " +
        "contention MID-RUN; totals read high, rerun before comparing " +
        "rounds (JSON carries \"loaded_host\":true)")
    // "cpus" is the PHYSICAL count (getAvailableProcessors) — an r16
    // misreading took it for the master setting; "cpus_master" is the
    // SPARK_GRAFT_CPUS value actually inside local[n], so a low-core
    // scaling rerun is self-describing (r16 VERDICT task 2)
    val envPart = s""","env":{"cpus":${osBean.getAvailableProcessors}""" +
      s""","cpus_master":$cpus""" +
      s""","load_end":${r2(osBean.getSystemLoadAverage)}""" +
      s""","load_start":${r2(loadAtStart)}""" +
      s""","calib_start_ms":${r2(calibStart)}""" +
      s""","calib_end_ms":${r2(calibEnd)}""" +
      (if (sf1Enabled)
        s""","sf1_gate_calib_ms":${r2(sf1GateCalibMs)}""" +
          s""","sf1_gate_wait_s":${r2(sf1GateWaitS)}"""
       else "") +
      s""","loaded_host":$loadedHost""" +
      s""","heap_max_gb":${r2(Runtime.getRuntime.maxMemory / 1e9)}}"""
    // "spread" (was retry_spread through r12, when only outliers ran
    // twice): |max - min| across the passes, now for EVERY query
    val spreadPart =
      if (spreads.isEmpty) ""
      else s""","spread":${spreads.map { case (n, sp) =>
        "\"" + n + "\":" + r2(sp)
      }.mkString("{", ",", "}")}"""
    val failedPart =
      if (failed.isEmpty) ""
      else s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    def line(kept: Seq[(String, Double)]): String = {
      val rest = bySlowest.drop(kept.size)
      val restPart =
        if (rest.isEmpty) ""
        else s""","rest_sec":${r2(rest.map(_._2).sum)},"n_rest":${rest.size}"""
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","n_queries":${
        results.size},"queries":${
        kept.map(entry).mkString("{", ",", "}")}$restPart$failedPart$sf1Summary$envPart$passesPart,"value":${r2(total)}}"""
    }
    val kept = (bySlowest.size to 0 by -1).view
      .map(bySlowest.take).find(k => line(k).length <= 1880)
      .getOrElse(Seq.empty)
    // full dump also carries per-query Spark JOB counts (the action-
    // count tuning signal; compact line omits them to stay in-window),
    // each from the query's fastest main-pass run
    val jobsPart = s""","jobs":${bySlowest.map { case (n, _) =>
      "\"" + n + "\":" + bestJobs(n)
    }.mkString("{", ",", "}")}"""
    val full = s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":${
      bySlowest.map(entry).mkString("{", ",", "}")}$jobsPart$failedPart$sf1Part$envPart$spreadPart$passesPart,"value":${r2(total)}}"""
    // two copies: the unstamped name (cross-round tooling compat) and
    // a cpu-stamped one, so the low-core scaling rerun stops
    // OVERWRITING the main run's per-query history (r16's committed
    // bench_full_r16.json silently held the 8-core numbers)
    for (path <- Seq("bench_full_last.json", s"bench_full_last_c$cpus.json"))
      try {
        val w = new java.io.PrintWriter(path)
        try w.println(full) finally w.close()
      } catch { case _: Throwable => () }
    println(line(kept))
    spark.stop()
    // a bench with ANY failed query must never report success (the r6
    // silent-failure class): JSON above still carries the partial
    // numbers + the failed list, but the process exits nonzero
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] FAILED queries: ${failed.mkString(", ")} — exit 1")
      sys.exit(1)
    }
  }
}
