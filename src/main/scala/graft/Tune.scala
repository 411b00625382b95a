package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Tier instrument for the measured dedup defaults: min-of-2 wall
  * clock, Spark job count, spill, shuffle bytes and GC per cell, run
  * through count() with Bench-style cache hygiene on prefix-disjoint
  * documents tiers built from the sf0.1 fixture. Each mode backs one
  * live numeric default and re-measures it on the production route:
  *
  *  - `pv1000`: [[Dedup.VerifyPrefilterDefault]] (16-bit pre-verify
  *    vs one-phase verify at the 1000× tier);
  *  - `mhrv10`, `mhrv30`, `mhrv`: [[Dedup.RendezvousMinPairs]] (the
  *    carry vs rendezvous verify at the 10×, 30×, 100× and 1000×
  *    tiers, bracketing the crossover);
  *  - `spillp`: the shuffle-partition guidance in
  *    `Dedup.verifyRendezvousThresholded` (10M docs, p ∈ {256, 512,
  *    1024}).
  *
  * The modes that measured retired shapes are gone; their numbers and
  * the commit that last held their code are listed under "Retired
  * instruments" in SCALE.md.
  *
  * Usage: runMain graft.Tune <sf0.1 dir> <mode>
  */
object Tune {
  /** The modes [[main]] accepts, in the order documented above. */
  private val Modes: Seq[String] = Seq("pv1000", "mhrv10", "mhrv30", "mhrv", "spillp")

  /** Build (once) a prefix-disjoint ×`copies` documents tier at
    * `dstDir` from `srcDir` — the same construction Bench's sf1 tier
    * uses (token tag c0..c9 / c00..c99 keeps shingle spaces disjoint
    * across copies so per-copy duplicate density scales linearly;
    * doc_id spaces disjoint by a 10M stride). Lets every mode run on a
    * fresh host without a prior Bench pass.
    */
  private def ensureDocsTier(spark: SparkSession, srcDir: String,
      dstDir: String, copies: Int): Unit = {
    if (new java.io.File(s"$dstDir/documents.parquet/_SUCCESS").exists) return
    require(srcDir.contains("sf0.1"),
      s"tier builder expects the sf0.1 fixture as source, got $srcDir")
    println(s"[tune] building $dstDir ($copies copies of $srcDir documents)")
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val width = if (copies > 10) 2 else 1
    (0 until copies).map { c =>
      val tag = "c" + s"%0${width}d".format(c)
      docs.withColumn("doc_id", col("doc_id") + lit(c * 10000000L))
        .withColumn("text", concat_ws(" ",
          transform(split(trim(col("text")), "[ \\t\\n\\r\\f]+"),
            t => concat(lit(tag), t))))
    }.reduce(_.unionByName(_))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dstDir/documents.parquet")
  }

  /** The 1000×-documents tier (5M docs): 10 super-copies of the 100×
    * tier, d0..d9 token tags keep shingle spaces disjoint across
    * super-copies (duplicate density — hence the true answer — stays
    * linear), doc_id stride 1e9. Shared by the pv1000 and mhrv cells
    * and, through [[ensureTier4000]], the spillp sweep.
    */
  private def ensureTier1000(spark: SparkSession): Unit = {
    val t1000 = "/tmp/graft_sf100"
    if (new java.io.File(s"$t1000/documents.parquet/_SUCCESS").exists) return
    println(s"[tune] building $t1000 (10 super-copies of /tmp/graft_sf10)")
    val d = spark.read.parquet("/tmp/graft_sf10/documents.parquet")
    (0 until 10).map { k =>
      d.withColumn("doc_id", col("doc_id") + lit(k * 1000000000L))
        .withColumn("text", concat_ws(" ",
          transform(split(trim(col("text")), "[ \\t\\n\\r\\f]+"),
            t => concat(lit(s"d$k"), t))))
    }.reduce(_.unionByName(_))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$t1000/documents.parquet")
  }

  /** The 20M-doc tier (4 super-copies of the 1000× tier): tag e0..e3
    * keeps shingle spaces disjoint across super-copies (duplicate
    * density — the true answer — stays linear); doc_id stride 1e10
    * (sf100 ids < 1e10). The spillp partition sweep reads its first 2
    * super-copies (10M docs). Returns the tier dir.
    */
  private def ensureTier4000(spark: SparkSession): String = {
    val t4 = "/tmp/graft_sf1000"
    if (!new java.io.File(s"$t4/documents.parquet/_SUCCESS").exists) {
      println(s"[tune] building $t4 (4 super-copies of /tmp/graft_sf100)")
      val d = spark.read.parquet("/tmp/graft_sf100/documents.parquet")
      (0 until 4).map { k =>
        d.withColumn("doc_id", col("doc_id") + lit(k * 10000000000L))
          .withColumn("text", concat_ws(" ",
            transform(split(trim(col("text")), "[ \\t\\n\\r\\f]+"),
              t => concat(lit(s"e$k"), t))))
      }.reduce(_.unionByName(_))
        .repartition(128)
        .write.mode("overwrite").parquet(s"$t4/documents.parquet")
    }
    t4
  }

  def main(args: Array[String]): Unit = {
    // arguments are checked before any session exists: a typo must not
    // cost a JVM's worth of Spark start-up, let alone run a tier build
    val usage = s"usage: Tune <sf0.1 dir> <mode>, mode one of ${Modes.mkString(", ")}"
    val mode = args.lift(1).getOrElse(
      throw new IllegalArgumentException(s"missing mode; $usage"))
    if (!Modes.contains(mode))
      throw new IllegalArgumentException(s"unknown mode '$mode'; $usage")
    val sfDir = args(0)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // per-run decomposition (r13): beside jobs and spill, shuffle
    // bytes crossing the exchanges and task-summed GC time — the two
    // candidate mechanisms whenever a wall-clock alpha exceeds the
    // candidate-volume alpha (disk-bandwidth-bound exchanges vs heap
    // pressure); dumpStages attributes the bytes to stages
    val ledger = RunLedger.attach(spark)
    // heap is a PER-INSTRUMENT env pin (r15 VERDICT task 7 / SCALE.md
    // r15): 96g (+AlwaysPreTouch) helps allocation-heavy sf1-tier
    // bench arms but STARVES the page cache that the doc-tier cells'
    // 26 GB+ shuffles need — identical code measured 321-389 s at 96g
    // vs 165-232 s at 32g. Committed doc-tier SCALE numbers are 32g
    // numbers, and every mode here runs doc-tier cells; warn loudly at
    // the other env so a session can't silently produce incomparable
    // cells. (Bench owns the opposite pin: it warns when the sf1
    // subset runs BELOW 60 GB.)
    val heapGb = Runtime.getRuntime.maxMemory / 1e9
    if (heapGb > 64)
      println(f"[tune] WARNING: mode '$mode' runs doc-tier cells — " +
        f"32g instruments — on a $heapGb%.0f GB heap. Large heaps " +
        "starve the page cache big shuffles need (SCALE.md r15: " +
        "321-389 s at 96g vs 165-232 s at 32g, identical code); this " +
        "session's cells are NOT comparable to committed doc-tier " +
        "numbers. Re-run without SPARK_DRIVER_MEM=96g.")
    // min-of-2 over count(); returns both reps' windows for dumpStages
    def time(name: String)(f: => DataFrame): Seq[RunLedger.Window] = {
      val reps = (1 to 2).map { _ =>
        graft.ops.StageCache.releaseAll()
        spark.catalog.clearCache()
        System.gc()
        val (n, w) = ledger.measure(f.count())
        (n.get, w)
      }
      val (n, best) = reps.minBy(_._2.seconds)
      println(f"[tune] $name%-28s ${best.seconds}%7.2f s  ${best.jobs}%3d jobs  " +
        f"$n%9d rows  spill ${best.spill / 1048576}%5d MB  " +
        f"shW ${best.shW / 1048576}%6d MB  shR ${best.shR / 1048576}%6d MB  " +
        f"gc ${best.gcMs / 1000.0}%6.1f s")
      reps.map(_._2)
    }

    // Per-execution stage attribution over the reps of one time() cell.
    // Spark SQL stage names are the action call site (e.g. "count at
    // Tune.scala:161"), so distinct stages within ONE execution
    // commonly share a name — grouping by name alone collapses them to
    // a single max row and under-reports the execution's shuffle. Each
    // stage instead gets an occurrence index within its rep (a given
    // logical exchange keeps its position in stage-id order across
    // reps), and the report is the per-(name, occurrence) max across
    // reps — reconciling against the cell's printed shW (a
    // single-execution number), not 2× it.
    def dumpStages(tag: String, reps: Seq[RunLedger.Window]): Unit = {
      println(s"[tune] -- stages >100MB for $tag (per execution; " +
        "max across the timed reps) --")
      reps
        .flatMap { rep =>
          val occ = scala.collection.mutable.Map.empty[String, Int]
          rep.stages.sortBy(_.id).map { s =>
            val nm = s.name.take(72)
            val i = occ.getOrElse(nm, 0)
            occ(nm) = i + 1
            ((nm, i), s)
          }
        }
        .groupBy(_._1).toSeq
        .map { case ((nm, i), ss) => (nm, i, ss.map(_._2).maxBy(s => s.shW max s.shR)) }
        .filter { case (_, _, s) => s.shW > 100000000L || s.shR > 100000000L }
        .sortBy(_._3.id)
        .foreach { case (nm, i, s) =>
          println(f"[tune]   stage ${s.id}%4d #$i $nm%-70s  " +
            f"shW ${s.shW / 1048576}%6d MB  shR ${s.shR / 1048576}%6d MB  ${s.tasks}%4d tasks")
        }
    }

    // The production minhash pipeline pinned to one side of the
    // RendezvousMinPairs gate: Long.MaxValue keeps every candidate set
    // below it (the carry verify, after the gate's persist + count),
    // 0 keeps every set above it (the rendezvous verify with the
    // default pre-verify). The gate conf is read when the plan is
    // built, which time() does inside the timed window — so each cell
    // pays exactly what the gate's chosen route pays in production.
    def minhashOnRoute(d: DataFrame, gate: Long): DataFrame = {
      spark.conf.set(Dedup.RendezvousMinPairsConfKey, gate.toString)
      try Dedup.minhashPairs(d, "doc_id", "text", 2, 16, 8, 0.1)
      finally spark.conf.unset(Dedup.RendezvousMinPairsConfKey)
    }
    val carryRoute = Long.MaxValue
    val rendezvousRoute = 0L

    mode match {
      // ---- truncated-hash pre-verify A/B at the 1000× tier (r16
      // task 1): one-phase rendezvous verify (spark.graft.
      // verifyPrefilter=off) vs the two-phase 16-bit truncated
      // pre-verify, interleaved in one JVM on the production minhash
      // pipeline. The contested term is the verify exchange's bytes
      // (~26 GB per 5M docs, the r15 disk wall): phase 1 ships
      // high-16-bit smallints (a quarter of the bytes), phase 2
      // re-ships full arrays only for pairs whose truncated Jaccard
      // upper bound clears the threshold. shW/shR per cell come from
      // time(); dumpStages attributes which exchange moved.
      case "pv1000" =>
        ensureDocsTier(spark, sfDir, "/tmp/graft_sf10", 100)
        ensureTier1000(spark)
        val d1000 = spark.read.parquet("/tmp/graft_sf100/documents.parquet")
        spark.conf.set("spark.sql.shuffle.partitions", "128")
        for (block <- 1 to 2) {
          for ((label, pf) <- Seq(("1phase", "off"), ("2ph16", "16"))) {
            spark.conf.set(Dedup.VerifyPrefilterConfKey, pf)
            dumpStages(s"$label b$block", time(f"mh $label%s @1000x b$block") {
              Dedup.minhashPairs(d1000, "doc_id", "text", 2, 16, 8, 0.1)
            })
          }
        }
        spark.conf.unset(Dedup.VerifyPrefilterConfKey)

      // ---- carry-vs-rendezvous guard cell at the 10× tier (50k
      // docs): the bench sf1 tier has no carry arm of its own, so a
      // uniform session inflation there cannot be told apart from a
      // small-scale rendezvous regression without this interleaved A/B
      case "mhrv10" =>
        ensureDocsTier(spark, sfDir, "/tmp/graft_sf1", 10)
        val d = spark.read.parquet("/tmp/graft_sf1/documents.parquet")
        for (block <- 1 to 2) {
          time(f"mh10 carry b$block")(minhashOnRoute(d, carryRoute))
          time(f"mh10 rv    b$block")(minhashOnRoute(d, rendezvousRoute))
        }

      // ---- 30×-tier crossover bracket for the verify size gate: the
      // 10× cell (1.06M candidates) measured carry 2× ahead, the 100×
      // cell (10.6M) a slight rv win — this runs the tier between them
      // so RendezvousMinPairs sits at a measured near-tie, not a guess.
      case "mhrv30" =>
        ensureDocsTier(spark, sfDir, "/tmp/graft_sf3", 30)
        val d = spark.read.parquet("/tmp/graft_sf3/documents.parquet")
        for (block <- 1 to 2) {
          time(f"mh30 carry b$block")(minhashOnRoute(d, carryRoute))
          time(f"mh30 rv    b$block")(minhashOnRoute(d, rendezvousRoute))
        }

      // ---- rendezvous-vs-carry verify A/B at the 100× and 1000×
      // tiers (r14): the carry shape's join-1 output owned 36.4 of
      // 44.3 GB of 1000×-tier shuffle with wall alphas 1.18-1.41
      // across the third decade; the rendezvous verify ships shingle
      // arrays once per (group, doc), so the per-pair carry crosses no
      // exchange at all (DedupSpec plan pin). Interleaved blocks
      // (carry, rv, carry, rv — each time() is itself min-of-2),
      // partition counts matched to the r13 cells, stage dumps after
      // each cell so the carry stage's disappearance is visible, not
      // inferred.
      case "mhrv" =>
        ensureDocsTier(spark, sfDir, "/tmp/graft_sf10", 100)
        ensureTier1000(spark)
        val tiers = Seq(("100x", 32, "/tmp/graft_sf10/documents.parquet"),
          ("1000x", 128, "/tmp/graft_sf100/documents.parquet"))
        for ((tname, p, path) <- tiers) {
          val d = spark.read.parquet(path)
          spark.conf.set("spark.sql.shuffle.partitions", p.toString)
          for (block <- 1 to 2) {
            dumpStages(s"carry $tname b$block",
              time(f"mh carry $tname b$block")(minhashOnRoute(d, carryRoute)))
            dumpStages(s"rv $tname b$block",
              time(f"mh rv    $tname b$block")(minhashOnRoute(d, rendezvousRoute)))
          }
        }

      // ---- verify-stage shuffle-partition sweep at the 10M-doc tier
      // (r16 task 2): the r15 fourth-decade cell measured 91.4 GB of
      // spill at 10M docs / p=256 (2.05× the 5M tier's bytes but 44×
      // its spill) — per-partition verify payload outgrew the
      // execution memory per slot. The initial shuffle-partition count
      // is the per-partition memory cap (AQE coalesces down, never
      // up), so this sweeps p ∈ {256, 512, 1024} on the production
      // minhash pipeline at 10M docs, one rep per p (the wall is
      // disk/spill, not JIT — and a 2-rep sweep would double an ~hour
      // of runtime for noise this instrument doesn't need).
      case "spillp" =>
        ensureDocsTier(spark, sfDir, "/tmp/graft_sf10", 100)
        ensureTier1000(spark)
        val t4 = ensureTier4000(spark)
        val d2000 = spark.read.parquet(s"$t4/documents.parquet")
          .filter(col("doc_id") < 20000000000L) // first 2 super-copies = 10M
        def freeGb: Double = new java.io.File("/tmp").getUsableSpace / 1e9
        for (p <- Seq(256, 512, 1024)) {
          spark.conf.set("spark.sql.shuffle.partitions", p.toString)
          println(f"[tune] /tmp free before p=$p: $freeGb%.1f GB")
          try {
            val (n, w) = ledger.measure(
              Dedup.minhashPairs(d2000, "doc_id", "text", 2, 16, 8, 0.1).count())
            println(f"[tune] minhash_fast @10M p=$p%-5d ${w.seconds}%7.2f s  " +
              f"${n.get}%9d rows  spill ${w.spill / 1048576}%6d MB  " +
              f"shW ${w.shW / 1048576}%6d MB  shR ${w.shR / 1048576}%6d MB  " +
              f"gc ${w.gcMs / 1000.0}%6.1f s")
          } catch {
            case e: Exception =>
              println(s"[tune] @10M p=$p FAILED: ${e.getMessage.take(200)}")
          }
          graft.ops.StageCache.releaseAll()
          spark.catalog.clearCache()
          System.gc()
          println(f"[tune] /tmp free after  p=$p: $freeGb%.1f GB")
        }
    }
    spark.stop()
  }
}
