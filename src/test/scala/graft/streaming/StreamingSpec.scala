package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {

  val sf = "/root/testdata/sf0.001"

  test("streaming hourly rollup matches the batch twin") {
    val batch = EventStreams.hourlyRollup(
      graft.queries.Tables.eventsRaw(spark, sf), streaming = false)
      .orderBy("hour_start", "event_type")
      .collect().toSeq

    val stream = EventStreams.hourlyRollup(
      EventStreams.readEventsStream(spark, sf), streaming = true)
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory").queryName("rollup_test")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("rollup_test")
        .orderBy("hour_start", "event_type").collect().toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionize matches the window-function batch twin") {
    val events = graft.queries.Tables.eventsRaw(spark, sf)
    val stateful = EventStreams.sessionize(spark, events)
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_ts").cast("string"), col("end_ts").cast("string"))
      .orderBy("user_id", "session_seq")
      .collect().toSeq
    val twin = graft.SparkEntry.queries("q_event_sessions")(spark, sf)
      .collect().toSeq
    assert(stateful === twin)
    assert(stateful.nonEmpty)
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val stream = EventStreams.dedupStream(
      EventStreams.readEventsStream(spark, sf))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_test")
      val n = got.count()
      assert(n === got.select("event_id").distinct().count())
      assert(n > 0)
    } finally q.stop()
  }

  test("append-mode watermark DROPS late rows and counts them in state metrics") {
    // The deliberate delta from the batch twin: q_event_window's batch
    // oracle aggregates every row, but the streaming rollup's contract
    // is bounded state — a row behind the watermark is dropped, not
    // retro-merged into its (already-emitted) window. This pins that
    // drop end-to-end: append output excludes the late row AND the
    // state operator metrics account for it (numRowsDroppedByWatermark),
    // so an ops dashboard sees the data loss instead of silence.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val agg = input.toDF().toDF("event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("win_start"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      def us(min: Long): Long = min * 60L * 1000000L
      // batch 1: two rows in window [0,10) + one at 40min that will
      // advance the watermark to 30min once the batch commits
      input.addData((1L, us(0)), (2L, us(5)), (3L, us(40)))
      q.processAllAvailable()
      // batch 2: watermark = 30min, so window [0,10) finalizes and
      // emits n=2; the late row at 2min is behind the watermark
      input.addData((4L, us(2)))
      q.processAllAvailable()
      val out = spark.table("late_test")
        .as[(Long, Long)].collect().toMap
      assert(out === Map(0L -> 2L),
        s"late row must not reopen the closed window; got $out")
      val dropped = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 1L,
        s"exactly the one late row should be counted dropped, got $dropped")
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch join") {
    import spark.implicits._
    val dim = graft.queries.Tables.eventsRaw(spark, sf)
      .select("user_id").distinct()
      .withColumn("tier", when(col("user_id") % 2 === 0, "a").otherwise("b"))
    val batch = EventStreams.enrichStream(
      graft.queries.Tables.eventsRaw(spark, sf), dim)
      .groupBy("tier").count().orderBy("tier")
      .as[(String, Long)].collect().toSeq
    val stream = EventStreams.enrichStream(
      EventStreams.readEventsStream(spark, sf), dim)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("enrich_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_test")
        .groupBy("tier").count().orderBy("tier")
        .as[(String, Long)].collect().toSeq
      assert(got === batch && got.nonEmpty)
    } finally q.stop()
  }

  test("watermark bounds state: rollup plan contains the watermark") {
    val stream = EventStreams.hourlyRollup(
      EventStreams.readEventsStream(spark, sf), streaming = true)
    assert(stream.queryExecution.logical.toString.contains("EventTimeWatermark"))
  }

  test("stream-stream click->purchase join matches the batch twin") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val batch = key(EventStreams.clickPurchaseJoin(
      graft.queries.Tables.eventsRaw(spark, sf), streaming = false))
    val stream = EventStreams.clickPurchaseJoin(
      EventStreams.readEventsStream(spark, sf), streaming = true)
    // both sides watermarked: required for state GC on a real stream
    assert(stream.queryExecution.logical.toString
      .split("EventTimeWatermark").length >= 3)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_test").start()
    try {
      q.processAllAvailable()
      val got = key(spark.table("ssjoin_test"))
      assert(got === batch && got.nonEmpty)
    } finally q.stop()
  }

  test("CDC apply: AvailableNow drain builds the latest-wins snapshot; idempotent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cdc_test").toString
    val changesDir = s"$tmp/changes"
    val snapDir = s"$tmp/snapshot"
    // two change files -> with maxFilesPerTrigger=1, two micro-batches
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c")).toDF("k", "ver", "v")
      .coalesce(1).write.parquet(changesDir)
    Seq((2L, 2L, "B"), (4L, 2L, "D"), (2L, 3L, "B2")).toDF("k", "ver", "v")
      .coalesce(1).write.mode("append").parquet(changesDir)

    val changes = spark.readStream
      .schema("k LONG, ver LONG, v STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(changesDir)
    val q = EventStreams.applyCdc(changes, snapDir, Seq("k"), "ver")()
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.awaitTermination(120000)

    def snap = spark.read.parquet(snapDir).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    val expected = Seq((1L, 1L, "a"), (2L, 3L, "B2"), (3L, 1L, "c"), (4L, 2L, "D"))
    assert(snap === expected)

    // idempotence: re-applying a batch leaves the snapshot unchanged
    EventStreams.applyCdcBatch(
      Seq((2L, 2L, "B"), (4L, 2L, "D"), (2L, 3L, "B2")).toDF("k", "ver", "v"),
      snapDir, Seq("k"), "ver")
    assert(snap === expected)
  }

  test("CDC apply recovers a snapshot stranded at _old by a mid-swap crash") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cdc_crash").toString
    val snapDir = s"$tmp/snapshot"
    EventStreams.applyCdcBatch(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "ver", "v"),
      snapDir, Seq("k"), "ver")
    // simulate a crash between the two swap renames: live is gone,
    // _old holds the full prior snapshot
    val fs = new org.apache.hadoop.fs.Path(snapDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(snapDir),
      new org.apache.hadoop.fs.Path(snapDir + "_old")))
    // next batch touches only k=2; k=1 must survive via _old recovery
    EventStreams.applyCdcBatch(
      Seq((2L, 2L, "B")).toDF("k", "ver", "v"),
      snapDir, Seq("k"), "ver")
    val snap = spark.read.parquet(snapDir).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    assert(snap === Seq((1L, 1L, "a"), (2L, 2L, "B")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snapDir + "_old")))
  }

  test("corpus admission: stream drain equals sequential admitBatch twin") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("admit_test").toString
    val docsDir = s"$tmp/docs"
    // two files -> with maxFilesPerTrigger=1, two micro-batches. Batch 2
    // carries: a near-dup of an admitted batch-1 doc (20), a within-batch
    // near-dup pair (21 < 22), and a genuinely new doc (23)
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "completely different words about spark engines here today"))
    val b2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog tonite"),
      (21L, "rows stream into the admission gate for dedup checks"),
      (22L, "rows stream into the admission gate for dedup check"),
      (23L, "nothing resembles this sentence in the whole corpus"))
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(docsDir)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(docsDir)

    // batch twin: two sequential admitBatch calls on a fresh index
    val twinIdx = s"$tmp/twin_idx"
    val t1 = CorpusStreams.admitBatch(b1.toDF("doc_id", "text"), twinIdx,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    val t2 = CorpusStreams.admitBatch(b2.toDF("doc_id", "text"), twinIdx,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(t1 === Set(10L, 11L))
    assert(t2 === Set(21L, 23L),
      "20 dups an indexed doc; 22 dups lower-id 21 in-batch; 23 is new")

    // the same decisions through a real 2-micro-batch file stream
    val admitted = scala.collection.mutable.Set.empty[Long]
    val q = CorpusStreams.admitStream(
        spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(docsDir),
        s"$tmp/stream_idx", "doc_id", "text") { (batch, _) =>
        admitted.synchronized {
          admitted ++= batch.select("doc_id").as[Long].collect()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.awaitTermination(120000)
    assert(admitted.toSet === (t1 ++ t2))

    // re-delivery safety: replaying an already-indexed batch admits
    // nothing (each doc is its own Jaccard-1.0 near-dup in the index)
    val replay = CorpusStreams.admitBatch(b2.toDF("doc_id", "text"),
      s"$tmp/stream_idx", "doc_id", "text")
    assert(replay.count() === 0L)

    // sketch-parameter drift fails fast: probing a k=16/bands=8 index
    // with bands=4 band keys would never collide — every near-dup
    // silently admitted
    val pe = intercept[IllegalArgumentException] {
      CorpusStreams.admitBatch(b2.toDF("doc_id", "text"),
        s"$tmp/stream_idx", "doc_id", "text", bands = 4)
    }
    assert(pe.getMessage.contains("bands=4") && pe.getMessage.contains("bands=8"))

    // kernel drift fails fast the same way: legacy-kernel band keys
    // come from a different signature space, so probing this
    // fast-kernel (r12 default) index with them would silently admit
    // every near-dup
    val ke = intercept[IllegalArgumentException] {
      CorpusStreams.admitBatch(b2.toDF("doc_id", "text"),
        s"$tmp/stream_idx", "doc_id", "text", fastKernel = false)
    }
    assert(ke.getMessage.contains("kernel=fast"))

    // a half-written index (crash between the two staging appends)
    // fails fast instead of breaking replay safety
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/stream_idx/buckets"), true)
    val ie = intercept[IllegalArgumentException] {
      CorpusStreams.admitBatch(b2.toDF("doc_id", "text"),
        s"$tmp/stream_idx", "doc_id", "text")
    }
    assert(ie.getMessage.contains("inconsistent"))
  }

  test("corpus admission: size-gated rendezvous verify admits and stages what the forced carry does") {
    // admission's default verify is the forced carry (no pair-table
    // persist, no gate count job per micro-batch); a bulk-backfill
    // caller passes VerifyUseConf to restore the size gate. With the
    // gate at 0 that route is the two-phase rendezvous verify, and it
    // must make the same decisions and leave the same staged index.
    import spark.implicits._
    import graft.dedup.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("admit_routes").toString
    // 12 near-dup cliques (a base, its exact copy, two one-token
    // edits) plus 24 unique docs, split by id parity into two
    // half-batches: batch 1 drops a clique's edit c*100+2 as a
    // within-batch near-dup of its base when LSH pairs them; batch 2
    // drops c*100+1 (an exact copy of the staged base) and c*100+3
    val corpus = ((0 until 12).flatMap { c =>
      val toks = (0 until 10).map(i => s"w${c}_$i")
      Seq((c * 100L, toks.mkString(" ")),
        (c * 100L + 1L, toks.mkString(" ")),
        (c * 100L + 2L, toks.updated(3, s"x$c").mkString(" ")),
        (c * 100L + 3L, toks.updated(7, s"y$c").mkString(" ")))
    } ++ (0 until 24).map(u =>
      (10000L + u, (0 until 8).map(i => s"u${u}_$i").mkString(" "))))
      .toDF("doc_id", "text")
    val halves = Seq(corpus.filter($"doc_id" % 2 === 0),
      corpus.filter($"doc_id" % 2 === 1))
    def admitHalves(dir: String)(admit: (DataFrame, String) => DataFrame) =
      halves.map(b => admit(b, dir).select("doc_id").as[Long].collect().toSet)
    def staged(dir: String): (Set[Long], Long) = (
      spark.read.parquet(s"$dir/shingles").select("id").as[Long]
        .collect().toSet,
      spark.read.parquet(s"$dir/buckets").count())

    val carry = admitHalves(s"$tmp/carry")(
      CorpusStreams.admitBatch(_, _, "doc_id", "text"))
    val gated = withSQLConf(Dedup.RendezvousMinPairsConfKey -> "0") {
      admitHalves(s"$tmp/gated")(CorpusStreams.admitBatch(_, _, "doc_id",
        "text", verifyMinPairs = Dedup.VerifyUseConf))
    }
    // non-vacuous on both drop rules: every base survives batch 1 and
    // some edit does not (LSH recall decides which); every exact copy
    // of a staged base is dropped in batch 2, every unique doc admitted
    val bases = (0 until 12).map(_ * 100L).toSet
    assert(bases.subsetOf(carry(0)) && carry(0).size < 36)
    assert(carry(1) === (1 until 24 by 2).map(10000L + _).toSet)
    assert(gated === carry)
    assert(staged(s"$tmp/gated") === staged(s"$tmp/carry"))
    assert(staged(s"$tmp/carry")._1 === carry.reduce(_ ++ _))

    // the gated run really read the gate conf: a malformed value fails
    // on that route with the key named (the forced carry never reads it)
    val e = intercept[IllegalArgumentException] {
      withSQLConf(Dedup.RendezvousMinPairsConfKey -> "many") {
        CorpusStreams.admitBatch(halves.head, s"$tmp/bad", "doc_id", "text",
          verifyMinPairs = Dedup.VerifyUseConf)
      }
    }
    assert(e.getMessage.contains(Dedup.RendezvousMinPairsConfKey))
  }

  test("staged index repr: bootstrap stamps repr=xxh64; legacy string dirs keep working") {
    import spark.implicits._
    import graft.dedup.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("admit_repr").toString
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "completely different words about spark engines here today"))
    val b2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog tonite"),
      (21L, "rows stream into the admission gate for dedup checks"),
      (22L, "rows stream into the admission gate for dedup check"),
      (23L, "nothing resembles this sentence in the whole corpus"))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readParams(dir: String): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/_index_params"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }

    // NEW dir: bootstrap stamps repr=xxh64 and stages sorted longs —
    // the persistent-footprint form (~3-4× smaller than raw strings)
    val newIdx = s"$tmp/new_idx"
    CorpusStreams.admitBatch(b1.toDF("doc_id", "text"), newIdx,
      "doc_id", "text")
    assert(readParams(newIdx) === "n=2,k=16,bands=8,kernel=fast,repr=xxh64")
    assert(spark.read.parquet(s"$newIdx/shingles").schema("sh").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(spark.read.parquet(s"$newIdx/shingles").schema("sh").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.LongType)
    val newT2 = CorpusStreams.admitBatch(b2.toDF("doc_id", "text"), newIdx,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(newT2 === Set(21L, 23L))

    // LEGACY dir (pre-r13: raw string shingles, params without repr):
    // must admit the identical set, and its appends must STAY strings
    // so one parquet dir never mixes element types
    val legIdx = s"$tmp/leg_idx"
    val legBuilt = Dedup.minhashIndexView(b1.toDF("doc_id", "text"),
      "doc_id", "text")
    legBuilt.shingles.write.parquet(s"$legIdx/shingles")
    legBuilt.buckets.write.parquet(s"$legIdx/buckets")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$legIdx/_index_params"), true)
    try out.write("n=2,k=16,bands=8,kernel=fast\n".getBytes("UTF-8"))
    finally out.close()
    val legT2 = CorpusStreams.admitBatch(b2.toDF("doc_id", "text"), legIdx,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(legT2 === newT2,
      "representation must be invisible to admission decisions")
    assert(readParams(legIdx) === "n=2,k=16,bands=8,kernel=fast",
      "a legacy dir must not be silently re-stamped")
    assert(spark.read.parquet(s"$legIdx/shingles").schema("sh").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.StringType,
      "legacy dirs keep appending the string representation")

    // params lost on a hashed dir: the schema is self-describing, so
    // the repr is recovered (and re-stamped), never guessed wrong
    fs.delete(new org.apache.hadoop.fs.Path(s"$newIdx/_index_params"), false)
    val replay = CorpusStreams.admitBatch(b2.toDF("doc_id", "text"), newIdx,
      "doc_id", "text")
    assert(replay.count() === 0L, "re-delivery safety must survive recovery")
    assert(readParams(newIdx) === "n=2,k=16,bands=8,kernel=fast,repr=xxh64")
  }

  test("streaming as-of enrichment matches the batch as-of join") {
    val ev = graft.queries.Tables.eventsRaw(spark, sf)
    val dim = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(min("event_id").as("click_id"))
    val expected = graft.ops.TemporalJoins.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        dim, Seq("user_id"), "ts", "click_ts", Seq("click_id"))
      .select("event_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = EventStreams.enrichAsOfStream(
        EventStreams.readEventsStream(spark, sf)
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        dim, Seq("user_id"), "ts", "click_ts", Seq("click_id")) {
        (batch, _) =>
          got.synchronized {
            got ++= batch.select("event_id", "click_id").collect()
              .map(r => (r.getLong(0),
                if (r.isNullAt(1)) -1L else r.getLong(1)))
          }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        s"/tmp/graft_asof_ckpt_${System.nanoTime()}")
      .start()
    q.awaitTermination(120000)
    assert(got.toSet === expected)
    assert(got.nonEmpty)
  }

  test("streaming ingest gate: a poisoned micro-batch fails the stream before its rows land") {
    import spark.implicits._
    import graft.ops.Checks
    val tmp = java.nio.file.Files.createTempDirectory("gate_test").toString
    val docsDir = s"$tmp/docs"
    // file 1 is clean; file 2 carries a null id — with
    // maxFilesPerTrigger=1 they arrive as separate micro-batches
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s")
      .coalesce(1).write.parquet(docsDir)
    Seq[(java.lang.Long, String)]((3L, "gamma"), (null, "poisoned"))
      .toDF("id", "s")
      .coalesce(1).write.mode("append").parquet(docsDir)
    val landed = scala.collection.mutable.Set.empty[Long]
    val q = spark.readStream.schema("id LONG, s STRING")
      .option("maxFilesPerTrigger", "1").parquet(docsDir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // the gate runs BEFORE the sink: batch-atomic admission
        Checks.requirePass(b, Seq(
          Checks.Check("s_nonempty", coalesce(length(col("s")) === 0, lit(true)))),
          primaryKey = Some(("id_pk", Seq("id"))))
        landed.synchronized { landed ++= b.select("id").as[Long].collect() }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("id_pk (1 violations)")),
      s"gate failure should name the failing check, got: ${e.getMessage}")
    assert(landed.toSet === Set(1L, 2L),
      "the clean batch lands; NO row of the poisoned batch does")
  }

}
