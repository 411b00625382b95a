package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Library usage sample (also the runtime drive for combinators that
  * aren't registered as fixture queries). Prints a few end-to-end
  * results a new user would try first.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // skew-resistant join, incl. left-join orphan semantics
    val fact = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (9L, "orphan"))
      .toDF("k", "payload")
    val dim = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "attr")
    val inner = Relational.saltedJoin(fact, dim, "k", salts = 4)
    val left = Relational.saltedJoin(fact, dim, "k", salts = 4, "left")
    println(s"saltedJoin inner rows=${inner.count()} (expect 4)")
    println(s"saltedJoin left rows=${left.count()} (expect 5)")
    println("orphan rows under left salting: " +
      left.filter(col("payload") === "orphan").count() + " (expect 1, attr null: " +
      left.filter(col("payload") === "orphan" && col("attr").isNull).count() + ")")

    // fuzzy match from SQL: every session carries the graft functions
    spark.sql("SELECT jaro_winkler('MARTHA','MARHTA') AS jw").show(false)

    // business-day calendar (driver-side, reference dds/dhs pipelines)
    val fri = java.time.LocalDate.of(2026, 8, 14)
    println(s"addBusinessDays($fri, 3) = " +
      graft.time.BusinessCalendar.addBusinessDays(fri, 3) + " (expect Wed 8/19)")
    println("nextBusinessWeek = " + graft.time.BusinessCalendar.nextBusinessWeek(fri))

    // fail-fast gate: passes silently on a clean frame, throws with a
    // row preview otherwise
    Relational.requireEmpty(dim.filter(col("attr").isNull), "null dim attrs")
    try Relational.requireEmpty(fact, "demo: fact rows exist")
    catch { case e: IllegalStateException =>
      println("requireEmpty threw as expected: " + e.getMessage.linesIterator.next()) }

    // frame diff (check_masked-style audit)
    println(graft.ops.Frames.dfCompare(fact, dim).report)

    // near-dup clusters from a pair list (transitive closure)
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("id_a", "id_b")
    graft.dedup.Dedup.clusters(pairs).orderBy("id").show(false)

    // round 3: latest-wins upsert (CDC / corpus refresh)
    val base = Seq((1L, 1, "a"), (2L, 1, "b")).toDF("k", "ver", "v")
    val upd = Seq((2L, 2, "B"), (3L, 2, "C")).toDF("k", "ver", "v")
    Relational.upsert(base, upd, Seq("k"), "ver").orderBy("k").show(false)

    // round 3: one-pass column profile (ingest data-quality screen)
    graft.ops.Profiler.profile(fact, Seq("k", "payload")).show(false)

    // round 3: z-order layout value — sort by z before writing to get
    // 2-D zone-map pruning
    fact.select(col("k"),
      graft.functions.ZOrder.zvalue(col("k"), length(col("payload")).cast("long"))
        .as("z")).orderBy("z").show(false)

    // round 5: input-freshness guard (reference files.warn_file_age) —
    // warns on stderr for stale inputs, returns the age for hard gates
    val f = java.nio.file.Files.createTempFile("demo_input", ".csv")
    java.nio.file.Files.writeString(f, "a,b\n1,2\n")
    val age = graft.sources.Freshness.warnFileAge(spark, f.toString)
    println(s"freshness: ageMillis=${age.ageMillis} stale=${age.stale} (expect fresh)")

    // round 5: apply dedup decisions — one representative per cluster
    graft.dedup.Dedup.applyClusters(fact.withColumnRenamed("k", "id"),
      graft.dedup.Dedup.clusters(pairs), "id").orderBy("id").show(false)

    // round 6: token-budget mixing — cap each source in TOKENS, md5
    // admission order; the doc that would cross the budget drops whole
    val mix = Seq((1L, "s1", 400L), (2L, "s1", 500L), (3L, "s1", 200L))
      .toDF("id", "src", "w")
    graft.text.Sampling.tokenBudget(mix, Seq("src"), Seq(col("id")), "w",
      budget = 1000).orderBy("id").show(false)

    // round 6: streaming corpus admission — day 2 probes the index day
    // 1 staged, so the recrawled near-dup is rejected
    val idxDir = java.nio.file.Files.createTempDirectory("demo_idx").toString
    val day1 = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val day2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog today"),
      (21L, "entirely new material about spark physical plans"))
      .toDF("doc_id", "text")
    println("day1 admitted=" + graft.streaming.CorpusStreams
      .admitBatch(day1, idxDir, "doc_id", "text").count() + " (expect 1)")
    println("day2 admitted=" + graft.streaming.CorpusStreams
      .admitBatch(day2, idxDir, "doc_id", "text").count() +
      " (expect 1: the recrawl near-dups day 1)")

    // round 6: hot-block edit-distance pairing auto-subsplit by length
    val names = Seq((1L, "blk", "kitten"), (2L, "blk", "sitten"),
      (3L, "blk", "kettle"), (4L, "blk", "bucket")).toDF("id", "b", "s")
    Relational.editDistancePairsBucketed(names, "id", "b", "s", maxDist = 2)
      .orderBy("key_a", "key_b").show(false)

    // round 6: ExactSubstr apply — the verbatim copy empties, the
    // owner keeps everything, the near-copy keeps only its change
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"))
      .toDF("doc_id", "text")
    graft.dedup.Dedup.removeDuplicateSpans(corpus, "doc_id", "text", w = 4)
      .orderBy("doc_id").show(false)

    // round 6: exact-integer PageRank — a 2-cycle is a fixed point
    val ring = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    graft.ops.Graph.pageRank(ring, "src", "dst", "w", iters = 3)
      .orderBy("node").show(false)

    // round 6: fan-out guard — the non-unique dim aborts with the key
    val dupDim = Seq((1L, "X"), (1L, "X2")).toDF("k", "name")
    try { Relational.guardedLeftJoin(fact, dupDim, "k").collect()
      println("UNEXPECTED: guard passed") }
    catch { case _: Exception =>
      println("guardedLeftJoin threw as expected") }

    // round 6 tail: anti-entropy fingerprint — same rows, any order /
    // partitioning, same three BIGINTs; one flipped value changes them
    val t1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val fp1 = graft.ops.Frames.tableChecksum(t1, Seq("k", "v")).collect()(0)
    val fp2 = graft.ops.Frames.tableChecksum(
      t1.orderBy(col("k").desc).repartition(3), Seq("k", "v")).collect()(0)
    println(s"tableChecksum stable across layout: ${fp1 == fp2} (expect true)")

    // round 6 tail: SCD2 collapse — A,A,B folds to two intervals
    val snaps = Seq((1L, 2001, "A"), (1L, 2002, "A"), (1L, 2003, "B"))
      .toDF("k", "ver", "attr")
    graft.ops.Frames.scd2(snaps, Seq("k"), Seq("attr"), "ver")
      .orderBy("valid_from").show(false)

    // round 6 tail: containment catches the embedded quote Jaccard misses
    val cdocs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a long article begins here the quick brown fox jumps and " +
        "then continues with many more unrelated tokens after that end"))
      .toDF("id", "txt").withColumn("blk", lit(1))
    graft.dedup.Dedup.containmentPairs(cdocs, "id", "txt", Seq("blk"),
      n = 2, minContPpm = 900000L).show(false)

    spark.stop()
  }
}
