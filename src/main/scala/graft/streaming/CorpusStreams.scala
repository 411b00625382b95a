package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Streaming corpus admission — the online face of the dedup kit: an
  * unbounded stream of candidate documents is admitted exactly when it
  * is a near-duplicate neither of anything ALREADY ADMITTED (probed via
  * the persistent MinHash index staging tables) nor of a lower-id
  * document in its own micro-batch (the SemDeDup pair rule —
  * deterministic, engine-replayable). Admitted documents append their
  * sketch rows to the index, so the only state the stream carries IS
  * the staged index: no in-memory state, restart-safe, and shared with
  * the batch incremental path ([[Dedup.incrementalMinhashPairs]] probes
  * the very same tables) — a backfill and the live stream cannot
  * disagree about what is a duplicate.
  *
  * Delivery semantics: the index is appended BEFORE the caller's sink
  * sees the admitted rows, which makes the SAFETY property (no near-dup
  * is ever admitted twice) hold even across micro-batch re-delivery —
  * a replayed batch finds its own docs in the index (a doc is its own
  * Jaccard-1.0 near-dup) and admits nothing. The cost is the usual
  * non-transactional-sink trade: a crash between index append and sink
  * commit can drop those rows from the SINK while they are in the
  * index; corpus building prefers that over duplicate admission.
  */
object CorpusStreams {

  /** One admission step (the foreachBatch body; callable directly for
    * backfills). Returns the admitted subset of `batch`, EAGERLY
    * materialized (localCheckpoint) before the index is appended, so
    * the returned frame is immune to the index mutation it precedes.
    * Ids must be unique within the batch and disjoint from every
    * previously ADMITTED id (standard for snapshot ingestion; a
    * replayed id is treated as its own near-dup and rejected, which is
    * the re-delivery safety property). Caveat: a doc with fewer than
    * `n` tokens has no shingles, is never indexed, and therefore has
    * NO re-delivery protection — replaying it admits it again. Filter
    * sub-n-token docs upstream if the source can re-deliver.
    *
    * `verifyMinPairs` routes the verify stage (see
    * [[Dedup.verifyRendezvous]]): the default forces the carry shape
    * WITHOUT the size gate's pair-table persist + count job — one
    * fewer scheduled job per micro-batch, the fixed cost that
    * dominates continuous ingest (SCALE.md r12) — and is correct by
    * contract for micro-batches, which sit far below the rendezvous
    * crossover. A BULK BACKFILL calling this directly with a
    * corpus-scale batch should pass [[Dedup.VerifyUseConf]] to
    * restore the measured size gate.
    */
  def admitBatch(batch: DataFrame, indexDir: String, idCol: String,
      textCol: String, n: Int = 2, k: Int = 16, bands: Int = 8,
      threshold: Double = 0.3, fastKernel: Boolean = true,
      verifyMinPairs: Long = Dedup.VerifyForceCarry): DataFrame = {
    val spark = batch.sparkSession
    val shPath = s"$indexDir/shingles"
    val bkPath = s"$indexDir/buckets"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(conf)
    // the two staging appends below are separate jobs, NOT atomic: a
    // crash between them leaves one table ahead of the other. Fail
    // FAST on that state instead of limping — with only the shingles
    // side present, a replayed batch reads a missing buckets path (or,
    // later, re-admits docs whose candidates can't form), silently
    // breaking the re-delivery property. (Production-scale streams
    // should stage through a transactional table format; this parquet
    // layout is the single-cluster shape.)
    val hasSh = fs.exists(new org.apache.hadoop.fs.Path(shPath))
    val hasBk = fs.exists(new org.apache.hadoop.fs.Path(bkPath))
    require(hasSh == hasBk,
      s"staged index at $indexDir is inconsistent (shingles=$hasSh, " +
        "buckets=" + hasBk + ") — a crash between the two staging " +
        "appends; repair or remove the index directory before resuming")
    val hasIndex = hasSh && hasBk
    // sketch parameters are part of the index's identity: probing a
    // k=16/bands=8 index with bands=4 band keys simply never collides,
    // so EVERY near-dup would be silently admitted. Persist them at
    // bootstrap and fail fast on mismatch ever after.
    // the kernel is part of the identity too: band keys from the two
    // kernels never collide, so probing a legacy-kernel index with
    // fast-kernel keys would silently admit every near-dup. The legacy
    // string (no kernel suffix) stays the md5-lex-min form so staged
    // indexes from before the round-12 fast-kernel default flip keep
    // validating — and a mixed probe fails fast on the param check.
    //
    // repr=xxh64 (r13) versions the STAGED SHINGLE REPRESENTATION:
    // new indexes stage sorted xxhash64 longs instead of raw shingle
    // strings. What this buys, measured (SCALE.md Round 13, 10×
    // tier): probe EXCHANGES ship the staged longs as-is (the ~3-4×
    // bytes win the r12 hashed-verify fix measured lives in shuffle
    // format, which is row-oriented LZ4), and a probe pays no
    // per-batch corpus-side re-hash of strings it already hashed at
    // admission. What it does NOT buy: at-rest parquet bytes —
    // dictionary encoding compresses repeated shingle STRINGS better
    // than incompressible hashes
    // (measured 4.0 MB str vs 4.5 MB xxh64 at the 10× tier), so the
    // staged footprint is ≈equal, not smaller; the win is probe-side.
    // Both representations verify correctly in-session
    // (every verify site schema-dispatches — Dedup.verifySh), so a
    // LEGACY string-format index keeps working AND keeps appending
    // strings (each dir stays internally one representation). The
    // stamp exists for the dangerous direction: an OLDER library
    // probing a hashed-format index would re-apply xxhash64 to the
    // staged longs and silently verify garbage — its exact-match
    // params check refuses this stamp first.
    val paramsPath = new org.apache.hadoop.fs.Path(s"$indexDir/_index_params")
    val baseParams = s"n=$n,k=$k,bands=$bands" +
      (if (fastKernel) ",kernel=fast" else "")
    val newParams = baseParams + ",repr=xxh64"
    val hashedRepr: Boolean = if (hasIndex && fs.exists(paramsPath)) {
      val in = fs.open(paramsPath)
      val actual = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      require(actual == newParams || actual == baseParams,
        s"staged index at $indexDir was built with ($actual) but this " +
          s"batch probes with ($newParams) — band keys from " +
          "different parameters never collide, so every near-dup would " +
          "be silently admitted")
      actual == newParams
    } else if (hasIndex) {
      // params file lost (pre-params-era dir or manual surgery): the
      // staged shingle SCHEMA is self-describing — recover the repr
      // from it rather than stamping a guess
      val isHashed =
        Dedup.isHashedShingles(spark.read.parquet(shPath).schema("sh").dataType)
      val out = fs.create(paramsPath, true)
      try out.write(((if (isHashed) newParams else baseParams) + "\n")
        .getBytes("UTF-8"))
      finally out.close()
      isHashed
    } else {
      val out = fs.create(paramsPath, true)
      try out.write((newParams + "\n").getBytes("UTF-8"))
      finally out.close()
      true
    }
    // the batch is sketched exactly ONCE: this index feeds the
    // within-batch pairing, the vs-corpus probe, AND the staging append
    val batchIdx = Dedup.minhashIndex(batch, idCol, textCol, n, k, bands,
      fastKernel)
    // ONE fused drop pass (Dedup.admissionDrops): a batch doc is
    // dropped when a qualifying neighbor is either already staged or a
    // lower-id doc of the same batch — set-identical to the r11 shape
    // (within-batch pair self-join + separate incremental probe + two
    // anti joins) but sharing one bucket join, one candidate dedupe
    // and one verify stage. Per-batch fixed cost is the term a
    // continuous ingest multiplies by batch count: measured 27 → 19
    // scheduled jobs (−30%) for the steady-state probe batch at the
    // 10× tier (bootstrap ties at 17 — no staged probe to fuse),
    // identical admitted set and staged index (SCALE.md Round 12; the
    // forced-carry vs size-gated equivalence is pinned in StreamingSpec).
    val staged =
      if (!hasIndex) None
      else Some(Dedup.MinhashIndex(
        spark.read.parquet(shPath), spark.read.parquet(bkPath)))
    val drops = Dedup.admissionDrops(batchIdx, staged, threshold,
        verifyMinPairs)
      .withColumnRenamed("id", idCol)
    val admitted = batch.join(drops, Seq(idCol), "left_anti")
    // materialize BEFORE the append: the anti join above lazily reads
    // the index files this step is about to grow
    val out = admitted.localCheckpoint(true)
    // stage the admitted rows' sketches by FILTERING the batch index —
    // no re-SHINGLE (the k-md5 sketch pass, the dominant CPU, runs
    // once in batchIdx). New-format dirs stage the hashed (sorted
    // xxhash64 long) form; legacy dirs keep appending strings so one
    // parquet dir never mixes element types. Honest cost note: the
    // hashShingles below IS one extra xxhash64+sort pass over the
    // admitted docs' string arrays — the verify's hashed projection
    // lives inside admissionDrops' own plan and is not shared here.
    // It is ~1% of the sketch pass (one xxhash64 per shingle vs k=16
    // md5/affine ops) and buys every FUTURE probe's corpus side
    // reading longs at rest; fusing the two plans to share the
    // projection would couple the verify's shape to the sink's for a
    // term that small.
    val admIds = out.select(col(idCol).as("id"))
    val stagedSh = batchIdx.shingles.join(admIds, Seq("id"), "left_semi")
    (if (hashedRepr)
       stagedSh.select(col("id"), Dedup.hashShingles(col("sh")).as("sh"))
     else stagedSh)
      .write.mode("append").parquet(shPath)
    batchIdx.buckets.join(admIds, Seq("id"), "left_semi")
      .write.mode("append").parquet(bkPath)
    graft.ops.StageCache.releaseAll()
    out
  }

  /** Stream driver: admission per micro-batch, admitted rows handed to
    * `onBatch` (write to the corpus sink there). Use
    * `Trigger.AvailableNow` for catch-up drains.
    */
  def admitStream(docs: DataFrame, indexDir: String, idCol: String,
      textCol: String, n: Int = 2, k: Int = 16, bands: Int = 8,
      threshold: Double = 0.3, fastKernel: Boolean = true)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      onBatch(admitBatch(b, indexDir, idCol, textCol, n, k, bands,
        threshold, fastKernel), id)
    }
}
