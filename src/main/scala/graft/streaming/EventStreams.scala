package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.Tables

/** Structured Streaming over the `events` table (extension beyond the
  * all-batch reference — SURVEY.md §2.13). Two canonical shapes:
  *
  *  - windowed aggregation with a watermark (late data bounded, state
  *    GC'd by the watermark — the only formulation that survives an
  *    unbounded stream);
  *  - gap-based sessionization with explicit state via
  *    flatMapGroupsWithState (KeyValueGroupedDataset custom state).
  *
  * Both have batch twins registered in SparkEntry (same transforms on a
  * static frame) so the DuckDB oracle covers the semantics; the
  * streaming execution path itself is exercised by StreamingSpec via a
  * memory sink.
  */
object EventStreams {

  /** The streaming source for an sf dir (schema must be explicit for
    * file streams).
    */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // same schema and `ts` normalisation as the batch read
    // (Tables.eventsRaw). SESSION-WIDE side effect, deliberately not
    // restored: the conf must hold when the lazy stream actually reads
    // its files, not just while this builder runs, and the harness
    // sessions (Bench/Verify/tests) already pin it at build time. A
    // caller embedding this in a session that batch-reads OTHER nano-
    // timestamp parquet afterward should be aware those columns will
    // surface as LongType too.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.schemaOf(spark, s"$sfDir/events.parquet")
    // file streams need a directory source; glob-filter to the one table
    Tables.microsTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Hourly per-type rollup. Works identically on a static frame (batch
    * twin `q_event_window`) and a stream (with watermark). Sums are
    * emitted as integer cents so results are accumulation-order-proof.
    */
  def hourlyRollup(events: DataFrame, streaming: Boolean): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", "1 hour") else events
    src
      .withColumn("cents", floor(col("value") * 100 + 0.5))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("value_cents"))
      .select(col("w.start").cast("string").as("hour_start"),
        col("event_type"), col("n"), col("value_cents"))
  }

  // timestamps carried as epoch MICROS (java.sql.Timestamp round-trips
  // would truncate to millis in the state encoder path)
  /** Streaming exact dedup: drop duplicate event_ids, with state
    * bounded by the watermark (the streaming twin of Dedup.exact —
    * unbounded-state dedup is the classic streaming footgun).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join — the canonical "attach dimension
    * attributes to a stream" shape. The static side is planned fresh
    * per micro-batch (so a slowly-changing dim picks up updates
    * between batches) and the broadcast keeps the stream side
    * shuffle-free: at cluster scale the events stream never
    * repartitions for the join.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream inner join: each purchase matched to the same
    * user's clicks in the preceding `windowHours` — the canonical
    * watermarked interval join (click-to-conversion attribution).
    * The time-range predicate plus both watermarks bound the join
    * state: rows older than watermark + window are GC'd, so state
    * stays O(window), not O(stream). Identical code runs on static
    * frames (batch twin `q_stream_join` pins semantics to the oracle).
    */
  def clickPurchaseJoin(events: DataFrame, windowHours: Int = 2,
      streaming: Boolean = true): DataFrame = {
    def side(df: DataFrame, tsCol: String) =
      if (streaming) df.withWatermark(tsCol, "1 hour") else df
    val clicks = side(events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts")), "click_ts")
    val purchases = side(events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts")),
      "purchase_ts")
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr(s"INTERVAL $windowHours HOURS"),
        "inner")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  case class Event(event_id: Long, ts_us: Long, user_id: Long)
  case class SessionState(sessionSeq: Int, lastTs: Long, n: Long, startTs: Long)
  case class SessionOut(user_id: Long, session_seq: Int, n_events: Long,
      start_us: Long, end_us: Long)

  /** Gap-based sessionization (30-minute inactivity closes a session)
    * via flatMapGroupsWithState. Emits closed sessions; the final
    * open session per user closes at the END OF EACH INVOCATION (the
    * whole input in batch mode; the micro-batch's slice of the key in
    * a real stream). That per-invocation close is what makes the
    * batch run equal the window-function twin (event-time timeouts
    * never fire under batch execution, so state parked across
    * invocations would never flush there) — but it means a
    * multi-micro-batch STREAM splits a session at every batch
    * boundary and restarts session_seq per batch. Drive streams with
    * Trigger.AvailableNow over complete inputs (the spec's shape); a
    * production incremental sessionizer wants EventTimeTimeout +
    * watermark flushing instead, at the price of diverging from the
    * batch twin.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      var out = List.empty[SessionOut]
      // sort within the (bounded) group — per-key batch semantics
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.getOrElse(SessionState(0, Long.MinValue, 0, 0))
      sorted.foreach { e =>
        val t = e.ts_us
        if (st.n == 0) {
          st = SessionState(1, t, 1, t)
        } else if (t - st.lastTs > gapUs) {
          out ::= SessionOut(userId, st.sessionSeq, st.n, st.startTs, st.lastTs)
          st = SessionState(st.sessionSeq + 1, t, 1, t)
        } else {
          st = st.copy(lastTs = t, n = st.n + 1)
        }
      }
      if (st.n > 0) {
        // close the trailing session (batch-over-stream test semantics)
        out ::= SessionOut(userId, st.sessionSeq, st.n, st.startTs, st.lastTs)
        state.remove()
      } else {
        state.update(st)
      }
      out.reverseIterator
    }

    events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
      .toDF()
      .select(col("user_id"), col("session_seq"), col("n_events"),
        timestamp_micros(col("start_us")).as("start_ts"),
        timestamp_micros(col("end_us")).as("end_ts"))
  }

  /** Streaming CDC apply: maintain a latest-wins keyed snapshot from a
    * change stream. Each micro-batch is first collapsed to one row per
    * key ([[graft.ops.Relational.keepFirst]] by version desc), then
    * merged onto the current snapshot ([[graft.ops.Relational.upsert]])
    * and the result swapped in atomically (write `_tmp`, rename —
    * readers see the old or the new snapshot, never a partial one).
    *
    * Idempotence = exactly-once effect: foreachBatch re-delivers a
    * micro-batch after a failure, but latest-wins-by-version is a
    * commutative/idempotent merge, so re-applying a batch (or applying
    * overlapping batches out of order, as long as versions are
    * monotone per key) converges to the same snapshot. This is the
    * standard exactly-once recipe for a non-transactional sink.
    *
    * Use with `Trigger.AvailableNow` for catch-up runs (drain the
    * backlog, then stop) or a processing-time trigger for continuous
    * apply.
    */
  /** Stream enrichment by AS-OF lookup: every micro-batch of the fact
    * stream is matched to the latest dimension row at-or-before each
    * event's time through [[graft.ops.TemporalJoins.asofJoinBroadcast]]
    * — the dimension (rates, config versions) is re-fetched per batch,
    * so a slowly-changing dim picks up updates between batches, and
    * the STREAM side never shuffles: each micro-batch is a map-only
    * binary search into the broadcast time index. `sink` receives the
    * enriched batch (write it, publish it); trigger/checkpoint are the
    * caller's to configure on the returned writer.
    */
  def enrichAsOfStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      rightCols: Seq[String])(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      // the broadcast index is per-batch; destroy it once the sink's
      // action completes, or a long-running stream accumulates one
      // broadcast per micro-batch on the driver and executors
      val (enriched, bc) = graft.ops.TemporalJoins.asofJoinBroadcastHandle(
        b, dim, keys, leftTime, rightTime, rightCols)
      try sink(enriched, id) finally bc.destroy()
    }

  def applyCdc(changes: DataFrame, snapshotDir: String, keys: Seq[String],
      versionCol: String)(batch: (DataFrame, Long) => Unit = null)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      applyCdcBatch(b, snapshotDir, keys, versionCol)
      if (batch != null) batch(b, id)
    }

  /** One CDC merge step (the foreachBatch body, callable from batch
    * jobs for backfills).
    */
  def applyCdcBatch(b: DataFrame, snapshotDir: String, keys: Seq[String],
      versionCol: String): Unit = {
    val spark = b.sparkSession
    // version desc only: the keys are the window's PARTITION columns,
    // so appending them as tiebreakers is a no-op — two same-batch
    // rows with equal (keys, version) are indistinguishable and the
    // winner is partitioning-dependent. The contract is therefore the
    // same as upsert's: a batch must be unique per (keys, version)
    // (true CDC feeds are; pre-dedupe otherwise), or replay is not
    // idempotent.
    val batchLatest = graft.ops.Relational.keepFirst(b, keys,
      Seq(col(versionCol).desc))
    val conf = spark.sparkContext.hadoopConfiguration
    // derive tmp/old as SIBLINGS via Path (which normalizes trailing
    // slashes): raw string concat on "/data/snap/" would create
    // _tmp/_old as CHILDREN of the live dir, and the swap rename of a
    // directory into its own descendant fails on every batch
    val path = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = path.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path.getParent, path.getName + "_tmp")
    val old = new org.apache.hadoop.fs.Path(path.getParent, path.getName + "_old")
    // CRASH RECOVERY before anything reads the snapshot: a crash
    // between the two swap renames leaves live missing while _old
    // holds the complete prior snapshot — restore it, or this merge
    // would silently drop every key not present in the current batch.
    // (_old alongside a live dir is the other crash window — after the
    // second rename, before the delete — and live is already complete
    // there, so _old really is leftover and dies below.)
    if (!fs.exists(path) && fs.exists(old) && !fs.rename(old, path))
      throw new java.io.IOException(
        s"CDC snapshot recovery failed: $old -> $path")
    val merged =
      if (fs.exists(path))
        graft.ops.Relational.upsert(
          spark.read.parquet(snapshotDir), batchLatest, keys, versionCol)
      else batchLatest
    // materialize BEFORE touching the live dir (merged lazily reads it)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // Swap via rename-aside so a live snapshot exists at every instant
    // except the sub-ms between the two renames, and a crash anywhere
    // leaves a recoverable full copy (_old or _tmp) rather than none:
    //   live -> _old; _tmp -> live; delete _old.
    if (fs.exists(old)) fs.delete(old, true) // leftover from a prior crash
    val hadLive = fs.exists(path)
    if (hadLive && !fs.rename(path, old))
      throw new java.io.IOException(s"CDC snapshot swap failed: $path -> $old")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"CDC snapshot swap failed: $tmp -> $path")
    if (hadLive) fs.delete(old, true)
  }
}
