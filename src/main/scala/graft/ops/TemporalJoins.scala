package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-keyed joins Spark has no built-in operator for: as-of (latest
  * right row at-or-before each left row) and interval/range joins.
  *
  * Both are written so the 100 TB plan is one equi-shuffle, never a
  * range cross-product:
  *
  *  - `asofJoin` is the union-and-scan formulation: tag both sides,
  *    union, ONE window over (keys, time) carrying the right payload
  *    forward with `last(ignoreNulls)`. Cost = one shuffle on the keys
  *    + a linear in-partition scan — the same shape as a sorted-merge
  *    as-of in a native engine, with no per-left-row range probe.
  *  - `rangeJoinBinned` buckets time into fixed bins: each interval
  *    emits one row per bin it overlaps, each point lands in exactly
  *    one bin, and the bin becomes an equi-join key (candidates share
  *    a bin; an exact filter finishes). Fanout is bounded by
  *    interval_length/bin + 1 per interval — pick `binSeconds` near
  *    the typical interval length so most intervals emit 1–2 rows.
  */
object TemporalJoins {

  /** Left as-of join: for every left row, the single latest right row
    * with the same `keys` and `rightTime` <= `leftTime` (ties on time
    * include the right row — ">=" semantics, matching SQL ASOF JOIN).
    * Left rows with no preceding right row keep nulls in `rightCols`.
    *
    * `rightCols` are the right-side payload columns to carry (they must
    * not collide with left column names; `rightTime` may be listed to
    * carry the matched time). The right side must be unique per
    * (keys, rightTime) — pre-aggregate duplicates or the carried
    * payload is nondeterministic. Right rows with a null `rightTime`
    * are dropped (a null event time matches nothing). The payload is
    * carried as ONE struct per right row, so a legitimately-null field
    * in the matched row stays null — it is never back-filled from an
    * older right row, and all carried fields always come from the SAME
    * matched row (SQL ASOF JOIN semantics).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightCols: Seq[String]): DataFrame = {
    val collisions = rightCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"rightCols collide with left columns: ${collisions.mkString(", ")}")
    val leftPayload = left.columns.filterNot(keys.contains).toSeq
    val payloadType = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(right.schema.fieldIndex(c))))
    // Right rows sort BEFORE left rows at equal time (__side 0 < 1), so
    // an exactly-simultaneous right row is visible to the left row.
    val lPart = left.select(
      keys.map(col) ++ leftPayload.map(col) ++
        Seq(col(leftTime).as("__t"), lit(1).as("__side"),
          lit(null).cast(payloadType).as("__rpay")): _*)
    val rPart = right.filter(col(rightTime).isNotNull).select(
      keys.map(col) ++
        leftPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col(rightTime).as("__t"), lit(0).as("__side"),
          struct(rightCols.map(col): _*).as("__rpay")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The struct itself is non-null iff SOME right row precedes, so
    // last(ignoreNulls) finds the matched row; its fields then expand
    // verbatim (nulls included).
    lPart.unionByName(rPart)
      .select(
        keys.map(col) ++ leftPayload.map(col) ++ Seq(col("__side"),
          last(col("__rpay"), ignoreNulls = true).over(w).as("__rpay")): _*)
      .filter(col("__side") === 1)
      .select(
        keys.map(col) ++ leftPayload.map(col) ++
          rightCols.map(c => col("__rpay").getField(c).as(c)): _*)
  }

  /** [[asofJoin]] planned through the NATIVE physical operator
    * ([[graft.plans.AsOfJoinExec]]): same contract and answer (spec-
    * pinned equivalent), but each side shuffles once on its own keys
    * and a per-partition O(1)-state merge replaces the union + window
    * scan — no padded union rows cross the wire. The planner strategy
    * reaches every session through [[graft.GraftExtensionsProvider]].
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightCols: Seq[String],
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
      Cast, Expression, UnaryMinus, UnixMicros}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    require(keys.nonEmpty, "asofJoinNative requires at least one key")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val collisions = rightCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"rightCols collide with left columns: ${collisions.mkString(", ")}")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // re-alias the right side so a self-join (both sides scanning the
    // same relation) cannot carry duplicate attribute ids into the
    // hand-built node — the same dedup the analyzer does for Join
    val rPlan0 = right.queryExecution.analyzed
    val rAliases = rPlan0.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rPlan0)
    val rOut = rAliases.map(_.toAttribute)
    def pick(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column not found: $n"))
    // forward as-of (EARLIEST right at-or-after) = backward as-of on
    // the NEGATED time axis — the merge exec orders and compares by
    // these expressions, the carried payload keeps original values
    def timeExpr(a: Attribute): Expression =
      if (direction == "backward") a
      else a.dataType match {
        case TimestampType => UnaryMinus(UnixMicros(a), false)
        case TimestampNTZType => UnaryMinus(UnixMicros(Cast(a,
          TimestampType,
          Some(spark.sessionState.conf.sessionLocalTimeZone))), false)
        case _ => UnaryMinus(a, false)
      }
    // the physical merge compares raw UnsafeRow fields with orderings
    // built from the LEFT types only — mismatched key/time types would
    // compare garbage silently, so fail fast here
    val lk = keys.map(pick(lPlan.output, _))
    val rk = keys.map(pick(rOut, _))
    lk.zip(rk).zip(keys).foreach { case ((a, b), n) =>
      require(org.apache.spark.sql.types.DataType
        .equalsStructurally(a.dataType, b.dataType, ignoreNullability = true),
        s"asofJoinNative key '$n' type mismatch: " +
          s"left ${a.dataType.sql} vs right ${b.dataType.sql}")
    }
    val lt = timeExpr(pick(lPlan.output, leftTime))
    val rt = timeExpr(pick(rOut, rightTime))
    require(org.apache.spark.sql.types.DataType
      .equalsStructurally(lt.dataType, rt.dataType, ignoreNullability = true),
      s"asofJoinNative time type mismatch: " +
        s"$leftTime ${lt.dataType.sql} vs $rightTime ${rt.dataType.sql}")
    org.apache.spark.sql.GraftShim.ofRows(spark, graft.plans.AsOfJoinPlan(
      lPlan, rPlan, lk, rk, lt, rt, rightCols.map(pick(rOut, _))))
  }

  /** [[asofJoin]] for the fact-times-small-dimension shape: the right
    * side (a slowly-changing dimension keyed by (keys, time) — fx
    * rates, config versions, price lists) is collected ONCE, sorted
    * per key, and broadcast; each left row then binary-searches the
    * key's time index. The left side is never shuffled, sorted, or
    * widened — at 100 TB this is the difference between a map-only
    * stage and repartitioning the whole fact table, the same decision
    * broadcast-hash vs sort-merge encodes for equi joins. Same
    * contract and answer as [[asofJoin]] (spec-pinned): right unique
    * per (keys, time), null right times dropped, null left times
    * match nothing, null keys group together.
    *
    * `maxRightRows` bounds the driver collect: one take(cap+1) pulls
    * at most one projected row past the broadcast payload the call
    * was about to build, then fails fast — a too-big broadcast should
    * be an explicit decision, not an OOM, and the default cap is
    * sized so the bounded overshoot is harmless.
    * NOTE: the default cap was tightened from 10M to 1M rows — a
    * dimension in the 1M–10M band that previously broadcast by
    * default now needs an explicit `maxRightRows` (or asofJoinNative,
    * which is the right plan at that size anyway).
    *
    * `direction`: "backward" (latest right at-or-before, the default)
    * or "forward" (earliest right at-or-after) — same contract as
    * [[asofJoinNative]]'s direction, exact-time ties inclusive both
    * ways.
    */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightCols: Seq[String],
      maxRightRows: Long = 1000000L,
      direction: String = "backward"): DataFrame =
    asofJoinBroadcastHandle(left, right, keys, leftTime, rightTime,
      rightCols, maxRightRows, direction)._1

  /** [[asofJoinBroadcast]] exposing the broadcast it created, so
    * per-micro-batch callers (enrichAsOfStream) can `destroy()` it
    * after the batch action completes instead of accumulating one
    * broadcast per batch for the life of the stream.
    */
  private[graft] def asofJoinBroadcastHandle(left: DataFrame,
      right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightCols: Seq[String],
      maxRightRows: Long = 1000000L,
      direction: String = "backward")
      : (DataFrame, org.apache.spark.broadcast.Broadcast[_]) = {
    import org.apache.spark.sql.Row
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val fwd = direction == "forward"
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
      StructField, StructType, TimestampNTZType, TimestampType}
    val collisions = rightCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"rightCols collide with left columns: ${collisions.mkString(", ")}")
    val spark = left.sparkSession
    // both times to one comparable long (epoch micros / days / raw)
    def timeKey(df: DataFrame, c: String): Column =
      df.schema(c).dataType match {
        case TimestampType => unix_micros(col(c))
        case TimestampNTZType => unix_micros(col(c).cast("timestamp"))
        case DateType => datediff(col(c), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
        case LongType | IntegerType => col(c).cast("long")
        case dt => throw new IllegalArgumentException(
          s"unsupported time type for $c: $dt")
      }
    def timeUnit(df: DataFrame, c: String): String =
      df.schema(c).dataType match {
        case TimestampType | TimestampNTZType => "micros"
        case DateType => "days"
        case _ => "raw"
      }
    require(timeUnit(left, leftTime) == timeUnit(right, rightTime),
      s"incomparable time units: $leftTime is ${timeUnit(left, leftTime)}, " +
        s"$rightTime is ${timeUnit(right, rightTime)}")
    require(maxRightRows > 0 && maxRightRows < Int.MaxValue,
      s"maxRightRows out of range: $maxRightRows")
    // ONE bounded action enforces the cap: take(cap+1) fetches
    // partitions incrementally and stops at cap+1 projected rows, so
    // the driver never holds more than one row past the broadcast
    // payload it was about to build anyway (the cap default is sized
    // for that). A separate pre-count would either evaluate an
    // uncached computed dimension twice per call — every micro-batch,
    // via enrichAsOfStream — or, persisted, unroll full wide
    // partitions into the cache just to fail the oversized case.
    val rRows = right.filter(col(rightTime).isNotNull)
      .withColumn("__t_us", timeKey(right, rightTime))
      .select(((keys :+ "__t_us") ++ rightCols).map(col): _*)
      .take(maxRightRows.toInt + 1)
    require(rRows.length <= maxRightRows,
      s"right side exceeds maxRightRows=$maxRightRows — " +
        "use asofJoinNative (shuffle merge) for a large right side")
    val k = keys.length
    // per key: time-sorted parallel arrays (times, payload rows)
    val index: Map[Seq[Any], (Array[Long], Array[Seq[Any]])] =
      rRows.toSeq.groupBy(r => Seq.tabulate(k)(r.get))
        .map { case (key, rows) =>
          val sorted = rows.sortBy(_.getLong(k))
          (key, (sorted.map(_.getLong(k)).toArray,
            sorted.map(r => Seq.tabulate(rightCols.length)(i =>
              r.get(k + 1 + i))).toArray))
        }
    val bIndex = spark.sparkContext.broadcast(index)
    val leftKeyed = left.withColumn("__t_us",
      when(col(leftTime).isNotNull, timeKey(left, leftTime)))
    val lSchema = leftKeyed.schema
    val keyIdx = keys.map(lSchema.fieldIndex)
    val tIdx = lSchema.fieldIndex("__t_us")
    val nOut = rightCols.length
    val outSchema = StructType(left.schema.fields ++
      rightCols.map(c => StructField(c,
        right.schema(right.schema.fieldIndex(c)).dataType, nullable = true)))
    val nLeft = left.schema.fields.length
    val outRdd = leftKeyed.rdd.mapPartitions { it =>
      val idx = bIndex.value
      it.map { row =>
        val payload: Seq[Any] =
          if (row.isNullAt(tIdx)) Seq.fill(nOut)(null)
          else idx.get(keyIdx.map(row.get)) match {
            case None => Seq.fill(nOut)(null)
            case Some((times, payloads)) =>
              val t = row.getLong(tIdx)
              val pos = java.util.Arrays.binarySearch(times, t)
              // exact hit is tie-inclusive in both directions; a miss
              // takes the floor (backward: latest <= t) or the
              // insertion point (forward: earliest >= t)
              val at =
                if (pos >= 0) pos
                else if (fwd) -(pos + 1)
                else -(pos + 1) - 1
              if (at < 0 || at >= times.length) Seq.fill(nOut)(null)
              else payloads(at)
          }
        Row.fromSeq(Seq.tabulate(nLeft)(row.get) ++ payload)
      }
    }
    (spark.createDataFrame(outRdd, outSchema), bIndex)
  }

  /** Inner range join: rows of `points` whose `pointCol` timestamp
    * falls in [startCol, endCol) of an interval. Column sets of the
    * two frames must be disjoint. Degenerate intervals (end <= start)
    * contain no points by definition and are dropped up front — without
    * that guard `sequence(a, b)` with a > b emits a DESCENDING bin
    * range, fanning one bad row out across the whole reversed span.
    */
  def rangeJoinBinned(intervals: DataFrame, startCol: String, endCol: String,
      points: DataFrame, pointCol: String, binSeconds: Long): DataFrame = {
    require(binSeconds > 0, s"binSeconds must be positive (got $binSeconds)")
    val binUs = binSeconds * 1000000L
    // Bin keys are internal: NTZ inputs are cast to TIMESTAMP (session
    // tz) only to get a consistent epoch; the exact containment filter
    // below compares the ORIGINAL columns, so the cast can't change
    // which rows match.
    def micros(c: Column): Column = unix_micros(c.cast("timestamp"))
    val iv = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__bin", explode(sequence(
      floor(micros(col(startCol)) / binUs),
      floor((micros(col(endCol)) - 1) / binUs))))
    val pt = points.withColumn("__bin", floor(micros(col(pointCol)) / binUs))
    iv.join(pt, Seq("__bin"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__bin")
  }

  /** LEFT range join: [[rangeJoinBinned]] plus the intervals that
    * contain NO point, padded with nulls on the point side — the
    * "every campaign window, even dead ones" report. `ivIdCol` must
    * uniquely identify interval rows (left-join multiplicity needs an
    * identity; binning destroys positional identity). Shape: the
    * binned inner join + one bare-id anti join — the unmatched pass
    * carries only ids across the wire, never the interval payload.
    */
  def rangeJoinBinnedLeft(intervals: DataFrame, ivIdCol: String,
      startCol: String, endCol: String, points: DataFrame,
      pointCol: String, binSeconds: Long): DataFrame = {
    val inner = rangeJoinBinned(intervals, startCol, endCol, points,
      pointCol, binSeconds)
    val matched = inner.select(col(ivIdCol)).distinct()
    val unmatched = intervals
      .join(matched, Seq(ivIdCol), "left_anti")
    val padded = points.schema.fields.foldLeft(unmatched) { (df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    inner.unionByName(padded.select(inner.columns.map(col): _*))
  }

  /** Inner interval-OVERLAP join: pairs of rows (one from `a`, one from
    * `b`) sharing `keys` whose half-open micro-epoch intervals
    * [aStart, aEnd) and [bStart, bEnd) intersect — the both-sides-
    * are-intervals complement to [[rangeJoinBinned]] (telemetry
    * overlap, shift/session intersection, conflict detection). All four
    * bound columns are LONG epoch-microseconds (build them with
    * `unix_micros`); non-key column sets must be disjoint.
    *
    * Scale shape: the same fixed-bin trick as [[rangeJoinBinned]] —
    * each interval emits one row per `binMicros` bin it touches and
    * candidates meet on the (keys, bin) EQUI key, so there is never a
    * range cross-product; fanout per row is length/bin + 1. The classic
    * hazard of binned overlap joins — a pair meeting in EVERY shared
    * bin and needing an expensive DISTINCT — is eliminated by the
    * first-common-bin gate: a qualifying pair is kept only in the bin
    * containing max(aStart, bStart), which overlap guarantees lies in
    * both bin ranges, so each pair is emitted exactly once with no
    * dedup pass. Degenerate (empty) intervals are dropped up front,
    * like rangeJoinBinned.
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      binMicros: Long): DataFrame = {
    require(binMicros > 0, s"binMicros must be positive (got $binMicros)")
    val collisions = (a.columns.toSet -- keys).intersect(
      b.columns.toSet -- keys)
    require(collisions.isEmpty,
      s"non-key columns collide between sides: ${collisions.mkString(", ")}")
    def bins(s: String, e: String): Column =
      sequence(floor(col(s) / binMicros), floor((col(e) - 1) / binMicros))
    val av = a.filter(col(aEnd) > col(aStart))
      .withColumn("__bin", explode(bins(aStart, aEnd)))
    val bv = b.filter(col(bEnd) > col(bStart))
      .withColumn("__bin", explode(bins(bStart, bEnd)))
    av.join(bv, keys :+ "__bin")
      .filter(col(aStart) < col(bEnd) && col(bStart) < col(aEnd))
      .filter(col("__bin") ===
        floor(greatest(col(aStart), col(bStart)) / binMicros))
      .drop("__bin")
  }
}
