package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression tests: the scale properties audited by hand
  * via graft.Explain, pinned so a refactor can't silently regress them.
  * Assertions use only stable plan-node names (TakeOrderedAndProject,
  * SortMergeJoin, PushedFilters), not expression internals.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("top-k plans TakeOrderedAndProject, never a global sort+limit") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("flagship joins broadcast their dimension sides (no SortMergeJoin)") {
    for (q <- Seq("q_delinquent", "q_join_left", "q_join_inner", "q_fuzzy_join")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SortMergeJoin")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q has no broadcast join")
    }
  }

  test("parquet scans push filters down") {
    val p = plan("q_filter_conj")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "filter did not reach the parquet scan")
  }

  test("column pruning reaches the scan (ReadSchema is narrow)") {
    // q_select_rename projects 4 of customer's columns; the scan must
    // not read the whole row
    val p = plan("q_select_rename")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.nonEmpty && !read.contains("c_mktsegment"),
      s"scan reads unprojected columns: $read")
  }

  test("IVF fine search joins on cell with no corpus Exchange before it") {
    // cell assignment is a map-side projection, so the join's INPUT
    // subtrees (printed BELOW the join line in the formatted tree)
    // must contain no shuffle Exchange — only the BroadcastExchange
    // of the (small) query side
    val p = plan("q_ann_ivf")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    val belowJoin = tree.substring(tree.indexOf("BroadcastHashJoin"))
    val shuffles = belowJoin.linesIterator
      .filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toSeq
    assert(shuffles.isEmpty,
      s"corpus shuffles before the IVF fine-search join: $shuffles")
  }

  test("vocab top-k plans TakeOrderedAndProject over a partial+final agg") {
    val p = plan("q_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      "vocab limit fell back to a global sort")
    assert(p.linesIterator.count(_.trim.matches("\\(\\d+\\) HashAggregate.*")) +
      p.linesIterator.count(_.trim.startsWith("+- HashAggregate")) >= 2 ||
      p.contains("partial_count"), "expected map-side partial aggregation")
  }

  test("bucketed join runs with no shuffle exchange on either side") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan("q_bucketed_join")
      // the only exchange allowed is the one ABOVE the join feeding the
      // final groupBy(c_mktsegment); the join inputs read bucketed files
      val joinAt = p.indexOf("SortMergeJoin")
      assert(joinAt >= 0, "bucketed join should sort-merge bucket-to-bucket")
      val tree = p.substring(0, p.indexOf("\n(1) "))
      val belowJoin = tree.substring(tree.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange"),
        "bucketed join inputs still shuffle — bucket metadata not used")
    }
  }

  test("incremental dedup anti-join carries digests, not documents") {
    val p = plan("q_incremental_dedup")
    assert(p.contains("LeftAnti"), "expected an anti join")
    // the anti join's build side must project only the digest (md5),
    // never the text column
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("text"), "sanity: scans read text to digest it")
    // count shuffle exchanges in the TREE section only (the formatted
    // output repeats each node in the numbered detail section);
    // broadcast exchanges are fine — the digest index is tiny relative
    // to documents. The one allowed shuffle is the final orderBy.
    val tree = p.substring(0, p.indexOf("\n(1) "))
    val shuffles = tree.linesIterator
      .filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).size
    assert(shuffles <= 1, s"too many shuffles in anti-join plan: $shuffles")
  }

  test("kmeans step assigns cells map-side: no join, agg directly over the scan") {
    val p = plan("q_kmeans_step")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    assert(!tree.contains("Join"), "cell assignment should not join pivots")
    // exactly two shuffles: the (cell,dim) agg and the final sort
    val shuffles = tree.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 2, s"expected agg+sort shuffles only, got $shuffles")
  }

  test("mixture sample broadcasts the rates and gates map-side") {
    val p = plan("q_mixture_sample")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    assert(tree.contains("BroadcastHashJoin"),
      "per-source rates should broadcast, not shuffle the corpus")
  }

  test("cube expands before the exchange (partial agg per grouping set)") {
    val p = plan("q_cube")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    val lines = tree.linesIterator.toSeq
    val expandAt = lines.indexWhere(_.contains("Expand"))
    val exchangeAt = lines.lastIndexWhere(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(expandAt > exchangeAt,
      "Expand must sit below the shuffle (deeper in the tree prints later)")
    assert(lines.count(_.trim.matches(".*HashAggregate.*")) >= 2,
      "expected partial+final aggregation around the cube shuffle")
  }

  test("salted join replicates the dim inside the broadcast side") {
    val p = plan("q_salted_join")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    val bAt = tree.indexOf("BroadcastExchange")
    assert(bAt >= 0 && tree.indexOf("Generate", bAt) > bAt,
      "salt explode (Generate) should run under the BroadcastExchange")
  }

  test("ngram jaccard aggregates map-side before its exchange") {
    // inverted-index count: a partial HashAggregate must sit below the
    // Exchange that feeds the final HashAggregate
    val p = plan("q_ngram_jaccard")
    val aggs = p.linesIterator.count(_.trim.startsWith("+- HashAggregate"))
    assert(p.contains("HashAggregate") && aggs >= 2,
      "expected partial+final aggregate pair")
    assert(!p.contains("SortMergeJoin"))
  }

  test("bloom semi join tests membership at the fact scan, pre-join") {
    // the bloom_might_contain filter must run BELOW the semi join, so
    // the join (and at scale, its exchange) sees only survivors
    val p = plan("q_bloom_semi")
    val lines = p.linesIterator.toSeq
    val filterIdx = lines.indexWhere(_.contains("bloom_might_contain"))
    val joinIdx = lines.indexWhere(l =>
      l.contains("LeftSemi") || l.contains("left_semi"))
    assert(filterIdx >= 0, "bloom_might_contain not in the plan")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      "bloom filter is not below the semi join in the plan tree")
  }

  test("q_corr aggregates partially before its exchange (exact moments)") {
    // the five decimal moments must combine map-side: the exchange
    // carries one partial row per (flag, partition), never raw rows.
    // At sf0.001 the input is one small task, which runs without the
    // exchange; an advisory size below the input's gives the plan an
    // input at scale gets
    val p = withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")(plan("q_corr"))
    val lines = p.linesIterator.toSeq
    val firstAgg = lines.indexWhere(_.contains("HashAggregate"))
    val exchange = lines.indexWhere(_.contains("Exchange"))
    assert(firstAgg >= 0 && exchange >= 0,
      "expected HashAggregate and Exchange in the corr plan")
    assert(exchange < lines.lastIndexWhere(_.contains("HashAggregate")),
      "no partial aggregate below the exchange")
  }

  test("q_oov_rate top-K vocab plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_oov_rate")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("GlobalSort"), "vocab ranking fell back to a global sort")
  }

  test("q_token_budget runs on ONE window shuffle (partitioned by source)") {
    val p = plan("q_token_budget")
    assert(p.contains("Window"))
    // no single-partition exchange: the window is keyed, so the plan
    // must not contain Exchange SinglePartition above the scan
    assert(!p.contains("SinglePartition"),
      "token budget window collapsed to a single partition")
  }

  test("q_shard_balance: the snake window is celled, never one partition") {
    val p = plan("q_shard_balance")
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      "balancedShards collapsed to a single-partition window (global sort trap)")
  }

  test("q_substr_apply carries digests and positions, never window text") {
    // the shuffled stages must move md5 digests (32-char) + long
    // offsets; the raw text column may only appear at the scan and in
    // the final reassembly projection, never in an Exchange's child
    // output. Cheap proxy: every hashpartitioning clause keys on
    // internal columns, none on `text`
    val p = plan("q_substr_apply")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"window text rides a shuffle: ${exchanges.mkString("; ")}")
  }

  test("q_rolling_dau aggregates partially before its exchange") {
    // the 7-way explode must be followed by a partial count-distinct
    // below the shuffle (map-side combine), not a raw-row shuffle
    val p = plan("q_rolling_dau")
    val firstAgg = p.indexOf("HashAggregate")
    val firstExch = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExch >= 0)
  }

  test("median queries window over the histogram, not the table") {
    // the only full-data pass is the (flag, qty) histogram groupBy —
    // every Window node must sit ABOVE (before, in formatted order)
    // an aggregate, so it runs on histogram-sized input. A Window
    // directly over the scan is the 3-giant-partitions trap
    for (q <- Seq("q_median_mode", "q_mad_outliers")) {
      val p = plan(q)
      val tree = p.linesIterator.takeWhile(_.nonEmpty).toSeq
      val winDepth = tree.filter(_.contains("Window"))
      assert(winDepth.nonEmpty, s"$q lost its median windows")
      // every Window's subtree must contain a HashAggregate below it:
      // in the formatted tree, an aggregate line appears AFTER the
      // window line (deeper = later) before the scan
      val lastWin = tree.lastIndexWhere(_.contains("Window"))
      val aggBelow = tree.drop(lastWin).exists(_.contains("HashAggregate"))
      assert(aggBelow, s"$q has a Window with no aggregate below it:\n$p")
    }
  }

  test("q_hrw_shards assigns map-side: the only exchange is the final agg's") {
    // rendezvous sharding is a pure projection — the plan may shuffle
    // once for the groupBy(shard) count and once for the tiny ordered
    // result, but never to compute the assignment itself (no Window,
    // no join)
    val p = plan("q_hrw_shards")
    assert(!p.contains("Window") && !p.contains("Join"),
      "HRW assignment must be a map-side projection")
    // FormattedMode prints each node twice (tree + detail); count only
    // the numbered detail headers
    val shuffles = p.linesIterator
      .filter(_.matches("""\(\d+\) Exchange.*"""))
      .size
    assert(shuffles <= 2, s"$shuffles shuffles for a map-side assignment")
  }

  test("q_sql_lev: the SQL-surface levenshtein predicate is bounded") {
    // the registered query writes the unbounded `levenshtein(a,b) <= 1`
    // in SQL text; the optimizer rule (installed imperatively by the
    // query itself) must rewrite the PREDICATE to the banded 3-arg form
    // — the projection's copy legitimately stays 2-arg, so count the
    // bounded occurrences rather than the absence of unbounded ones
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    val df = SparkEntry.queries("q_sql_lev")(spark, sf)
    var bounded = 0
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case e @ Levenshtein(_, _, Some(_)) => bounded += 1; e
    }
    assert(bounded >= 1,
      "SQL-surface levenshtein(a,b) <= 1 was not rewritten to the 3-arg form")
    // r17 cost-order pin: inside every AND chain that carries the
    // banded DP, all cheap conjuncts (the custkey halving test, the
    // length guard) must evaluate BEFORE it — codegen short-circuits
    // left-to-right, and the DP is the hot expression of the plan
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def hasLev(e: Expression): Boolean =
      e.exists { case Levenshtein(_, _, Some(_)) => true; case _ => false }
    df.queryExecution.optimizedPlan.foreach {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.filter(hasLev).foreach { c =>
          val cs = conjuncts(c)
          val firstLev = cs.indexWhere(hasLev)
          assert(cs.drop(firstLev).forall(hasLev),
            s"cheap conjunct ordered after the banded DP: $cs")
        }
      case _ => ()
    }
  }

  test("q_importance probes bucket scores via broadcast, never a sort-merge join") {
    // the score table is <= buckets rows by construction — if it ever
    // shuffles the full bigram stream for the probe, the scale story dies
    // (the final doc_id LEFT JOIN back onto all docs is large-large —
    // SortMergeJoin is the right plan THERE; the pin is on the probe)
    val p = plan("q_importance")
    assert(p.contains("BroadcastHashJoin"), "importance score probe is not broadcast")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    val smj = tree.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"only the doc_id re-attach may sort-merge, got $smj")
    graft.ops.StageCache.releaseAll()
  }

  test("q_datacard scans the documents parquet once (persisted feature pass)") {
    val p = plan("q_datacard")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 1, s"datacard re-scans documents $scans times")
    graft.ops.StageCache.releaseAll()
  }

  test("q_hard_negatives broadcasts the query side (pair-predicate join)") {
    val p = plan("q_hard_negatives")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "hard-negative label-inequality join should ride a broadcast nested loop")
  }

  test("q_interval_join: binned EQUI join, and no distinct-style dedup pass") {
    // the first-common-bin gate replaces the classic post-join DISTINCT;
    // the plan must contain a hash equi-join on (user_id, __bin) and NO
    // aggregate other than none at all (the query has no groupBy) —
    // any HashAggregate here would be a smuggled distinct
    val p = plan("q_interval_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "overlap join lost its equi-join form")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "overlap join degenerated to a cross-product range probe")
    assert(!p.contains("HashAggregate"),
      "first-common-bin gate should make the pair set distinct-free")
  }

  test("q_rrf broadcasts the query side; fusion adds no extra scan") {
    val p = plan("q_rrf")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "rrf channel scoring should ride the brute-force broadcast pass")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("embeddings"))
    assert(scans <= 2, // query side + corpus side
      s"rrf re-scans embeddings $scans times; both channels must share one pass")
  }

  test("q_range_auto: the SQL inequality join is rewritten off the nested loop") {
    val before = spark.conf.getOption(
      graft.plans.RangeBinJoinRule.binSecondsKey)
    val p = plan("q_range_auto")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "RangeBinJoinRule did not fire on the registered SQL query")
    assert(p.contains("Generate"), "binned rewrite should explode interval bins")
    // the rewrite must survive a FRESH QueryExecution built from the
    // returned frame's logical plan — that is the path Bench (noop
    // write) and Verify (parquet write) take, AFTER the builder has
    // restored the bin conf; forcing the builder's own cached
    // optimizedPlan is not enough (regression: the rewrite fired only
    // in the cached QE and every real consumer got the nested loop)
    val fresh = SparkEntry.queries("q_range_auto")(spark, sf)
      .select(org.apache.spark.sql.functions.col("*"))
      .queryExecution.explainString(FormattedMode)
    assert(!fresh.contains("NestedLoop") && !fresh.contains("CartesianProduct"),
      "RangeBinJoinRule rewrite did not survive a fresh QueryExecution")
    // the builder scopes its bin conf to its own (eagerly forced)
    // optimization — the shared session must come back unchanged, or
    // every later inequality join gets silently re-planned
    assert(spark.conf.getOption(
      graft.plans.RangeBinJoinRule.binSecondsKey) === before,
      "q_range_auto leaked binSeconds onto the shared session")
  }

  test("q_asof_native and q_asof_fwd plan the custom AsOfJoin operator") {
    for (q <- Seq("q_asof_native", "q_asof_fwd")) {
      val p = plan(q)
      assert(p.contains("AsOfJoin"), s"$q did not plan AsOfJoinExec")
      assert(!p.contains("Window"), s"$q fell back to a window formulation")
    }
  }

  test("q_asof_broadcast never hash-shuffles the fact side") {
    // the registered query ends in an ORDER BY for the oracle, so one
    // rangepartitioning exchange is the report sort; the ENRICHMENT
    // must contribute none (no hash shuffle anywhere in the plan)
    val p = plan("q_asof_broadcast")
    assert(!p.contains("hashpartitioning"),
      "broadcast as-of must not hash-shuffle")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      "only the final report sort may exchange")
  }

  test("q_orc_roundtrip defers the write; the inner scan pushes the filter") {
    // r11 shape: the registered plan is a deferred SinkThenScan leaf —
    // BUILDING it must write nothing (the sink job runs inside the
    // query's first action, so Bench bills it to this query, not to
    // whatever phase builds plans)...
    val dir = new java.io.File(
      s"/tmp/graft_orc/orders_${queries.Tables.tmpKey(sf)}")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(dir)
    val p = plan("q_orc_roundtrip")
    assert(p.contains("SinkThenScan"), "expected the deferred sink leaf")
    assert(!dir.exists, "plan build must not perform the ORC write")
    // ...and the INNER re-read plan — built after the write, the plan
    // that actually executes — must still push the price predicate
    // into the orc scan (stripe pruning must survive the format hop)
    SparkEntry.queries("q_orc_roundtrip")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    assert(dir.exists, "first action must perform the ORC write")
    val inner = queries.CsvQueries.orcReread(spark, dir.getPath)
      .queryExecution.explainString(FormattedMode)
    assert(inner.linesIterator.exists(_.contains("Scan orc")),
      "no ORC scan in the inner plan")
    assert(inner.contains("PushedFilters: [") &&
      !inner.contains("PushedFilters: []"),
      "filter did not reach the ORC scan")
  }

  test("q_kmv_overlap pair merges join against a broadcast pair dim") {
    val p = plan("q_kmv_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "sketch-row joins should broadcast the tiny pair dim")
  }

  // The one-shot sketch pipelines' cost model says the per-document
  // sketch kernel runs ONCE, not once per self-join side. The r8 shape
  // relied on exchange reuse for that — which AQE makes best-effort,
  // and the driver's r9 sf1 run showed the 2× recompute bill when it
  // silently failed to materialize. The r10 shape persists the bucket
  // table instead; these pins turn a regression back to the fragile
  // shape into a test failure rather than a doubled 100 TB sketch bill.
  private def physicalNodes(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      physicalNodes(a.executedPlan)
    // a FINALIZED adaptive plan (e.g. a cached plan some action already
    // materialized) wraps its stages in QueryStageExec leaves whose
    // inner plan is not a child — unwrap or the walk sees nothing
    // below the first shuffle boundary
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: physicalNodes(q.plan)
    case _ => p +: p.children.flatMap(physicalNodes)
  }

  // Recurses into InMemoryRelations: since r14 the minhash pipelines
  // StageCache-persist the candidate PAIR table, so the bucket-cache
  // self-join (the structure these pins exist to check) lives inside
  // a nested cached plan rather than the outer executedPlan.
  private def nodesThroughCaches(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.SparkPlan] =
    physicalNodes(p).flatMap {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s +: nodesThroughCaches(s.relation.cachedPlan)
      case n => Seq(n)
    }

  // Each cache scan tagged with whether the cache's OWN plan computes
  // the kernel (nested caches inside it do NOT count — physicalNodes
  // stops at InMemoryTableScanExec leaves): the sketch-once pins must
  // require the ≥2-scan sharing of the KERNEL-bearing cache (the
  // bucket table) specifically. The r14 pair-table cache is scanned
  // ≥2 times by construction (join spine + rvIds selects), so an
  // untagged exists(_.size >= 2) would pass even with the bucket
  // sides split into two separate caches — the sketch running twice,
  // the exact regression these pins exist to catch.
  private def sketchSitesOutsideCache(name: String,
      isKernel: org.apache.spark.sql.catalyst.expressions.Expression => Boolean)
      : (Int, Seq[(AnyRef, Boolean)]) = {
    val all = nodesThroughCaches(
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
    // kernel sites that are NOT under any cache: walk only the outer
    // plan for the sites count (a kernel inside a cached plan runs
    // once per cache build by construction)
    val outer = physicalNodes(
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
    val kernelSites = outer.map(n =>
      n.expressions.map(_.collect { case e if isKernel(e) => e }.size).sum).sum
    val caches = all.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        val kernelBearing = physicalNodes(s.relation.cachedPlan).exists(n =>
          n.expressions.exists(_.collect { case e if isKernel(e) => e }.nonEmpty))
        (s.relation.cacheBuilder, kernelBearing)
    }
    (kernelSites, caches)
  }

  test("minhash one-shot pipelines sketch exactly once (cached buckets)") {
    val kernelOf: Map[String,
        org.apache.spark.sql.catalyst.expressions.Expression => Boolean] = Map(
      "q_dedup_minhash" -> (_.isInstanceOf[graft.functions.MinHashSig]),
      "q_dedup_eval" -> (_.isInstanceOf[graft.functions.MinHashSig]),
      "q_dedup_minhash_fast" -> (_.isInstanceOf[graft.functions.MinHashSigFast]))
    for ((q, isKernel) <- kernelOf) {
      val (sites, caches) = sketchSitesOutsideCache(q, isKernel)
      assert(sites == 0,
        s"$q computes the k-MD5 minhash kernel outside the cache ($sites sites)")
      // the bucket cache must be read by BOTH self-join sides (one
      // SHARED cache, scanned >= 2 times — possibly nested inside the
      // r14 pair-table cache); a second distinct cache (the pair
      // table itself) is expected and fine. Only KERNEL-bearing
      // caches can satisfy the pin: the pair-table cache is scanned
      // ≥2 times by construction, so counting it would make the
      // assertion vacuous (r14 ADVICE).
      val kernelCaches = caches.collect { case (cb, true) => cb }
      assert(kernelCaches.nonEmpty,
        s"$q: no cache computes the sketch kernel at all " +
          s"(${caches.size} cache scans)")
      assert(kernelCaches.groupBy(System.identityHashCode)
          .values.exists(_.size >= 2),
        s"$q: no single KERNEL-bearing cache is read by both bucket " +
          s"self-join sides (${kernelCaches.size} kernel-cache scans of " +
          s"${kernelCaches.map(System.identityHashCode).distinct.size} " +
          "distinct caches) — the sketch may run twice")
      graft.ops.StageCache.releaseAll()
    }
  }

  test("q_fuzzy_decontaminate broadcasts the bench index; corpus sketches once") {
    // the broadcast-index probe's cost model: the corpus text is
    // shingled+sketched in ONE map pass, both probe joins broadcast
    // the tiny bench side, and the only corpus-scale exchange is the
    // post-collision pair dedupe. A SortMergeJoin/ShuffledHashJoin
    // here means the corpus shingle table is crossing the wire again.
    val p = plan("q_fuzzy_decontaminate")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "fuzzy decontamination grew a corpus-scale shuffle join")
    assert(p.contains("BroadcastHashJoin"),
      "bench index should broadcast into the probe joins")
    val nodes = physicalNodes(SparkEntry.queries("q_fuzzy_decontaminate")(
      spark, sf).queryExecution.executedPlan)
    val sites = nodes.map(n => n.expressions.map(_.collect {
      case e: graft.functions.MinHashSig => e
    }.size).sum).sum
    // one site on the corpus map pass + one inside the broadcast bench
    // bucket build — a third means a branch re-sketches the corpus
    assert(sites == 2,
      s"expected exactly 2 minhash kernel sites (corpus + bench), got $sites")
  }

  test("q_scd2: change flag, island id and interval agg share ONE key shuffle") {
    // SCALE.md's SCD2 cost model: the change-flag lag and the island-id
    // running sum share one window spec (one shuffle+sort per key) and
    // the interval aggregate reuses that partitioning. Unlike exchange
    // reuse this is DETERMINISTIC planning (same window spec → one
    // WindowExec; EnsureRequirements sees the child partitioning), so
    // it can be pinned statically: at most one hash-partitioning
    // exchange in the whole tree (the report ORDER BY adds a range
    // exchange, not a hash one).
    val p = plan("q_scd2")
    val tree = p.substring(0, p.indexOf("\n(1) "))
    val hashShuffles = tree.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashShuffles <= 1,
      s"SCD2 collapse grew a second key shuffle ($hashShuffles):\n$tree")
  }

  test("simhash pipeline sketches exactly once (cached buckets)") {
    val kernelOf: Map[String,
        org.apache.spark.sql.catalyst.expressions.Expression => Boolean] = Map(
      "q_dedup_simhash" -> (_.isInstanceOf[graft.functions.SimHashBits]),
      "q_dedup_simhash64" -> (_.isInstanceOf[graft.functions.SimHash64]))
    for ((q, isKernel) <- kernelOf) {
      val (sites, caches) = sketchSitesOutsideCache(q, isKernel)
      assert(sites == 0,
        s"$q computes the per-token kernel outside the cache ($sites sites)")
      // the simhash pipelines have exactly ONE cache (the bucket
      // table) and it carries the kernel; both self-join sides must
      // scan that same instance
      assert(caches.size >= 2 && caches.forall(_._2) &&
        caches.map(c => System.identityHashCode(c._1)).distinct.size == 1,
        s"$q join sides do not share one kernel-bearing cached bucket build")
      graft.ops.StageCache.releaseAll()
    }
  }
}
