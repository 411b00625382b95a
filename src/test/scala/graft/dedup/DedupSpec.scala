package graft.dedup

import graft.SparkTestBase
import graft.functions.SketchExpressions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),      // near dup of 1
    (4L, "completely different words about spark engines here"),
    (5L, "spark engines process completely different words"))
    .toDF("doc_id", "text")

  test("exact dedup keeps lowest id per identical text") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 3L, 4L, 5L))
  }

  test("minhash LSH finds exact and near dup pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 2, k = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must be found")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "near dup (1 word of 9 changed) must be found")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L || p._2 == 5L),
      "unrelated docs must not pair")
  }

  test("simhash: identical docs hamming 0; near dups small hamming") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 3))
  }

  test("simhash64: kernel matches an independent hex-parse reference") {
    // independent path: parse the full md5 hex string with BigInteger
    // and read bit i MSB-first from the 128-bit value — no byte/shift
    // arithmetic shared with SketchOps.simhash64
    def reference(text: String): Long = {
      val toks = text.trim.split("[ \t\n\r\f]+", -1)
      val sums = new Array[Int](64)
      for (t <- toks) {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val big = new java.math.BigInteger(hex, 16) // 128-bit, MSB-first
        for (i <- 0 until 64) {
          // bit i MSB-first of 128 bits = BigInteger bit (127 - i)
          sums(i) += (if (big.testBit(127 - i)) 1 else -1)
        }
      }
      (0 until 64).foldLeft(0L)((sk, i) =>
        if (sums(i) > 0) sk | (1L << i) else sk)
    }
    val got = docs.select($"doc_id", Dedup.simhash64($"text").as("sk"))
      .as[(Long, Long)].collect().toMap
    for ((id, text) <- docs.as[(Long, String)].collect())
      assert(got(id) === reference(text), s"doc $id sketch mismatch")
    assert(got(1L) === got(2L), "identical docs must share a sketch")
    assert(got(1L) !== got(4L), "unrelated docs should differ")
  }

  test("simhash64 pairs ≡ brute-force hamming<=3 (exhaustive recall), exactly once") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sk = real.select($"doc_id".as("id"), Dedup.simhash64($"text").as("sk"))
    // brute force: every pair, native xor+bit_count — the ground truth
    // the 4x16 banding must reproduce EXACTLY (pigeonhole guarantee)
    val brute = sk.as("a").join(sk.as("b"),
        $"a.id" < $"b.id")
      .selectExpr("a.id AS id_a", "b.id AS id_b",
        "CAST(bit_count(a.sk ^ b.sk) AS BIGINT) AS hamming")
      .filter($"hamming" <= 3)
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashPairs64(real, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(banded.toSet === brute)
    assert(banded.length === banded.toSet.size,
      "first-match-band dedup must emit every pair exactly once")
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    assert(brute.exists(_._3 > 0), "fixture should contain non-exact near-dups")
    graft.ops.StageCache.releaseAll()
  }

  test("simhash64 rejects maxHamming beyond the banding guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs64(docs, "doc_id", "text", maxHamming = 4)
    }
  }

  test("ngram jaccard within block") {
    val blocked = docs.withColumn("blk", org.apache.spark.sql.functions.lit("all"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", Seq("blk"),
      n = 2, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.get((1L, 3L)).exists(j => j > 0.5 && j < 1.0))
    assert(!pairs.contains((4L, 5L)), "shared words but no shared bigram set >= 0.5")
  }

  test("ppjoin prefix prune: same answer as unpruned, fewer candidates") {
    import org.apache.spark.sql.functions.{col, explode, lit, size}
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val unpruned = key(Dedup.ngramJaccardPairs(
      real, "doc_id", "text", Seq("lang", "source"), n = 2, threshold = 0.09))
    val pruned = key(Dedup.ngramJaccardPairsPruned(
      real, "doc_id", "text", Seq("lang", "source"), n = 2, threshold = 0.09))
    assert(pruned === unpruned)
    assert(pruned.nonEmpty)
    // candidate-count report: the prefix index must generate strictly
    // fewer verify pairs than the any-shared-shingle inverted index
    val inv = real.select(col("lang"), col("source"), col("doc_id").as("id"),
        Dedup.shingles(col("text"), 2).as("sh"))
      .select(col("lang"), col("source"), col("id"), explode(col("sh")).as("tok"))
    val allCand = inv.select(col("lang"), col("source"), col("tok"), col("id").as("id_a"))
      .join(inv.select(col("lang"), col("source"), col("tok"), col("id").as("id_b")),
        Seq("lang", "source", "tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
    val prefCand = Dedup.ngramPrefixCandidates(
      real, "doc_id", "text", Seq("lang", "source"), 2, 0.09).count()
    info(s"candidates: unpruned=$allCand prefix=$prefCand")
    assert(prefCand < allCand)
    assert(prefCand >= pruned.size)
  }

  test("hashed verify: Jaccard over xxhash64 longs ≡ Jaccard over shingle strings") {
    // the verify joins now exchange sorted xxhash64 arrays instead of
    // raw shingle strings (SCALE.md r12: bytes-per-exchange wall at the
    // 1000× tier); this pins value equality of the two representations
    // on a dup-rich corpus through the full operator
    import org.apache.spark.sql.functions.{col, size, sort_array, transform, xxhash64}
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 2).as("sh"))
    def jac(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val i = graft.functions.SketchExpressions.sortedIntersectSize(a, b)
      i.cast("double") / (size(a) + size(b) - i)
    }
    val both = sh.select(col("id").as("id_a"), col("sh").as("sa"),
        sort_array(transform(col("sh"), t => xxhash64(t))).as("ha"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sb"),
        sort_array(transform(col("sh"), t => xxhash64(t))).as("hb")))
      .filter(col("id_a") < col("id_b"))
      .select(jac(col("sa"), col("sb")).as("js"),
        jac(col("ha"), col("hb")).as("jh"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("clusters: transitive pairs collapse to the min reachable id") {
    // chain 1-2, 2-3 plus disjoint 7-5: clusters {1,2,3}->1, {5,7}->5
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (7L, 5L)))
  }

  test("clusters: driver and distributed paths agree") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 5L), (9L, 9L), (10L, 5L))
      .toDF("id_a", "id_b")
    val fast = Dedup.clusters(pairs).orderBy("id").as[(Long, Long)].collect().toSeq
    val dist = Dedup.clusters(pairs, driverEdgeLimit = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(fast === dist)
  }

  test("clusters: null id fails loudly on both paths") {
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("id_a", "id_b")
    for (limit <- Seq(1L << 20, 0L)) {
      val e = intercept[Exception] {
        Dedup.clusters(pairs, driverEdgeLimit = limit).collect()
      }
      // raise_error surfaces wrapped in SparkRuntimeException / task failure
      assert(e.getMessage.contains("null id") ||
        Option(e.getCause).exists(_.getMessage.contains("null id")))
    }
  }

  test("clustersStar: equality with union-find on chains, self-pairs, random graphs") {
    // chain + disjoint pair + self-pair + star collisions
    val fixed = Seq((1L, 2L), (2L, 3L), (7L, 5L), (9L, 9L), (10L, 5L))
      .toDF("id_a", "id_b")
    // deterministic pseudo-random graph: 200 nodes, 150 hash-derived
    // edges — multiple components, duplicate edges, both orientations
    val rnd = (0 until 150).map { i =>
      val a = (i * 2654435761L) % 200
      val b = (i * 40503L + 17L) % 200
      (math.abs(a), math.abs(b))
    }.toDF("id_a", "id_b")
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (pairs <- Seq(fixed, rnd, chain)) {
      val uf = Dedup.clusters(pairs).orderBy("id")
        .as[(Long, Long)].collect().toSeq
      val star = Dedup.clustersStarLabels(pairs).orderBy("id")
        .as[(Long, Long)].collect().toSeq
      assert(star === uf)
    }
  }

  test("clustersStar: 60-chain converges in few rounds and pins telemetry") {
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Dedup.ClusterTelemetry.reset()
    val got = Dedup.clustersStarLabels(chain).as[(Long, Long)].collect()
    assert(got.length === 60 && got.forall(_._2 === 1L))
    val rounds = Dedup.ClusterTelemetry.rounds.get()
    // star contraction halves chain distances every round: ~log2(59)
    // contraction rounds + 1 equal-fingerprint detection round
    assert(rounds <= 9, s"star contraction regressed: $rounds rounds for a 60-chain")
  }

  test("clustersStar: null id fails loudly") {
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Dedup.clustersStarLabels(pairs).collect()
    }
    assert(e.getMessage.contains("null id") ||
      Option(e.getCause).exists(_.getMessage.contains("null id")))
  }

  test("clusters: 64-bit-scale labels converge without overflow") {
    // ids near Long.MaxValue would overflow a LongType convergence sum
    val big = Long.MaxValue - 10
    val pairs = Seq((big, big - 1), (big - 1, big - 2), (5L, big - 5))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, driverEdgeLimit = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got.map(_._2).distinct === Seq(5L, big - 2))
  }

  test("applyClusters keeps one representative per component + unpaired rows") {
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("doc_id", "payload")
    // 1~2~3 transitively (1-2, 2-3); 4 pairs with nothing; 5 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.applyClusters(corpus, Dedup.clusters(pairs), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L))
  }

  test("duplicateSpans counts 4-token windows shared across docs") {
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", w = 4)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // docs 1/2 identical: all 6 windows shared; doc 3 shares exactly
    // "the quick brown fox" and "over the lazy dog" with them; docs
    // 4/5 share words but no 4-token span
    assert(got === Seq((1L, 6L, 6L), (2L, 6L, 6L), (3L, 6L, 2L),
      (4L, 4L, 0L), (5L, 3L, 0L)))
  }

  test("duplicateSpans: docs shorter than the window emit zero spans") {
    val short = Seq((1L, "too few tokens"), (2L, "too few tokens"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(short, "doc_id", "text", w = 4)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  // The composable form the native window_digests kernel replaced,
  // kept as its reference: every window's unhex(md5(concat_ws)) in
  // order, array_distinct on top in the duplicateSpans form.
  private def hofWindows(toks: Column, w: Int, distinct: Boolean): Column = {
    val all = transform(sequence(lit(1), size(toks) - w + 1),
      i => unhex(md5(concat_ws(" ", slice(toks, i, lit(w))))))
    when(size(toks) >= w, if (distinct) array_distinct(all) else all)
      .otherwise(array().cast("array<binary>"))
  }

  test("window_digests ≡ the transform/slice/md5 chain on hostile texts") {
    val texts: Seq[String] = Seq(null, "", " ", "   ", "\t \n",
      "a\tb\nc\rd\fe f", "a\u000Bb c\u000B d e",
      "  lead and trail spaces  ", "\ttab lead", "tab trail\t",
      "héllo wörld 日本語 テキスト ñ ß 🙂 end",
      "a b a b a b a b", "x x x x x x", "one", "two words",
      "exactly four tok ens", "a  b\t\tc\n\nd")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val toks = split(trim(col("text")), "[ \\t\\n\\r\\f]+")
    // null array elements, which split never produces but SQL callers
    // can pass: concat_ws skips them
    val arrs = Seq(Seq("a", null, "b", "c"), Seq(null, null, "x", null),
      Seq[String](null, null, null), Seq("", "a", null, ""))
      .zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("doc_id", "toks")
    def hexAll(c: Column): Column = transform(c, d => hex(d))
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      withSQLConf("spark.sql.codegen.factoryMode" -> codegen,
          "spark.sql.codegen.wholeStage" -> (codegen == "CODEGEN_ONLY").toString) {
        for (w <- Seq(1, 2, 3, 4, 8); distinct <- Seq(false, true);
             (in, t) <- Seq((df, toks), (arrs, col("toks")))) {
          in.select(col("doc_id"),
              hexAll(SketchExpressions.windowDigests(t, w, distinct)).as("k"),
              hexAll(hofWindows(t, w, distinct)).as("r"))
            .collect().foreach { r =>
              assert(r.getSeq[String](1) === r.getSeq[String](2),
                s"doc ${r.getLong(0)} w=$w distinct=$distinct $codegen")
            }
        }
      }
    }
    // the fixture must reach every branch it claims to
    val n = df.select(col("doc_id"),
        size(SketchExpressions.windowDigests(toks, 2, distinct = false)),
        size(SketchExpressions.windowDigests(toks, 2, distinct = true)))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(n(0L) === ((0, 0)), "null text")
    assert(n(11L) === ((7, 2)), "repeated windows collapse in distinct mode")
    assert(n(13L) === ((0, 0)), "fewer tokens than w")
    assert(n(6L) === ((3, 3)), "U+000B must not split")
  }

  test("duplicateSpans: one 50k-token document has 49993 8-token spans") {
    // the quadratic array_distinct form took seconds per such document
    val text = (0 until 50000).map(i => s"t$i").mkString(" ")
    val got = Dedup.duplicateSpans(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", w = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 49993L, 0L)))
  }

  // The all-digest LEFT-join tail duplicateSpans had before its
  // join-back kept only the shared digests, kept as its reference: the
  // same span stream, every digest's doc count on the build side.
  private def allDigestSpans(df: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = {
    val spans = df.select(col("doc_id"), explode_outer(
      SketchExpressions.windowDigests(split(trim(col("text")),
        "[ \\t\\n\\r\\f]+"), w, distinct = true)).as("__dig"))
    val digCounts = spans.filter(col("__dig").isNotNull)
      .groupBy("__dig").agg(count(lit(1)).as("__docs"))
    spans.join(digCounts, Seq("__dig"), "left")
      .groupBy("doc_id")
      .agg(count(col("__dig")).as("n_spans"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  test("duplicateSpans ≡ the all-digest left-join tail: none, all and sub-w shared") {
    def corpus(texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // no window shared: every token unique across the corpus
    val none = corpus((0 until 6).map(d =>
      (0 until 9).map(i => s"d${d}t$i").mkString(" ")))
    // every window shared: each text appears in two docs, one with
    // extra whitespace (same tokens, same windows)
    val base = (0 until 4).map(d => (0 until 7).map(i => s"a${d}b$i").mkString(" "))
    val all = corpus(base ++ base.map(t => "  " + t.replace(" ", "\t ")))
    // every doc shorter than w
    val subW = corpus(Seq(null, "", "   ", "a b c", "a b c", "x"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    for ((name, df) <- Seq("none" -> none, "all" -> all, "sub-w" -> subW)) {
      val got = rows(Dedup.duplicateSpans(df, "doc_id", "text", w = 4))
      assert(got === rows(allDigestSpans(df, 4)), name)
    }
    // the corpora reach the cases they are named for
    val n = rows(Dedup.duplicateSpans(none, "doc_id", "text", w = 4))
    assert(n.forall(r => r._2 == 6L && r._3 == 0L))
    val a = rows(Dedup.duplicateSpans(all, "doc_id", "text", w = 4))
    assert(a.size == 8 && a.forall(r => r._2 == 4L && r._3 == 4L))
    val s = rows(Dedup.duplicateSpans(subW, "doc_id", "text", w = 4))
    assert(s.size == 6 && s.forall(r => r._2 == 0L && r._3 == 0L))
  }

  /** Every operator of an executed plan, inside AQE's final plan and
    * its query stages. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
  }

  test("duplicateSpans: the join-back builds only the digests held by 2+ docs") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
    import org.apache.spark.sql.types.LongType
    def sharedFilter(p: SparkPlan) = nodes(p).exists {
      case f: FilterExec =>
        f.condition.references.exists(_.name == "__docs") &&
          f.condition.sql.contains(">= 2")
      case _ => false
    }
    // adaptive (the final plan after the action) and static, broadcast
    // and sort-merge: the build side sits under the filter in each
    for ((aqe, bhj) <- Seq(("true", "10485760"), ("false", "-1"))) {
      withSQLConf("spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.autoBroadcastJoinThreshold" -> bhj) {
        val out = Dedup.duplicateSpans(docs, "doc_id", "text", w = 4)
        out.collect()
        val joins = nodes(out.queryExecution.executedPlan).collect {
          case j: BaseJoinExec if j.joinType == LeftOuter => j
        }
        assert(joins.size === 1, s"aqe=$aqe")
        val j = joins.head
        j match {
          case h: HashJoin => assert(h.buildSide === BuildRight, s"aqe=$aqe")
          case _ =>
        }
        assert(sharedFilter(j.right), s"aqe=$aqe: build side not filtered\n$j")
        assert(!sharedFilter(j.left), s"aqe=$aqe: probe side filtered\n$j")
        // one long key (the digest's hash), the digest equality residual
        assert(j.leftKeys.map(_.dataType) === Seq(LongType), s"aqe=$aqe\n$j")
        assert(j.condition.exists(c => c.references.map(_.name).toSet ===
          Set("__dig", "__sdig")), s"aqe=$aqe: no digest check\n$j")
      }
    }
  }

  test("empty input: duplicateSpans, sourceOverlap, dupMatrix give zero typed rows") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    val cases = Seq(
      Dedup.duplicateSpans(empty, "doc_id", "text", w = 4) -> Seq(
        "doc_id" -> LongType, "n_spans" -> LongType, "n_dup_spans" -> LongType),
      Dedup.sourceOverlap(empty, "text", "source") -> Seq(
        "src_a" -> StringType, "src_b" -> StringType,
        "inter" -> LongType, "jac_ppm" -> LongType),
      Dedup.dupMatrix(empty, "text", "source") -> Seq(
        "src_a" -> StringType, "src_b" -> StringType, "n_shared" -> LongType))
    for ((df, schema) <- cases) {
      assert(shape(df) === schema)
      assert(df.collect().isEmpty, schema.map(_._1).mkString(","))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("removeDuplicateSpans: owner keeps, others lose covered tokens") {
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", w = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      // doc 1 owns every shared digest — nothing removed
      (1L, 9L, 0L, md5hex("the quick brown fox jumps over the lazy dog")),
      // doc 2 is a verbatim copy — every token covered, empty survivor
      (2L, 9L, 9L, md5hex("")),
      // doc 3 shares "the quick brown fox" (pos 1-4) and "over the
      // lazy dog" (pos 6-9); only the changed word survives
      (3L, 9L, 8L, md5hex("leaps")),
      (4L, 7L, 0L,
        md5hex("completely different words about spark engines here")),
      (5L, 6L, 0L,
        md5hex("spark engines process completely different words"))))
  }

  test("removeDuplicateSpans: sub-window docs pass through untouched") {
    val short = Seq((1L, "too few tokens"), (2L, "too few tokens"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(short, "doc_id", "text", w = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // identical texts, but no window ever forms — span dedup is blind
    // below w by design (exact dedup is the right tool there)
    assert(got === Seq((1L, 3L, 0L, md5hex("too few tokens")),
      (2L, 3L, 0L, md5hex("too few tokens"))))
  }

  test("removeDuplicateSpans ≡ driver reference on a random dup-rich corpus") {
    // tiny vocabulary + short docs = maximal accidental span sharing;
    // an independent plain-Scala implementation is the oracle
    val w = 3
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d")
    val docs: Seq[(Long, String)] = (1L to 120L).map { i =>
      val len = 1 + rnd.nextInt(9)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val expected = {
      // mirror the pinned SQL convention exactly (as PropertySpec:176
      // does): trim strips SPACES only (JVM String.trim would strip all
      // chars <= U+0020) and split keeps trailing empty tokens (the
      // default limit drops them) — so this reference independently
      // specifies the convention instead of passing only because the
      // fixture has no leading tabs / trailing separators
      val toks = docs.map { case (id, t) =>
        val tr = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        id -> (if (tr.isEmpty) Vector("")
               else tr.split("[ \t\n\r\f]+", -1).toVector)
      }.toMap
      val wins: Seq[(Long, Int, String)] = docs.flatMap { case (id, _) =>
        val tk = toks(id)
        (0 to tk.length - w).map(i =>
          (id, i + 1, md5hex(tk.slice(i, i + w).mkString(" "))))
      }
      val byDig = wins.groupBy(_._3)
      val owner = byDig.map { case (dg, ws) => dg -> ws.map(_._1).min }
      val nDocs = byDig.map { case (dg, ws) => dg -> ws.map(_._1).distinct.size }
      docs.map { case (id, _) =>
        val tk = toks(id)
        val covered = wins.collect {
          case (d, i, dg) if d == id && nDocs(dg) >= 2 && owner(dg) != id =>
            (i until i + w)
        }.flatten.toSet
        val clean = tk.zipWithIndex.collect {
          case (t, ix) if !covered.contains(ix + 1) => t }
        (id, tk.length.toLong, covered.size.toLong, md5hex(clean.mkString(" ")))
      }
    }
    val got = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", w)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === expected)
    assert(expected.exists(_._3 > 0), "fixture should actually remove spans")
    assert(expected.exists(r => r._3 == 0 && r._2 >= w.toLong),
      "fixture should keep some owner docs intact")
  }

  test("paragraphDedup: corpus-wide keep-first with reassembly") {
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      // doc 1 owns all five of its 2-token paragraphs
      (1L, 5L, 5L, md5hex("the quick brown fox jumps over the lazy dog")),
      // verbatim copy of 1: every paragraph already seen → empty doc
      (2L, 5L, 0L, md5hex("")),
      // near dup: only the block carrying the changed word survives
      (3L, 5L, 1L, md5hex("leaps over")),
      (4L, 4L, 4L,
        md5hex("completely different words about spark engines here")),
      // "spark engines" was doc 4's third paragraph — dropped here;
      // the survivors reassemble in original order
      (5L, 3L, 2L, md5hex("process completely different words"))))
  }

  test("paragraphDedup ≡ driver reference on a random dup-rich corpus") {
    // tiny vocabulary + short docs = plenty of accidental block
    // sharing, including WITHIN-doc repeats; an independent
    // plain-Scala keep-first implementation is the oracle
    val k = 2
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c")
    val corpus: Seq[(Long, String)] = (1L to 150L).map { i =>
      val len = 1 + rnd.nextInt(8)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val expected = {
      val seen = scala.collection.mutable.Set.empty[String]
      corpus.sortBy(_._1).map { case (id, t) =>
        val tr = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        val toks = if (tr.isEmpty) Vector("")
                   else tr.split("[ \t\n\r\f]+", -1).toVector
        val paras = toks.grouped(k).map(_.mkString(" ")).toVector
        val kept = paras.filter(p => seen.add(p))
        (id, paras.length.toLong, kept.length.toLong,
          md5hex(kept.mkString(" ")))
      }
    }
    val got = Dedup.paragraphDedup(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === expected)
    assert(expected.exists(_._3 == 0L),
      "fixture should fully dedup at least one doc")
    assert(expected.exists(r => r._3 > 0L && r._3 < r._2),
      "fixture should partially dedup at least one doc")
  }

  test("paragraphDedup ≡ agg+join harness twin (incl. hot key)") {
    // the agg+join shape is the documented fallback for engines
    // without WindowGroupLimit (the r13 skew A/B, SCALE.md Round 13),
    // so it must compute the same function; a shared boilerplate
    // paragraph makes the winner rule actually contested across docs
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = (1L to 80L).map { i =>
      val len = 1 + rnd.nextInt(7)
      val body = (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i, if (i % 3 == 0) s"x y $body" else body)
    }.toDF("doc_id", "text")
    val a = Dedup.paragraphDedup(corpus, "doc_id", "text", k = 2)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.paragraphDedupAggJoin(corpus, "doc_id", "text", k = 2)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("paragraphDedupWithinDoc: order-preserving per-doc keep-first") {
    val in = Seq(
      (1L, "a b c d a b c d e f"),   // k=2 blocks: ab cd ab cd ef → ab cd ef
      (2L, "a b a b a b"),            // ab ab ab → ab
      (3L, "x y z w"))                // no repeats
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedupWithinDoc(in, "doc_id", "text", k = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 5L, 3L, md5hex("a b c d e f")),
      (2L, 3L, 1L, md5hex("a b")),
      (3L, 2L, 2L, md5hex("x y z w"))))
  }

  test("paragraphDedupWithinDoc is independent per doc (vs corpus-wide)") {
    // two identical docs: the within-doc pass keeps both intact while
    // the corpus-wide pass empties the second — the two operators'
    // scopes must not be conflated
    val in = Seq((1L, "p q r s"), (2L, "p q r s")).toDF("doc_id", "text")
    val within = Dedup.paragraphDedupWithinDoc(in, "doc_id", "text", k = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(within === Seq(
      (1L, 2L, 2L, md5hex("p q r s")),
      (2L, 2L, 2L, md5hex("p q r s"))))
    val corpusWide = Dedup.paragraphDedup(in, "doc_id", "text", k = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(corpusWide === Seq(
      (1L, 2L, 2L, md5hex("p q r s")),
      (2L, 2L, 0L, md5hex(""))))
  }

  test("incrementalMinhashPairs ≡ batch minhashPairs on delta-vs-corpus") {
    // corpus = even ids, delta = odd ids (the daily-snapshot split);
    // the incremental probe must find exactly the cross pairs the full
    // batch recompute finds — no more (phantom candidates), no fewer
    // (missed bucket collisions)
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 === 1)
    val batchPairs: Set[(Long, Long)] = Dedup.minhashPairs(docs, "doc_id",
      "text", n = 2, k = 16, bands = 8, threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchCross = batchPairs
      .filter { case (a, b) => a % 2 != b % 2 }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }
    val inc = Dedup.incrementalMinhashPairs(
      Dedup.minhashIndex(corpus, "doc_id", "text"), delta,
      "doc_id", "text", threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc === batchCross)
    assert(inc.nonEmpty, "fixture should produce cross near-dups")
  }

  test("minhashPairsBroadcastIndex ≡ incremental probe on the same split") {
    // the broadcast-index specialization (small bench index broadcast,
    // corpus sketched once map-side) must emit exactly the pairs AND
    // jaccard values the general incremental probe emits — the shapes
    // differ only in where the joins run, never in what they return
    val bench = docs.filter($"doc_id" % 2 === 0)
    val probe = docs.filter($"doc_id" % 2 === 1)
    val benchIdx = Dedup.minhashIndexView(bench, "doc_id", "text")
    val general = Dedup.incrementalMinhashPairsFromIndex(benchIdx,
        Dedup.minhashIndexView(probe, "doc_id", "text"), 0.1)
      .as[(Long, Long, Double)].collect().toSet
    val bcast = Dedup.minhashPairsBroadcastIndex(benchIdx, probe,
        "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    assert(bcast === general)
    assert(bcast.nonEmpty, "fixture should produce cross near-dups")
  }

  test("minhashPairsBroadcastIndex: fast kernel ≡ fast incremental probe") {
    // fastKernel must thread consistently through the broadcast path
    // too — a fast-kernel index probed with fast-kernel corpus keys
    // finds exactly what the general fast probe finds
    val bench = docs.filter($"doc_id" % 2 === 0)
    val probe = docs.filter($"doc_id" % 2 === 1)
    val benchIdx = Dedup.minhashIndexView(bench, "doc_id", "text",
      fastKernel = true)
    val general = Dedup.incrementalMinhashPairsFromIndex(benchIdx,
        Dedup.minhashIndexView(probe, "doc_id", "text", fastKernel = true),
        0.1)
      .as[(Long, Long, Double)].collect().toSet
    val bcast = Dedup.minhashPairsBroadcastIndex(benchIdx, probe,
        "doc_id", "text", threshold = 0.1, fastKernel = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(bcast === general)
    assert(bcast.nonEmpty, "fixture should produce cross near-dups")
  }

  test("broadcast probe auto-falls-back to the incremental shape above maxIndexDocs") {
    // the r12 1000×-tier probe measured the broadcast shape superlinear
    // past ~10⁵ index docs; the guard's contract (r13) is to PICK the
    // big-vs-big plan there, not require-fail — and the two shapes must
    // return identical (id_a, id_b, jaccard) rows, so the switch is
    // invisible to results. maxIndexDocs=1 forces the fallback on the
    // tiny fixture; maxIndexDocs=0 forces the broadcast path.
    val bench = docs.filter($"doc_id" % 2 === 0)
    val probe = docs.filter($"doc_id" % 2 === 1)
    val benchIdx = Dedup.minhashIndexView(bench, "doc_id", "text")
    val bcast = Dedup.minhashPairsBroadcastIndex(benchIdx, probe,
        "doc_id", "text", threshold = 0.1, maxIndexDocs = 0L)
      .as[(Long, Long, Double)].collect().toSet
    val fellBack = Dedup.minhashPairsBroadcastIndex(benchIdx, probe,
        "doc_id", "text", threshold = 0.1, maxIndexDocs = 1L)
      .as[(Long, Long, Double)].collect().toSet
    assert(fellBack === bcast)
    assert(fellBack.nonEmpty, "fixture should produce cross near-dups")
    // and the fallback plan really is the incremental shape: no
    // broadcast of the index's shingle table
    val plan = Dedup.minhashPairsBroadcastIndex(benchIdx, probe,
        "doc_id", "text", threshold = 0.1, maxIndexDocs = 1L)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("ResolvedHint"),
      "above the cap no explicit broadcast hint may survive")
  }

  test("hashed staged shingle tables verify identically to raw-string tables") {
    // the staged index is the pipeline's persistent footprint; r13
    // stages sorted xxhash64 longs (repr=xxh64) instead of raw shingle
    // strings. Every verify site dispatches on the shingle column's
    // schema, so a probe against either representation must emit
    // bit-identical (id_a, id_b, jaccard) rows.
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 === 1)
    val built = Dedup.minhashIndexView(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_repr").toString
    built.shingles.write.parquet(s"$dir/sh_str")
    built.shingles.select($"id",
        Dedup.hashShingles($"sh").as("sh"))
      .write.parquet(s"$dir/sh_xxh")
    built.buckets.write.parquet(s"$dir/bk")
    def probeWith(shPath: String): Set[(Long, Long, Double)] =
      Dedup.incrementalMinhashPairsFromIndex(
        Dedup.MinhashIndex(spark.read.parquet(shPath),
          spark.read.parquet(s"$dir/bk")),
        Dedup.minhashIndexView(delta, "doc_id", "text"), 0.1)
        .as[(Long, Long, Double)].collect().toSet
    val viaStr = probeWith(s"$dir/sh_str")
    val viaXxh = probeWith(s"$dir/sh_xxh")
    assert(spark.read.parquet(s"$dir/sh_xxh").schema("sh").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.LongType)
    assert(viaXxh === viaStr)
    assert(viaXxh.nonEmpty, "fixture should produce cross near-dups")
    // the fused admission pass dispatches the same way: drops computed
    // against the hashed staged index equal drops against the raw one
    val batchIdx = Dedup.minhashIndexView(delta, "doc_id", "text")
    def dropsWith(shPath: String): Set[Long] =
      Dedup.admissionDrops(batchIdx,
        Some(Dedup.MinhashIndex(spark.read.parquet(shPath),
          spark.read.parquet(s"$dir/bk"))), 0.1)
        .as[Long].collect().toSet
    assert(dropsWith(s"$dir/sh_xxh") === dropsWith(s"$dir/sh_str"))
    // the BROADCAST probe path (maxIndexDocs=0 disables the fallback,
    // so this exercises the broadcast verify itself, not the
    // incremental shape the fallback would pick): its index side is
    // caller-supplied and must schema-dispatch too — a blind re-hash
    // of staged longs would verify garbage while still returning rows
    def bcastWith(shPath: String): Set[(Long, Long, Double)] =
      Dedup.minhashPairsBroadcastIndex(
        Dedup.MinhashIndex(spark.read.parquet(shPath),
          spark.read.parquet(s"$dir/bk")),
        delta, "doc_id", "text", threshold = 0.1, maxIndexDocs = 0L)
        .as[(Long, Long, Double)].collect().toSet
    assert(bcastWith(s"$dir/sh_xxh") === bcastWith(s"$dir/sh_str"))
  }

  test("fast kernel: incremental ≡ batch on delta-vs-corpus, kernels never mix") {
    // the fastKernel flag must thread consistently through the staged
    // index path: a fast-kernel corpus index probed by a fast-kernel
    // delta finds exactly the cross pairs the fast-kernel batch
    // recompute finds — and because the two kernels' band keys come
    // from different signature spaces, a MIXED probe (default-kernel
    // delta against the fast index) collides on nothing, which is the
    // silent-admission hazard CorpusStreams stamps _index_params for
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 === 1)
    val batchPairs: Set[(Long, Long)] = Dedup.minhashPairs(docs, "doc_id",
        "text", n = 2, k = 16, bands = 8, threshold = 0.1, fastKernel = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchCross = batchPairs
      .filter { case (a, b) => a % 2 != b % 2 }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }
    val fastIdx = Dedup.minhashIndex(corpus, "doc_id", "text",
      fastKernel = true)
    val inc = Dedup.incrementalMinhashPairs(fastIdx, delta,
        "doc_id", "text", threshold = 0.1, fastKernel = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc === batchCross)
    assert(inc.nonEmpty, "fixture should produce cross near-dups")
    // explicit fastKernel = false: since the r12 default flip the
    // legacy kernel must be ASKED for — which is exactly the mixed
    // probe this pin guards against
    val mixed = Dedup.incrementalMinhashPairs(fastIdx, delta,
        "doc_id", "text", threshold = 0.1, fastKernel = false)
      .count()
    assert(mixed === 0L,
      "legacy-kernel probe of a fast-kernel index must collide on nothing")
    graft.ops.StageCache.releaseAll()
  }

  test("incremental probe of a parquet index never touches corpus text") {
    // stage the index to parquet and RELOAD it — the true daily shape.
    // The probe plan must scan the two index tables and the delta
    // source only: the corpus parquet (the only place its text lives)
    // must not appear anywhere in the plan
    val dir = java.nio.file.Files.createTempDirectory("mh_index").toString
    docs.filter($"doc_id" % 2 === 0).write.mode("overwrite")
      .parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    val built = Dedup.minhashIndex(corpus, "doc_id", "text")
    built.shingles.write.mode("overwrite").parquet(s"$dir/sh")
    built.buckets.write.mode("overwrite").parquet(s"$dir/bk")
    val index = Dedup.MinhashIndex(
      spark.read.parquet(s"$dir/sh"), spark.read.parquet(s"$dir/bk"))
    val plan = Dedup.incrementalMinhashPairs(index,
        docs.filter($"doc_id" % 2 === 1), "doc_id", "text", threshold = 0.1)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains(s"$dir/sh") && plan.contains(s"$dir/bk"),
      "probe must read the staged index tables")
    assert(!plan.contains(s"$dir/corpus"),
      "probe must NOT rescan the corpus parquet (re-sketching)")
  }

  test("containmentPairs flags a quote embedded in a longer doc that Jaccard misses") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"), // 4 bigram shingles
      // doc 2 contains doc 1's text verbatim inside a longer article
      (2L, "a long article begins here the quick brown fox jumps and " +
        "then continues with many more unrelated tokens after that end"),
      (3L, "completely different text entirely")).toDF("id", "txt")
        .withColumn("blk", lit(1))
    val cont = Dedup.containmentPairs(docs, "id", "txt", Seq("blk"),
      n = 2, minContPpm = 900000L)
      .select("id_a", "id_b", "cont_a_ppm").collect()
    assert(cont.length === 1)
    assert(cont(0).getLong(0) === 1L && cont(0).getLong(1) === 2L)
    assert(cont(0).getLong(2) === 1000000L) // doc 1 fully contained
    // Jaccard at any threshold above ~0.25 would miss this pair
    val jac = Dedup.ngramJaccardPairs(docs, "id", "txt", Seq("blk"),
      n = 2, threshold = 0.3).collect()
    assert(jac.isEmpty)
  }

  test("sourceOverlap: shingle Jaccard per source pair; repeats don't inflate") {
    val df = Seq(
      ("s1", "alpha beta gamma"),        // shingles: {alpha beta, beta gamma}
      ("s1", "alpha beta gamma"),        // repeat: must not inflate
      ("s2", "alpha beta delta"),        // shares {alpha beta} with s1
      ("s3", "zz yy xx")).toDF("source", "text")
    val m = Dedup.sourceOverlap(df, "text", "source")
      .as[(String, String, Long, Long)].collect().toSeq
    // only (s1, s2) overlap: inter 1, sizes 2 and 2 -> 1/3 = 333333 ppm
    assert(m === Seq(("s1", "s2", 1L, 333333L)))
    graft.ops.StageCache.releaseAll()
  }

  test("dupMatrix counts distinct shared texts per source pair, once each") {
    val df = Seq(
      ("s1", "alpha"), ("s1", "alpha"), // within-source dup: no self pair
      ("s1", "beta"),
      ("s2", "alpha"), ("s2", "beta"),
      ("s3", "beta"), ("s3", "gamma")).toDF("source", "text")
    val m = Dedup.dupMatrix(df, "text", "source")
      .orderBy("src_a", "src_b")
      .as[(String, String, Long)].collect().toSeq
    assert(m === Seq(("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  // The distinct + self-join forms sourceOverlap and dupMatrix ran
  // before both became one grouped count of the sources sharing a key,
  // kept as their references (the old persist changes no row).
  private def selfJoinOverlap(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col("source"),
      explode(Dedup.shingles(col("text"), 2)).as("tok")).distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    sh.select(col("source").as("src_a"), col("tok"))
      .join(sh.select(col("source").as("src_b"), col("tok")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")),
        Seq("src_b"))
      .withColumn("jac_ppm",
        expr("CAST((1000000 * inter) DIV (sz_a + sz_b - inter) AS BIGINT)"))
      .select("src_a", "src_b", "inter", "jac_ppm")
  }

  private def selfJoinDupMatrix(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dg = df.select(col("source"), md5(col("text")).as("__digest"))
      .distinct()
    dg.select(col("source").as("src_a"), col("__digest"))
      .join(dg.select(col("source").as("src_b"), col("__digest")),
        Seq("__digest"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
  }

  // Seeded corpus: null sources, null/empty/space-only/one-token texts,
  // texts repeated within and across sources, source names whose string
  // order differs from their number order ("s10" < "s2").
  private def overlapCorpus(seed: Long, nSources: Int,
      nDocs: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val odd = Seq(null, "", " ", "   ", "solo", "w1")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until nDocs) texts += (rnd.nextInt(10) match {
      case 0 => odd(rnd.nextInt(odd.size))
      case 1 | 2 if texts.nonEmpty => texts(rnd.nextInt(texts.size))
      case _ => Seq.fill(2 + rnd.nextInt(6))(s"w${rnd.nextInt(14)}")
        .mkString(" ")
    })
    texts.toSeq.map { t =>
      (if (rnd.nextInt(8) == 0) null else s"s${rnd.nextInt(nSources)}", t)
    }.toDF("source", "text")
  }

  test("sourceOverlap and dupMatrix ≡ the distinct + self-join forms on seeded corpora") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (seed <- 1L to 3L; nSources <- Seq(1, 3, 24)) {
      val df = overlapCorpus(seed * 1000 + nSources, nSources, 300)
      val ctx = s"seed=$seed sources=$nSources"
      seen ++= df.as[(String, String)].collect()
      val registered0 = graft.ops.StageCache.registeredCount
      val ov = Dedup.sourceOverlap(df, "text", "source")
        .as[(String, String, Long, Long)].collect().sorted.toSeq
      assert(graft.ops.StageCache.registeredCount === registered0,
        s"$ctx: sourceOverlap registered a persisted stage")
      assert(ov === selfJoinOverlap(df)
        .as[(String, String, Long, Long)].collect().sorted.toSeq, ctx)
      val dm = Dedup.dupMatrix(df, "text", "source")
        .as[(String, String, Long)].collect().sorted.toSeq
      assert(dm === selfJoinDupMatrix(df)
        .as[(String, String, Long)].collect().sorted.toSeq, ctx)
      // the corpus reaches the cases it claims
      if (nSources == 1) assert(ov.isEmpty && dm.isEmpty, ctx)
      else assert(ov.nonEmpty && dm.nonEmpty, ctx)
      if (nSources == 24) {
        assert(ov.map(_._1).toSet.size >= 20, ctx)
        assert(ov.exists(r => r._1 == "s10" && r._2 == "s2"), ctx)
      }
    }
    // and the corpora hold the hostile rows they claim
    for (t <- Seq(null, "", "   ", "solo"))
      assert(seen.exists(_._2 == t), s"no text '$t'")
    assert(seen.exists(_._1 == null), "no null source")
    assert(seen.filter(_._2 != null).groupBy(identity).exists(_._2.size > 1),
      "no repeated (source, text)")
  }

  test("sourceOverlap: sizes come from windows, no join and no broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Dedup.sourceOverlap(overlapCorpus(7L, 5, 200), "text", "source")
    assert(out.collect().nonEmpty)
    val plan = nodes(out.queryExecution.executedPlan)
    assert(!plan.exists(p => p.isInstanceOf[BaseJoinExec] ||
      p.isInstanceOf[BroadcastExchangeLike]), plan.mkString("\n"))
    assert(plan.count(_.isInstanceOf[WindowExec]) === 2)
  }

  test("sub-n-token docs never pair: no all-null-signature bucket collisions") {
    import spark.implicits._
    // 'apple' and 'banana' have ZERO 2-shingles: their signatures
    // would be all-null, every band key md5(''), and the 0/0 Jaccard
    // NaN — which Spark orders above any threshold. The index guard
    // must keep them out entirely while real pairs still form.
    val docs = Seq(
      (1L, "apple"), (2L, "banana"), (3L, ""),
      (10L, "the quick brown fox jumps"),
      (11L, "the quick brown fox jumped")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        n = 2, k = 16, bands = 8, threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 11L)),
      "short docs must not pair with each other or anything else")
    assert(!pairs.exists(p => p._1 <= 3 || p._2 <= 3))
    // the eval path shares the guard AND reports zeros (not NULL /
    // divide-by-zero) when no candidates form at all
    val eval = Dedup.minhashEval(
      Seq((1L, "solo"), (2L, "word")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert((eval.getLong(0), eval.getLong(1), eval.getLong(2)) === ((0L, 0L, 0L)))
  }

  /** Clustered corpus for the rendezvous≡carry pins: 12 clusters of
    * one base + one exact dup + two near variants, plus 24 unique
    * docs — enough candidate pairs (incl. multi-bucket collisions)
    * that a routing bug in the rendezvous verify cannot hide.
    */
  private def rvFixture = {
    val rows = (0 until 12).flatMap { c =>
      val toks = (0 until 10).map(i => s"w${c}_$i")
      val base = toks.mkString(" ")
      Seq(
        (c * 100L + 0L, base),
        (c * 100L + 1L, base),
        (c * 100L + 2L, toks.updated(3, s"x${c}").mkString(" ")),
        (c * 100L + 3L, toks.updated(7, s"y${c}").mkString(" ")))
    } ++ (0 until 24).map(u =>
      (10000L + u, (0 until 8).map(i => s"u${u}_$i").mkString(" ")))
    rows.toDF("doc_id", "text")
  }

  test("verifyRendezvous ≡ verifyCarry: self pairs, both kernels") {
    val corpus = rvFixture
    for (fast <- Seq(true, false)) {
      val idx = Dedup.minhashIndexView(corpus, "doc_id", "text",
        fastKernel = fast)
      val coll = Dedup.selfCollisions(idx)
      val rv = Dedup.verifyRendezvous(coll, idx.shingles, idx.shingles,
          minPairs = 0L)
        .as[(Long, Long, Double)].collect().toSet
      val carry = Dedup.verifyCarry(coll, idx.shingles, idx.shingles)
        .as[(Long, Long, Double)].collect().toSet
      assert(rv === carry, s"fastKernel=$fast")
      // LSH may miss some variant↔variant pairs (2 token edits apart);
      // the base/dup/variant triangle per cluster is the robust floor
      assert(rv.size >= 12 * 3,
        s"clusters must pair densely, got ${rv.size}")
    }
  }

  test("verifyRendezvous ≡ verifyCarry: delta probe, raw and hashed repr") {
    val corpus = rvFixture.filter($"doc_id" % 2 === 0)
    val delta = rvFixture.filter($"doc_id" % 2 === 1)
    val cIdx = Dedup.minhashIndexView(corpus, "doc_id", "text")
    val dIdx = Dedup.minhashIndexView(delta, "doc_id", "text")
    val coll = Dedup.deltaCollisions(cIdx, dIdx)
    // raw-string corpus side (gate off: the tiny fixture must exercise
    // the rendezvous shape itself, not the small-route)
    val rv = Dedup.verifyRendezvous(coll, dIdx.shingles, cIdx.shingles,
        minPairs = 0L)
      .as[(Long, Long, Double)].collect().toSet
    val carry = Dedup.verifyCarry(coll, dIdx.shingles, cIdx.shingles)
      .as[(Long, Long, Double)].collect().toSet
    assert(rv === carry)
    assert(rv.nonEmpty, "cross pairs must form")
    // staged-hashed corpus side (repr=xxh64): both shapes dispatch on
    // the schema and must agree with each other AND with the raw run
    val hashedSh = cIdx.shingles.select($"id",
      Dedup.hashShingles($"sh").as("sh"))
    val hIdx = Dedup.MinhashIndex(hashedSh, cIdx.buckets)
    val rvH = Dedup.verifyRendezvous(coll, dIdx.shingles, hIdx.shingles,
        minPairs = 0L)
      .as[(Long, Long, Double)].collect().toSet
    val carryH = Dedup.verifyCarry(coll, dIdx.shingles, hIdx.shingles)
      .as[(Long, Long, Double)].collect().toSet
    assert(rvH === carryH)
    assert(rvH === rv)
  }

  test("broadcast probe gate: broadcasts under maxIndexDocs, falls back over it") {
    // r14: the index-size bound is the gate's only term (a corpus×index
    // product term calibrated on string-era numbers picked the loser,
    // SCALE.md Round 14). An index under a slack cap — including the
    // default — must keep the broadcast plan, a cap below the index
    // size must pick the big-vs-big plan; results identical either way.
    val bench = docs.filter($"doc_id" % 2 === 0)
    val probe = docs.filter($"doc_id" % 2 === 1)
    val benchIdx = Dedup.minhashIndexView(bench, "doc_id", "text")
    def pairs(maxIndexDocs: Long) =
      Dedup.minhashPairsBroadcastIndex(benchIdx, probe, "doc_id", "text",
        threshold = 0.1, maxIndexDocs = maxIndexDocs)
    // marker: in optimizedPlan the broadcast() hint survives as a
    // JoinHint (strategy=broadcast) — ResolvedHint nodes are already
    // eliminated at that stage
    def planOf(maxIndexDocs: Long): String =
      pairs(maxIndexDocs).queryExecution.optimizedPlan.toString
    assert(!planOf(1L).contains("strategy=broadcast"),
      "an index over the cap must route to the incremental fallback")
    assert(planOf(1000000L).contains("strategy=broadcast"),
      "an index under the cap must keep the broadcast plan")
    assert(Dedup.minhashPairsBroadcastIndex(benchIdx, probe, "doc_id",
        "text", threshold = 0.1).queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"),
      "the default cap must keep a fixture-sized index broadcast")
    def rows(maxIndexDocs: Long): Set[(Long, Long, Double)] =
      pairs(maxIndexDocs).as[(Long, Long, Double)].collect().toSet
    assert(rows(1L) === rows(1000000L))
    assert(rows(1000000L).nonEmpty)
  }

  test("paragraphDedupNewline: keep-first over \\n paragraphs incl. empty runs") {
    // independent plain-Scala reference of the CCNet rule: split('\n')
    // keeping ALL empties, keep first occurrence corpus-wide ordered
    // by (id, pos), reassemble with '\n'
    val fixture = Seq(
      (1L, "alpha\nbeta\n\nalpha"),   // repeat of own para 0 at pos 3
      (2L, "beta\ngamma\n"),          // 'beta' already owned by doc 1
      (3L, "\n\ndelta"),              // leading empty run: 2nd empty drops
      (4L, ""))                       // single empty para, already owned
    val byPara = scala.collection.mutable.Map.empty[String, (Long, Int)]
    for ((id, t) <- fixture; (p, i) <- t.split("\n", -1).zipWithIndex) {
      val cur = byPara.get(p)
      if (cur.isEmpty || Ordering[(Long, Int)].lt((id, i), cur.get))
        byPara(p) = (id, i)
    }
    val expect = fixture.map { case (id, t) =>
      val paras = t.split("\n", -1).zipWithIndex
      val kept = paras.filter { case (p, i) => byPara(p) == ((id, i)) }
      (id, paras.length.toLong, kept.length.toLong,
        md5Hex(kept.map(_._1).mkString("\n")))
    }.toSet
    val got = Dedup.paragraphDedupNewline(
        fixture.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got === expect)
    // the empty-run pin, explicitly: doc 3's SECOND leading blank and
    // doc 4's whole text lose to doc 1's blank at (1, 2)
    val d3 = got.find(_._1 == 3L).get
    assert(d3._2 === 3L && d3._3 === 1L, "only 'delta' survives in doc 3")
    val d4 = got.find(_._1 == 4L).get
    assert(d4._2 === 1L && d4._3 === 0L && d4._4 === md5Hex(""))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("rendezvous verify: per-pair shingle arrays cross no exchange") {
    // the design's whole point: the group map table joins the pair
    // spine on __rv ALONE, both per-pair lookups happen inside one
    // projection, and the per-pair sh_a/sh_b columns exist only
    // transiently in that stage — no Exchange may carry them (the
    // carry shape's join-1 output, 36.4 of 44.3 GB at the 1000× tier,
    // did exactly that). Broadcast and AQE are disabled so the small
    // fixture plans the at-scale static SMJ shape, not a BHJ that
    // would vacuously pass.
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val idx = Dedup.minhashIndexView(rvFixture, "doc_id", "text")
      val out = Dedup.verifyRendezvous(
        Dedup.selfCollisions(idx), idx.shingles, idx.shingles,
        minPairs = 0L)
      val exchanges = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      val carrying = exchanges.filter(
        _.output.exists(a => a.name == "sh_a" || a.name == "sh_b"))
      assert(carrying.isEmpty,
        s"per-pair shingle arrays crossed an exchange:\n${carrying.mkString}")
      // and the carry twin really does carry (the pin would be
      // vacuous if the attribute names never hit an exchange at all)
      val carryEx = Dedup.verifyCarry(
        Dedup.selfCollisions(idx), idx.shingles, idx.shingles)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.output.exists(_.name == "sh_a") => e
        }
      assert(carryEx.nonEmpty, "carry twin must exchange sh_a")
      // and the DEFAULT size gate routes this tiny candidate set to
      // the carry shape (broadcast-friendly small side of the
      // measured crossover): per-pair arrays re-appear in the plan
      val gatedEx = Dedup.verifyRendezvous(
        Dedup.selfCollisions(idx), idx.shingles, idx.shingles)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.output.exists(_.name == "sh_a") => e
        }
      assert(gatedEx.nonEmpty,
        "default gate must pick the carry shape below the crossover")
      graft.ops.StageCache.releaseAll()
    }
  }

  test("rendezvous size gate reads spark.graft.rendezvousMinPairs at call time") {
    // one routing pin per gate side (r14 task 5): the session conf —
    // not the compiled-in host constant — decides the shape when the
    // caller leaves minPairs at its VerifyUseConf default. AQE/
    // broadcast off so the tiny fixture plans the at-scale SMJ shape
    // the sh_a-exchange marker distinguishes.
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val idx = Dedup.minhashIndexView(rvFixture, "doc_id", "text")
      def shAExchanges(): Int = {
        val ex = Dedup.verifyRendezvous(
            Dedup.selfCollisions(idx), idx.shingles, idx.shingles)
          .queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.output.exists(_.name == "sh_a") => e
          }
        ex.size
      }
      // gate lowered to 1: the fixture's candidate count clears it ->
      // the rendezvous shape (no exchange carries per-pair arrays)
      withSQLConf(Dedup.RendezvousMinPairsConfKey -> "1") {
        assert(shAExchanges() === 0,
          "conf gate of 1 must route to the rendezvous shape")
      }
      // gate raised past any candidate count -> the carry shape (the
      // per-pair array exchange re-appears)
      withSQLConf(Dedup.RendezvousMinPairsConfKey -> Long.MaxValue.toString) {
        assert(shAExchanges() > 0,
          "a maxed-out conf gate must route to the carry shape")
      }
      graft.ops.StageCache.releaseAll()
    }
  }

  test("VerifyForceCarry skips the pair-table persist and the count job") {
    // the admission path's per-batch fixed-cost fix (r14 ADVICE): the
    // forced-carry sentinel must build a LAZY plan — no StageCache
    // persist registered, no eager count job scheduled at DataFrame-
    // construction time (the size gate runs one of each) — and the
    // result must still be the carry-equivalent pair set.
    graft.ops.StageCache.releaseAll()
    val idx = Dedup.minhashIndexView(rvFixture, "doc_id", "text")
    val coll = Dedup.selfCollisions(idx)
    val registered0 = graft.ops.StageCache.registeredCount
    val sc = spark.sparkContext
    sc.setJobGroup("rv-force-carry-pin", "construction must run no job")
    val forced =
      try Dedup.verifyRendezvous(coll, idx.shingles, idx.shingles,
        minPairs = Dedup.VerifyForceCarry)
      finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("rv-force-carry-pin").isEmpty,
      "forced carry scheduled a job during DataFrame construction")
    assert(graft.ops.StageCache.registeredCount === registered0,
      "forced carry registered a persisted stage")
    // ...while the size-gated default DOES count (and persist): the
    // pin above would be vacuous if construction were always lazy
    sc.setJobGroup("rv-gated-pin", "gate runs the routing count")
    try Dedup.verifyRendezvous(coll, idx.shingles, idx.shingles)
    finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("rv-gated-pin").nonEmpty,
      "the size gate should schedule its routing count at construction")
    val carry = Dedup.verifyCarry(coll, idx.shingles, idx.shingles)
      .as[(Long, Long, Double)].collect().toSet
    val got = forced.as[(Long, Long, Double)].collect().toSet
    assert(got === carry)
    assert(got.nonEmpty)
    graft.ops.StageCache.releaseAll()
  }

  test("verifyRendezvousThresholded ≡ verifyRendezvous∘filter: all routes") {
    // the r16 pre-verify's equivalence pin: the thresholded verify
    // must emit EXACTLY the rows of the one-phase verify followed by
    // the threshold filter — per route (forced carry / small gate /
    // big gate with the 16-bit prefilter on AND off), per kernel, and at
    // thresholds that both drop and keep pairs on this fixture.
    val corpus = rvFixture
    for (fast <- Seq(true, false); threshold <- Seq(0.1, 0.5, 0.95)) {
      val idx = Dedup.minhashIndexView(corpus, "doc_id", "text",
        fastKernel = fast)
      val coll = Dedup.selfCollisions(idx)
      val expect = Dedup.verifyRendezvous(coll, idx.shingles, idx.shingles,
          minPairs = 0L)
        .filter($"jaccard" >= threshold)
        .as[(Long, Long, Double)].collect().toSet
      for ((route, minPairs, pf) <- Seq(
          ("forced-carry", Dedup.VerifyForceCarry, "16"),
          ("small-gate", Long.MaxValue, "16"),
          ("big-gate+prefilter16", 0L, "16"),
          ("big-gate one-phase", 0L, "off"))) {
        val got = withSQLConf(Dedup.VerifyPrefilterConfKey -> pf) {
          Dedup.verifyRendezvousThresholded(coll, idx.shingles,
              idx.shingles, threshold, minPairs)
            .as[(Long, Long, Double)].collect().toSet
        }
        assert(got === expect,
          s"route=$route fast=$fast threshold=$threshold")
      }
      // at the low threshold the fixture must actually keep pairs, at
      // the top it must actually drop some — else the pin is vacuous
      if (threshold == 0.1) assert(expect.size >= 12 * 3)
      graft.ops.StageCache.releaseAll()
    }
  }

  test("thresholded verify: prefilter equivalence on the delta probe, hashed repr") {
    // two-sided (docsA ne docsB) route of the two-phase core, with the
    // corpus side in the staged xxh64 representation — the shape the
    // incremental probe executes at scale
    val corpus = rvFixture.filter($"doc_id" % 2 === 0)
    val delta = rvFixture.filter($"doc_id" % 2 === 1)
    val cIdx = Dedup.minhashIndexView(corpus, "doc_id", "text")
    val dIdx = Dedup.minhashIndexView(delta, "doc_id", "text")
    val hIdx = Dedup.MinhashIndex(
      cIdx.shingles.select($"id", Dedup.hashShingles($"sh").as("sh")),
      cIdx.buckets)
    val coll = Dedup.deltaCollisions(hIdx, dIdx)
    val expect = Dedup.verifyRendezvous(coll, dIdx.shingles, hIdx.shingles,
        minPairs = 0L)
      .filter($"jaccard" >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val got = withSQLConf(Dedup.VerifyPrefilterConfKey -> "16") {
      Dedup.verifyRendezvousThresholded(coll, dIdx.shingles, hIdx.shingles,
          0.3, minPairs = 0L)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(got === expect)
    assert(got.nonEmpty, "cross pairs must survive at 0.3")
    graft.ops.StageCache.releaseAll()
  }

  test("verify prefilter conf routes at call time") {
    // spark.graft.verifyPrefilter is read when the plan is BUILT. The
    // marker is the StageCache registration count, because the
    // shiftright(x, 48) truncation hides inside the persisted survivor
    // stage's cached plan (not printable from the outer plan string):
    // the two-phase shape registers TWO stages (pair table + phase-1
    // survivors) where the one-phase shape registers one.
    val idx = Dedup.minhashIndexView(rvFixture, "doc_id", "text")
    def registrations(pf: String): Int = {
      graft.ops.StageCache.releaseAll()
      val before = graft.ops.StageCache.registeredCount
      withSQLConf(Dedup.VerifyPrefilterConfKey -> pf) {
        Dedup.verifyRendezvousThresholded(
            Dedup.selfCollisions(idx), idx.shingles, idx.shingles,
            0.5, minPairs = 0L)
          .collect()
      }
      graft.ops.StageCache.registeredCount - before
    }
    assert(registrations("16") === 2,
      "prefilter 16 must persist pair table AND phase-1 survivors")
    assert(registrations("off") === 1,
      "prefilter off must persist only the pair table")
    // malformed conf fails with the key named, at construction — and
    // so do the retired 32-bit tier's values "32" and "true"
    for (bad <- Seq("maybe", "32", "true")) {
      val e = intercept[IllegalArgumentException] {
        withSQLConf(Dedup.VerifyPrefilterConfKey -> bad) {
          Dedup.verifyRendezvousThresholded(
            Dedup.selfCollisions(idx), idx.shingles, idx.shingles,
            0.5, minPairs = 0L)
        }
      }
      assert(e.getMessage.contains(Dedup.VerifyPrefilterConfKey), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
    graft.ops.StageCache.releaseAll()
  }

  test("thresholded forced carry stays construction-lazy") {
    // admissionDrops routes through verifyRendezvousThresholded since
    // r16; the per-micro-batch laziness contract (no persist, no job
    // at construction) must survive the rerouting
    graft.ops.StageCache.releaseAll()
    val idx = Dedup.minhashIndexView(rvFixture, "doc_id", "text")
    val coll = Dedup.selfCollisions(idx)
    val registered0 = graft.ops.StageCache.registeredCount
    val sc = spark.sparkContext
    sc.setJobGroup("rvt-force-carry-pin", "construction must run no job")
    val forced =
      try Dedup.verifyRendezvousThresholded(coll, idx.shingles,
        idx.shingles, 0.3, minPairs = Dedup.VerifyForceCarry)
      finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("rvt-force-carry-pin").isEmpty,
      "thresholded forced carry scheduled a job during construction")
    assert(graft.ops.StageCache.registeredCount === registered0,
      "thresholded forced carry registered a persisted stage")
    assert(forced.as[(Long, Long, Double)].collect().nonEmpty)
    graft.ops.StageCache.releaseAll()
  }
}
