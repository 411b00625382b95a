package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.text.TextAnalysis

/** Deduplication kit for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed for the 100 TB shape:
  *
  *  - exact dedup is one hash-partitioned window (no driver state);
  *  - MinHash/LSH never compares all pairs — each doc emits `bands`
  *    bucket keys, candidate pairs only form inside a bucket (the
  *    classic shingle→minhash→band→bucket-join), so the join fans out
  *    per-bucket, not O(n²);
  *  - hashes are md5-based (not xxhash) so signatures are reproducible
  *    in any engine — the DuckDB oracle computes the very same buckets.
  *
  * Execution notes (these made a 10×+ difference at sf0.1):
  *  - a self-join runs its subtree once per side, so the stages that
  *    feed one (minhash/simhash buckets, pair tables) are persisted
  *    where that measured faster than recompute; source overlap and
  *    the dup matrix are grouped forms with no self-join or persist;
  *  - the md5 kernels (minhash signatures, simhash bits, span window
  *    digests) are native codegen'd expressions in graft.functions,
  *    because higher-order lambdas run interpreted with per-element
  *    closure dispatch;
  *  - the bucket self-join carries only (id, band, bucket); shingle
  *    sets rejoin AFTER candidate pairs are distinct, with no hint —
  *    AQE broadcasts the small side locally, and at cluster scale the
  *    corpus side stays a shuffled hash join keyed by id;
  *  - md5 runs once per token, never once per (token × sketch-dim).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical value of
    * `textCol` (hash-groupBy semantics via one window shuffle).
    *
    * The window keys on md5(text) FIRST and the text second: the
    * shuffle hash and the in-partition sort then resolve on a 32-char
    * uniformly-random digest instead of comparing multi-KB documents
    * (near-dup corpora share long prefixes — the worst case for
    * string sort). Keeping the raw text in the partition spec makes
    * the result exact even under a digest collision.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__dig"), col(textCol)).orderBy(col(idCol))
    df.withColumn("__dig", unhex(md5(col(textCol))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__dig")
  }

  /** Exact-substring span dedup (the ExactSubstr op of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * per document, how many of its distinct `w`-token windows appear
    * verbatim in at least one OTHER document. Whole-doc dedup misses
    * boilerplate (licenses, navigation chrome, quoted replies) pasted
    * into otherwise-distinct pages; span-level counts are what a
    * training pipeline cuts on.
    *
    * Scale shape: each doc emits its distinct rolling windows
    * keyed by md5 digest — a 32-char key crosses the shuffle, never
    * the window text — and "shared" resolves as one count-over window
    * on the digest (rows per digest = docs per digest, because the
    * (doc, digest) pairs are distinct). That plus the per-doc count
    * are the only two shuffles, both map-side combinable; cost is
    * O(total tokens), independent of duplicate-cluster size — the
    * suffix-array formulation of the paper is the single-node answer,
    * the inverted digest index is the distributed one. Returns
    * (idCol, n_spans, n_dup_spans) for every input row; docs shorter
    * than `w` tokens have zero spans.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 1, s"window w=$w must be >= 1")
    // The span map pass runs twice per execution of this frame: under
    // the digest groupBy (the shared digests it keeps are the join-back's
    // build side) and as the probe side, which differ below their
    // exchanges. A caller's global ORDER BY adds a third run. A fixed
    // multiple of one cheap MD5-per-window pass: persisting the span
    // stream measured no faster (SCALE.md, "Span dedup persist vs
    // recompute"; the cache build is a full columnar pass). On a small
    // one-split input each run also re-reads the scan under the spread
    // once per task (OneTaskSplitExec): the runs share no exchange, as
    // they would over a shuffled spread.
    spanDupCounts(spanStream(df, idCol, textCol, w), idCol)
  }

  /** The (id, 16-byte window digest) stream behind [[duplicateSpans]]:
    * one row per DISTINCT rolling `w`-token window per doc (plus one
    * null-digest row for sub-`w` docs, so every input id survives the
    * downstream aggregate).
    */
  private def spanStream(df: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame = {
    // Digests ride the shuffle as raw 16-byte md5s, not 32-char hex:
    // the digest IS the shuffle key for the whole pipeline, so this
    // halves key bytes on the window-explode stages (outputs are
    // counts; the hex form never leaves the operator)
    val wins = graft.functions.SketchExpressions.windowDigests(
      split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), w, distinct = true)
    graft.ops.InputLayout.spread(df, col(idCol))
      .select(col(idCol), explode_outer(wins).as("__dig"))
  }

  /** [[duplicateSpans]]' aggregation tail over a [[spanStream]]. */
  private def spanDupCounts(spans: DataFrame,
      idCol: String): DataFrame = {
    // per-digest doc count via groupBy + join-back, NOT a window: the
    // window form has no map-side combine, so one boilerplate digest
    // shared by 10M docs funnels 10M rows into a single window
    // partition — the exact skew this operator targets. The groupBy
    // partially aggregates the hot digest map-side, and AQE's
    // skew-join covers the residue. The join-back's build side holds
    // only the digests shared by 2+ docs, keyed by their xxhash64: a
    // long key builds a compact LongHashedRelation where a binary key's
    // map pins a whole 32 MB page until the ContextCleaner frees it.
    // The digest check stays exact as a residual condition (coalesce
    // keeps Catalyst from lifting it into the key).
    val shared = spans.filter(col("__dig").isNotNull)
      .groupBy("__dig").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
      .select(xxhash64(col("__dig")).as("__h"), col("__dig").as("__sdig"),
        col("__docs"))
    spans
      .join(shared, xxhash64(col("__dig")) === col("__h") &&
        coalesce(col("__dig") === col("__sdig"), lit(false)), "left")
      .groupBy(idCol)
      .agg(count(col("__dig")).as("n_spans"),
        count(col("__docs")).as("n_dup_spans"))
  }

  /** ExactSubstr APPLY step (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): remove every token covered by a
    * w-token window that appears verbatim in another, lower-id
    * document. The companion to [[duplicateSpans]] — that one REPORTS
    * span duplication, this one produces the cleaned corpus.
    *
    * Ownership semantics: for each duplicated window digest the
    * minimum document id is the canonical owner and keeps all of its
    * occurrences; every other document drops all tokens covered by
    * that window. Within-doc repetitions inside the owner are kept
    * (cross-document dedup only), matching the reference intent of
    * removing boilerplate shared across crawl records.
    *
    * Scale shape: positions ride the shuffle as (id, offset) longs and
    * digests as 16-byte md5s — never the window text. Stages:
    * window digests (map-side) → digest stats groupBy (owner, doc
    * count) → keyed join back → covered-position explode → per-doc
    * sorted position set (set-dedup inside the aggregate, binary-
    * search membership in the token filter) → one keyed join onto the
    * corpus. Cost is
    * O(total windows), independent of duplicate-cluster size; no
    * self-join, no quadratic anywhere.
    *
    * Returns (idCol, n_tokens, n_removed, clean_md5) — the md5 of the
    * space-joined surviving tokens, so multi-KB cleaned text never has
    * to leave the executors for verification.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w >= 1, s"window w=$w must be >= 1")
    val toks = col("__toks")
    val base = graft.ops.InputLayout.spread(df, col(idCol))
      .select(col(idCol),
        split(trim(col(textCol)), "[ \\t\\n\\r\\f]+").as("__toks"))
    // one row per (doc, window offset); posexplode of an empty array
    // emits nothing, so sub-w docs simply never produce windows (they
    // rejoin via the final left join with zero removals)
    // 16-byte binary digests for the same reason as duplicateSpans:
    // __dig keys the stats aggregate and the probe join
    val wins = base.select(col(idCol), posexplode(
        graft.functions.SketchExpressions.windowDigests(toks, w, distinct = false))
      .as(Seq("__off", "__dig")))
    val stats = wins.groupBy("__dig").agg(
      countDistinct(col(idCol)).as("__docs"),
      min(col(idCol)).as("__owner"))
    val covered = wins.join(stats, "__dig")
      .where(col("__docs") >= 2 && col(idCol) =!= col("__owner"))
      // window at 0-based offset o covers 1-based token positions
      // o+1 .. o+w; overlapping windows dedupe inside collect_set (a
      // pre-aggregation distinct() would be a second shuffle of the
      // operator's largest intermediate for a dedup the set already
      // performs, partially map-side). The set is SORTED so the final
      // membership filter can binary-search: a dup-heavy 100k-token
      // doc has a covered set as long as itself, and a linear
      // array_contains scan per token is O(n·m) inside one row —
      // quadratic exactly on the docs this operator exists for.
      .select(col(idCol),
        explode(sequence(col("__off") + 1, col("__off") + w)).as("__p"))
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("__p"))).as("__cov"))
    val covContains = graft.functions.SketchExpressions
      .sortedContainsInt(col("__cov"), _: Column)
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ", filter(toks, (_, i) =>
          !coalesce(covContains(i + 1), lit(false)))))
          .as("clean_md5"))
  }

  /** CCNet-style corpus-wide paragraph dedup with reassembly (Wenzek
    * et al. 2020): split each doc into `k`-token paragraphs (the
    * fixture corpus is single-line, so fixed token blocks stand in for
    * newline paragraphs; [[paragraphDedupNewline]] is the literal
    * newline-unit mode over the same pipeline), keep only the FIRST
    * occurrence
    * of each distinct paragraph corpus-wide — ordered by (doc id,
    * paragraph position) — and reassemble every doc from its surviving
    * paragraphs in original order. Output per doc: `n_paras`,
    * `n_kept`, and `kept_md5` (md5 of the space-joined surviving
    * paragraphs — when nothing is dropped it equals the md5 of the
    * whitespace-normalized text, and the multi-KB reassembled texts
    * never cross to the oracle comparison, same convention as
    * [[removeDuplicateSpans]]).
    *
    * Scale shape — MEASURED, not assumed (SCALE.md, Round 13): the
    * winner per digest is a `row_number() == 1` window over
    * (id, pos), because on Spark 3.5+ the rank-limit rewrite
    * (WindowGroupLimit, plan-audited to fire here) collapses hot
    * digests MAP-SIDE — at most one candidate row per digest per map
    * partition reaches the exchange, so the crawl-scale hot key (one
    * boilerplate paragraph repeated 10⁹ times) is bounded by the map
    * partition count, never sorted in one task. The window also keeps
    * the paragraph text ON the winner row, which deletes the
    * join-back a min(struct)-aggregate formulation needs: at the 100×
    * tier the window plan moves 271 vs 341 MB of text and runs 5 vs 7
    * jobs, faster on both the natural and the hot-key corpus. The
    * aggregate formulation survives as [[paragraphDedupAggJoin]] —
    * the portable skew-safe shape for engines WITHOUT the
    * WindowGroupLimit rewrite, where a bare window really does sort
    * every hot-key copy in one task (output equality is spec-pinned).
    * Two text-carrying shuffles total (digest window, reassembly
    * groupBy) — the floor for reassembly semantics. Complements
    * [[duplicateSpans]] / [[removeDuplicateSpans]] (rolling-window
    * span dedup): paragraphs are aligned disjoint blocks, the unit
    * real pipelines (CCNet, RefinedWeb) dedup before any fuzzy pass.
    * `idCol` must be unique per row (the library-wide dedup
    * convention): the window orders winners by (id, pos), and the
    * aggregate twin's join-back relies on (id, pos) being a unique
    * key for its spec-pinned output equality.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"paragraph size k=$k must be >= 1")
    val toks = col("__toks")
    // ceil(n/k) paragraphs; the trailing short block keeps the tail.
    // split("") = [""] on both engines, so an all-whitespace doc still
    // yields one (empty) paragraph and every input id survives.
    val nb = ceil(size(toks).cast("double") / lit(k.toDouble)).cast("int")
    val base = graft.ops.InputLayout.spread(df, col(idCol))
      .select(col(idCol),
        split(trim(col(textCol)), "[ \\t\\n\\r\\f]+").as("__toks"))
      .select(col(idCol), transform(sequence(lit(0), nb - 1),
        i => concat_ws(" ", slice(toks, i * k + 1, lit(k)))).as("__paras"))
    paragraphKeepFirst(base, idCol, " ")
  }

  /** [[paragraphDedup]] in TRUE CCNet paragraph units: newline-split
    * paragraphs (Wenzek et al. 2020 split docs on `\n`; the k-token
    * form exists because the bundled fixture corpus is single-line).
    * Same corpus-wide keep-first rule, same (n_paras, n_kept,
    * kept_md5) output contract with `\n` as the reassembly joiner.
    *
    * Empty paragraphs ARE paragraphs: split keeps leading/trailing
    * empties and empty runs (limit -1 semantics, matching DuckDB's
    * string_split), so the corpus's FIRST blank line survives and
    * every later blank line drops — the uniform keep-first rule, with
    * blank-line boilerplate treated like any other repeated
    * paragraph (spec-pinned, incl. empty-run fixtures). Same id-
    * uniqueness precondition and WindowGroupLimit scale shape as
    * [[paragraphDedup]].
    */
  def paragraphDedupNewline(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    paragraphKeepFirst(
      graft.ops.InputLayout.spread(df, col(idCol))
        .select(col(idCol), split(col(textCol), "\n", -1).as("__paras")),
      idCol, "\n")

  /** Shared corpus-wide keep-first core of [[paragraphDedup]] /
    * [[paragraphDedupNewline]]: `base` = (idCol, __paras array), `sep`
    * = the reassembly joiner. Winner per digest is the rn==1 window —
    * see [[paragraphDedup]]'s scaladoc for why that shape (map-side
    * WindowGroupLimit) beats the agg+join twin.
    */
  private def paragraphKeepFirst(base: DataFrame, idCol: String,
      sep: String): DataFrame = {
    // 16-byte binary digest keys the winner window, same convention
    // (and reason) as spanStream's __dig. (Input spread happens on the
    // RAW frame in the public entries, below the paragraph build, so
    // the tokenize/slice work parallelizes too — §2.5.)
    val ex = base.select(col(idCol),
        posexplode(col("__paras")).as(Seq("__pos", "__para")))
      .withColumn("__dig", unhex(md5(col("__para"))))
    // row_number + rn==1 is the shape WindowGroupLimit rewrites into a
    // map-side partial top-1 per digest (see scaladoc); rank() would
    // qualify too but row_number states the intent exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__dig").orderBy(col(idCol), col("__pos"))
    val kept = ex.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    // array_sort on struct(pos, para) orders by pos (unique per doc);
    // collect_list + sort is the standard deterministic reassembly
    val assembled = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para")))).as("kept_md5"))
    base.select(col(idCol), size(col("__paras")).cast("long").as("n_paras"))
      .join(assembled, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** WITHIN-doc paragraph keep-first (the per-document repeated-block
    * removal step of RefinedWeb/Dolma-style pipelines, run before any
    * corpus-wide pass): drop every repeat of a `k`-token block inside
    * the SAME document, keep first occurrences in order, reassemble.
    * Output shape matches [[paragraphDedup]] (n_paras, n_kept,
    * kept_md5) so the two compose as stages of one cleaning story.
    *
    * Scale shape: entirely MAP-SIDE — every decision is a function of
    * one row (order-preserving distinct via first-index test inside
    * the blocks array), so the plan is a single projection over the
    * scan with ZERO exchanges at any corpus size; it composes with
    * any downstream op without adding a shuffle boundary. The
    * first-index membership test is O(blocks²) per doc with tiny
    * constants (array_position over ≤ a few hundred blocks), bounded
    * by document length, not corpus size.
    */
  def paragraphDedupWithinDoc(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"paragraph size k=$k must be >= 1")
    val toks = col("__toks")
    val nb = ceil(size(toks).cast("double") / lit(k.toDouble)).cast("int")
    val blocks = transform(sequence(lit(0), nb - 1),
      i => concat_ws(" ", slice(toks, i * k + 1, lit(k))))
    df.select(col(idCol), split(trim(col(textCol)), "[ \\t\\n\\r\\f]+")
        .as("__toks"))
      .withColumn("__paras", blocks)
      // keep block i iff its FIRST occurrence index is i (1-based
      // array_position; order-preserving distinct)
      .withColumn("__kept", filter(col("__paras"),
        (p, i) => array_position(col("__paras"), p) === (i + 1).cast("long")))
      .select(col(idCol),
        size(col("__paras")).cast("long").as("n_paras"),
        size(col("__kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("__kept"))).as("kept_md5"))
  }

  /** Harness twin of [[paragraphDedup]] with the min(struct) AGGREGATE
    * + join-back winner formulation — the portable skew-safe shape for
    * engines WITHOUT the WindowGroupLimit rank-limit rewrite, where a
    * bare window really does sort every hot-key copy in one task. On
    * Spark 3.5+ it is strictly the worse plan (the join-back adds a
    * text exchange and two jobs; the r13 skew A/B measured it slower
    * on both the natural and the hot-key corpus, SCALE.md Round 13),
    * so the production operator uses the window; this stays as the
    * documented fallback shape. Output is identical by construction
    * (min(struct(id, pos)) ≡ row_number 1 ordered by (id, pos);
    * pinned in DedupSpec) — PROVIDED `idCol` is unique per row, the
    * same id-uniqueness convention every dedup operator here assumes:
    * with duplicate doc ids, (id, pos) is no longer a unique key, so
    * the join-back keeps EVERY row matching the winning (id, pos)
    * where row_number keeps exactly one, and the two formulations
    * silently diverge rather than fail.
    */
  private[graft] def paragraphDedupAggJoin(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"paragraph size k=$k must be >= 1")
    val toks = col("__toks")
    val base = df.select(col(idCol),
      split(trim(col(textCol)), "[ \\t\\n\\r\\f]+").as("__toks"))
    val nb = ceil(size(toks).cast("double") / lit(k.toDouble)).cast("int")
    val ex = base.select(col(idCol),
        posexplode(transform(sequence(lit(0), nb - 1),
          i => concat_ws(" ", slice(toks, i * k + 1, lit(k)))))
          .as(Seq("__pos", "__para")))
      .withColumn("__dig", unhex(md5(col("__para"))))
    // map-combinable winner agg; the join-back that flags survivors is
    // AQE-skew-splittable because the winner side is one row per digest
    val wins = ex.groupBy("__dig")
      .agg(min(struct(col(idCol), col("__pos"))).as("__w"))
      .select(col("__dig"), col("__w").getField(idCol).as("__wid"),
        col("__w").getField("__pos").as("__wpos"))
    val kept = ex.join(wins, Seq("__dig"))
      .where(col(idCol) === col("__wid") && col("__pos") === col("__wpos"))
    val assembled = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para")))).as("kept_md5"))
    base.select(col(idCol), nb.cast("long").as("n_paras"))
      .join(assembled, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** Distinct word n-shingles of the text, sorted (set semantics).
    * Native single-pass expression; semantics identical to the
    * composable split→slice→concat_ws→distinct→sort chain the oracle
    * evaluates.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(text, n)

  /** MinHash signature: k lexicographic minima of seeded md5 over the
    * shingle set. md5 is uniform enough for Jaccard estimation and is
    * bit-identical across engines (vs engine-private xxhash). Native
    * codegen'd expression; the equivalent HOF form
    * (`transform(sequence(1,k), s -> array_min(transform(sh, md5(s:x))))`)
    * is what the oracle runs.
    */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    graft.functions.SketchExpressions.minhashSig(shingleSet, k)

  /** Production MinHash signature: one md5 per shingle + k affine
    * permutations — ≈k× fewer digests than [[minhashSignature]], the
    * dominant CPU line of a 100 TB sketch pass. The DEFAULT kernel for
    * new indexes since round 12 (every r10/r11 measurement favors it:
    * ~10× cheaper sketch stage, heap-insensitive, admission tie at
    * worst — SCALE.md); the md5-lex-min kernel stays available via
    * `fastKernel = false` for pipelines whose published oracles or
    * staged indexes pin it (kernels are index identity — band keys
    * from the two never collide). The banding and
    * verify stages are kernel-agnostic (signature values ride as their
    * decimal string forms). Arithmetic and constants documented at
    * [[graft.functions.SketchOps.minhashSigFast]]; the
    * q_dedup_minhash_fast oracle replays them verbatim in DuckDB.
    *
    * EMPTY-SET CAVEAT (differs from [[minhashSignature]], which yields
    * an all-NULL signature): an empty shingle array has no minimum, so
    * every slot reports the `Long.MaxValue` sentinel — all empty docs
    * share ONE signature and would all-pair inside every band bucket.
    * The pipeline operators never feed it an empty set
    * ([[minhashIndexView]] filters `size(sh) > 0` first); direct
    * callers must apply the same guard or accept m²/2 spurious
    * candidates over their m shingle-less docs.
    */
  def minhashSignatureFast(shingleSet: Column, k: Int): Column =
    graft.functions.SketchExpressions.minhashSigFast(shingleSet, k)
      .cast("array<string>")

  /** LSH band keys: split the k-length signature into `bands` bands of
    * k/bands rows each; band key = md5 of the concatenated band slice.
    */
  def lshBands(signature: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", slice(signature, b * lit(r) + 1, lit(r)))))
  }

  /** Exact Jaccard of two SORTED distinct-element arrays: single merge
    * walk for the intersection; union size by arithmetic (sets are
    * distinct, so |A∪B| = |A|+|B|-|A∩B|).
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.SketchExpressions.sortedIntersectSize(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Hashed-verify representation of a shingle set: sorted xxhash64
    * longs. The verify joins exchange these instead of the raw shingle
    * STRING arrays — 8-byte fixed-width elements, ~3-4× fewer bytes
    * per row (the 1000×-tier probe measured the string form exhausting
    * the host's shuffle scratch at 5M docs, SCALE.md r12). Jaccard over
    * the hashed sets differs from Jaccard over the strings only under a
    * 64-bit collision, of which there are two kinds: (a) two distinct
    * shingles of the SAME doc collide (shrinks that set — ~|doc|²/2⁶⁵
    * per doc); (b) a shingle of A collides with a DIFFERENT shingle of
    * B (inflates that pair's intersect count by 1 — ~|A|·|B|/2⁶⁴ per
    * verified pair, and across P verified candidate pairs the expected
    * spurious-hit count is ~P·|A|·|B|/2⁶⁴, the dominant term at
    * cluster scale: ~10⁻⁹ even at 10⁹ pairs × 50²-shingle docs).
    * Both terms are negligible; the registered queries' oracle hashes
    * are bit-identical. The STAGED index format stores hashed longs
    * since round 13 ([[graft.streaming.CorpusStreams]] stamps
    * `repr=xxh64` into `_index_params`); legacy raw-string staged
    * tables keep working — every verify site dispatches on the
    * shingle column's schema via [[verifySh]].
    */
  private def hashedSh(c: Column): Column =
    sort_array(transform(c, t => xxhash64(t)))

  /** The canonical staged/verify form of a raw shingle-set column —
    * public face of the hashed representation for staging writers
    * (CorpusStreams).
    */
  def hashShingles(c: Column): Column = hashedSh(c)

  /** True iff `dt` is the hashed shingle representation (array<long>).
    * THE single repr-dispatch predicate — [[verifySh]] and the staging
    * writers' `_index_params` stamping (CorpusStreams) both key on it,
    * so the two sites cannot drift if the representation ever evolves.
    */
  private[graft] def isHashedShingles(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }

  /** Representation dispatch for a shingle frame (id, sh): already-
    * hashed staged tables (array<long>, sorted at write) pass through
    * a defensive sort_array; raw string sets hash here. Keyed on the
    * SCHEMA so a staged index in either representation verifies
    * correctly with no caller flag — a mixed-REPRESENTATION probe
    * cannot produce wrong Jaccards the way a mixed-kernel probe
    * silently could, because both sides of every verify go through
    * this dispatch and meet as SORTED xxhash64 longs. The sort is
    * idempotent (hence free of semantic effect) on the staged form,
    * which [[hashShingles]] sorts at write; it exists because the
    * merge-walk intersect treats sortedness as a correctness invariant
    * and a caller-supplied UNSORTED long array would otherwise
    * silently undercount intersections (dropped near-dup pairs, no
    * error) — an O(|sh| log |sh|) per-row insurance against a wrong-
    * answer class, negligible next to the verify exchange it feeds.
    */
  private def verifySh(df: DataFrame): Column =
    if (isHashedShingles(df.schema("sh").dataType)) sort_array(col("sh"))
    else hashedSh(col("sh"))

  /** Truncated pre-verify representation: the HIGH 16 bits of each
    * sorted xxhash64 shingle hash, as smallints — 2 bytes/element, a
    * QUARTER of the exact form's exchange bytes. `x >> 48` is monotone
    * over signed longs, so the projection of the sorted array is
    * ALREADY sorted (no re-sort) and always fits a smallint exactly
    * (no ANSI overflow). Truncation preserves equality, so the
    * merge-walk multiset intersect over these values is >= the 64-bit
    * intersect (min is superadditive over preimage counts), making
    * [[jaccard]] over this form a sound UPPER BOUND on the exact
    * hashed Jaccard: a pair below threshold here is definitively below
    * threshold — the pre-verify drop rule of
    * [[verifyRendezvousThresholded]]. The bound's slack is a 16-bit
    * collision between DIFFERENT shingles of the two sides:
    * ~|A|·|B|/2¹⁶ expected spurious intersections per pair (~0.04 at
    * the corpus's measured m≈51) — false survivors that cost one
    * phase-2 exact check each, never a wrong answer. 16 rather than 32
    * bits: the 32-bit form measured the same wall with 3.6 GB more
    * shuffle at the 1000× tier (SCALE.md, Round 16).
    */
  private def truncSh16(df: DataFrame): Column =
    transform(verifySh(df), x => shiftright(x, 48).cast("smallint"))

  /** MinHash+LSH near-duplicate pairs over `df(idCol, textCol)`:
    * candidates from shared LSH buckets, verified with exact Jaccard on
    * the shingle sets. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * CACHE CONTRACT: each call registers one persisted bucket stage in
    * [[graft.ops.StageCache]] (it cannot be unpersisted before the lazy
    * result is consumed). Callers invoking this in a loop should call
    * `StageCache.releaseAll()` once the returned frame has been
    * consumed — Verify/Bench do this between queries — or the cached
    * stages accumulate for the session lifetime. Same contract on
    * [[minhashEval]].
    */
  // No broadcast hint on the shingle sides of the verify joins: the
  // corpus is the BIG side at scale (AQE broadcasts it locally where it
  // is tiny; on a cluster these become shuffled hash joins keyed by id).
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 16, bands: Int = 8, threshold: Double = 0.3,
      fastKernel: Boolean = true): DataFrame =
    // buckets persisted, shingles not: the bucket table is the ONLY
    // multi-consumer stage (both self-join sides), and it carries the
    // k-MD5-per-shingle sketch kernel — the pipeline's dominant CPU.
    // The r8 shape left it unpersisted and leaned on exchange reuse to
    // share the sketch pass between the join sides; when reuse fails
    // to materialize (AQE replanning makes it best-effort, and the
    // driver's r9 run showed the 2× recompute bill at the 10× tier)
    // the kernel runs once PER SIDE. Persisting trades that cliff for
    // one columnar cache build of ~24-byte (id, band, bucket) rows —
    // measured FASTER even when reuse fires (4.3 s vs 5.5 s min-of-2
    // at the 10× tier, SCALE.md Round 10) because the cache build also
    // replaces the double shuffle write. The verify-side shingle
    // recomputes stay unpersisted map passes (string-array caches cost
    // more than they save, same section). MinhashPlanSpec pins the
    // single-sketch-subtree shape so a regression fails CI instead of
    // doubling the 100 TB sketch bill.
    minhashPairsFromIndex(
      oneShotIndex(df, idCol, textCol, n, k, bands, fastKernel), threshold)

  /** [[minhashIndexView]] with ONLY the bucket table persisted — the
    * one-shot pipeline shape (see [[minhashPairs]]). StageCache-
    * registered: Verify/Bench release it between queries.
    */
  private def oneShotIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, fastKernel: Boolean = true): MinhashIndex = {
    val idx = minhashIndexView(df, idCol, textCol, n, k, bands, fastKernel)
    MinhashIndex(idx.shingles, graft.ops.StageCache.persisted(idx.buckets))
  }

  /** The staged MinHash index of a corpus: the banded bucket table
    * (id, band, bucket) and the shingle-set table (id, sh) — the two
    * artifacts a running dedup pipeline persists to storage (parquet
    * staging tables at cluster scale) so that daily deltas can probe
    * for near-dups WITHOUT ever re-reading or re-sketching the corpus.
    */
  final case class MinhashIndex(shingles: DataFrame, buckets: DataFrame)

  /** Build the [[MinhashIndex]] for `df` — one pass over the corpus
    * (shingle → signature → banded buckets, same parameters as
    * [[minhashPairs]]), with BOTH frames StageCache-persisted: every
    * consumer (pair self-join sides, a staging append, the within-
    * batch + vs-corpus probes of a streaming admission step) would
    * otherwise recompute the sketch kernel. This is the in-session
    * multi-consumer shape; the durable staged form (parquet tables
    * whose reload carries no lineage back to the corpus text) lives in
    * [[graft.streaming.CorpusStreams]], which writes these frames out
    * and probes them across batches/jobs.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 16, bands: Int = 8,
      fastKernel: Boolean = true): MinhashIndex = {
    val MinhashIndex(sh0, _) = minhashIndexView(df, idCol, textCol, n, k, bands)
    val sh = graft.ops.StageCache.persisted(sh0)
    // buckets persisted too: every consumer (pair self-join sides, the
    // staging write) would otherwise recompute the k-way md5 signature
    val sig = if (fastKernel) minhashSignatureFast(col("sh"), k)
              else minhashSignature(col("sh"), k)
    val b = graft.ops.StageCache.persisted(
      sh.withColumn("sig", sig)
        .select(col("id"), posexplode(lshBands(col("sig"), k, bands))
          .as(Seq("band", "bucket"))))
    MinhashIndex(sh, b)
  }

  /** UNPERSISTED [[MinhashIndex]] — same frames as [[minhashIndex]],
    * no caching. The right shape when every index frame has exactly
    * one consumer (the incremental probe, the one-shot pair join):
    * measured at the 10×-documents bench tier, caching single-consumer
    * string-array frames COSTS more than it saves (the columnar cache
    * build is a full compression pass; recompute is one map pass and
    * the self-join sides share their shuffle via exchange reuse
    * anyway) — 5.4 s → 3.7 s and 11 → 6 Spark jobs for the
    * incremental pipeline. At cluster scale the same logic holds: a
    * one-shot consumer streams the map output straight into its
    * shuffle; only multi-consumer stages (see [[minhashIndex]], whose
    * callers re-read the frames) or cross-job reuse (the parquet
    * staging tables in CorpusStreams) justify materializing.
    */
  def minhashIndexView(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 16, bands: Int = 8,
      fastKernel: Boolean = true): MinhashIndex = {
    // sub-n-token docs are excluded from the index entirely: an empty
    // shingle set sketches to an all-null signature whose band keys
    // all collapse to md5('') — every short doc would share every
    // bucket with every other short doc (m²/2 spurious candidates on
    // crawl-shaped corpora) and the verify's 0/0 Jaccard is NaN,
    // which Spark and DuckDB both order ABOVE any threshold. A doc
    // with no shingles has no near-dup by this metric, by definition.
    // spread FIRST (guide §2.5 unsplittable input; no-op on properly
    // split sources): the shingle+signature kernels below execute in
    // the scan stage otherwise, serializing the sketch pass onto the
    // input's split count (measured 2×~1.0 s single-task at sf0.1)
    val sh = graft.ops.InputLayout.spread(df, col(idCol))
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = if (fastKernel) minhashSignatureFast(col("sh"), k)
              else minhashSignature(col("sh"), k)
    val b = sh.withColumn("sig", sig)
      .select(col("id"), posexplode(lshBands(col("sig"), k, bands))
        .as(Seq("band", "bucket")))
    MinhashIndex(sh, b)
  }

  /** [[minhashPairs]] over a pre-built index — lets a caller who
    * already holds the sketches (e.g. CorpusStreams.admitBatch, which
    * also probes and stages them) pair without re-sketching.
    */
  /** Every bucket-collision candidate pair with its exact Jaccard —
    * the UNthresholded verify behind [[minhashEval]] (its precision
    * aggregate needs below-threshold scores, so the truncated
    * pre-verify can never apply here). [[minhashPairsFromIndex]]
    * shares [[selfCollisions]] with this but routes through
    * [[verifyRendezvousThresholded]] since r16 — its threshold is
    * what unlocks the pre-verify. Verify shape: [[verifyRendezvous]]
    * (the r14 production path), which routes candidate sets below the
    * [[RendezvousMinPairs]] gate to the array-carry shape
    * ([[verifyCarry]]).
    */
  private def scoredCandidates(index: MinhashIndex): DataFrame =
    verifyRendezvous(selfCollisions(index), index.shingles, index.shingles)

  /** Bucket-collision rows of an index's self-join, WITH the bucket
    * identity each pair collided in: (__bk = xxhash64(band, bucket),
    * id_a < id_b), one row per (bucket, pair) collision. The __bk key
    * is what [[verifyRendezvous]] picks its rendezvous from; a
    * 64-bit __bk collision between two distinct buckets is harmless
    * there (it only merges two rendezvous groups — routing stays
    * consistent because docs are routed by the VALUE, never decoded
    * back to a bucket).
    */
  private[graft] def selfCollisions(index: MinhashIndex): DataFrame =
    index.buckets
      .select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(index.buckets.select(col("band"), col("bucket"),
        col("id").as("id_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(xxhash64(col("band"), col("bucket")).as("__bk"),
        col("id_a"), col("id_b"))

  /** Rendezvous-bucket exact-Jaccard verify — the r14 replacement for
    * the array-carry shape ([[verifyCarry]]), built on one structural
    * fact: every LSH candidate pair already CO-OCCURS in at least one
    * bucket, so the pair can be verified AT a bucket instead of
    * carrying shingle arrays through per-pair joins.
    *
    * Input: `collisions` = (__bk, id_a, id_b), one row per
    * (bucket, pair) collision; `docsA`/`docsB` = (id, sh) shingle
    * sources for the two pair sides (raw strings or staged xxh64
    * longs — [[verifySh]] dispatches per side). Output: one
    * (id_a, id_b, jaccard) row per distinct collision pair, exactly
    * the [[verifyCarry]] result set (spec-pinned, all kernels/reprs).
    *
    * Shape, and why it beats the carry at scale:
    *  1. The per-pair dedupe the carry path spent a `.distinct()` on
    *     becomes `min(__bk)` — same exchange keys, +8 bytes/row — so
    *     each pair picks a deterministic rendezvous bucket it is
    *     GUARANTEED to share.
    *  2. Each side's shingle set ships ONCE PER DISTINCT RENDEZVOUS a
    *     doc appears in — Θ(docs × |sh|) bytes when near-dup clusters
    *     collide in the same bands (copies sketch to identical
    *     signatures, so their pairs' min-bucket coincides), degrading
    *     gracefully toward the carry's Θ(pairs × |sh|) only if every
    *     pair of a doc rendezvouses in a different bucket.
    *  3. The group's shingle sets are aggregated into ONE map row per
    *     rendezvous (id → sh), and the pair spine joins that map table
    *     on __rv alone — a single-key join, so there is no multi-key
    *     co-partitioning for `requireAllClusterKeysForCoPartition`
    *     (default true) to reject, and both per-pair lookups happen
    *     in the SAME projection via try_element_at. The per-pair
    *     arrays exist only transiently inside that project: the sh_a
    *     carry that was 36.4 of 44.3 GB of 1000×-tier shuffle (r13
    *     mhdiag) crosses NO exchange and NO sort (plan-pinned), and
    *     the partition-count-sensitive LZ4-adjacency story that came
    *     with it (194 vs 343 B/pair at p=32 vs 128) retires with it.
    *
    * Costs taken knowingly: (a) try_element_at on a Spark map is a
    * linear key scan, so verify CPU gains a factor of the rendezvous
    * GROUP size — bounded by the corpus's largest near-dup clique,
    * and any corpus whose cliques are huge has already exploded
    * quadratically at the candidate stage (m²/2 pairs), before this
    * term matters; (b) one map row buffers a whole group's arrays in
    * the aggregate and the join, the same clique-bounded memory the
    * candidate explosion gates first.
    *
    * The pair table is StageCache-persisted (three consumers: the
    * rendezvous routing frame(s) and the join spine) — same release
    * contract as [[minhashPairs]]. `minPairs` routing: the default
    * [[VerifyUseConf]] reads [[RendezvousMinPairsConfKey]] at call
    * time; 0 forces this rendezvous shape; any negative value
    * ([[VerifyForceCarry]]) forces the carry shape AND skips the
    * persist + count job entirely (the micro-batch admission path).
    */
  /** Candidate-count crossover between the two verify shapes (Tune
    * mhrv/mhrv10/mhrv30, SCALE.md Round 14, all interleaved min-of-4;
    * the modes time the production pipeline on each side of this
    * gate): below it the carry shape wins because AQE keeps its
    * verify joins broadcast-side and the per-pair arrays never shuffle
    * at all (10×: 1.06M
    * candidates, carry 1.9-2.5 s / 9 MB vs rendezvous 4.3-5.3 s /
    * 180 MB; 30×: 3.2M, 3.6 vs 6.9 s / 28 vs 571 MB); above it the
    * broadcast regime dies and the rendezvous shape wins increasingly
    * (100×: 10.6M candidates, 9.77 vs 10.36 s and 2.41 vs 2.78 GB;
    * 1000×: 106M, 129.8 vs 228.8 s and 25.9 vs 44.3 GB, GC 88 vs
    * 108-122 s). Default = geometric midpoint of the 3.2M-carry-wins
    * and 10.6M-rv-wins brackets — measured on THIS host (local[32],
    * 96 GB heap); a cluster's broadcast-regime boundary differs, so
    * the default is overridable per session via
    * [[RendezvousMinPairsConfKey]] without touching call sites.
    */
  private[graft] val RendezvousMinPairs: Long = 6000000L

  /** Session conf overriding [[RendezvousMinPairs]] — read at CALL
    * time by [[verifyRendezvous]] whenever the caller leaves
    * `minPairs` at its [[VerifyUseConf]] default, so one
    * `spark.conf.set` retunes every size-routed verify in the session
    * (routing pins per gate side in DedupSpec).
    */
  val RendezvousMinPairsConfKey: String = "spark.graft.rendezvousMinPairs"

  /** `minPairs` sentinel: resolve the gate from
    * [[RendezvousMinPairsConfKey]] (default [[RendezvousMinPairs]])
    * at call time.
    *
    * `Long.MinValue` is RESERVED as this sentinel: a caller passing it
    * literally (intending "very negative = force carry") gets conf
    * routing instead — pass [[VerifyForceCarry]] (any negative value)
    * for that. The reservation is in-band by design: `minPairs` is a
    * COUNT threshold, and no real gate sits at -2^63.
    */
  val VerifyUseConf: Long = Long.MinValue

  /** `minPairs` sentinel: force the carry shape WITHOUT the pair-table
    * persist or the count job the size gate needs. For callers whose
    * candidate volume is bounded small by construction — the streaming
    * admission path above all, where one extra scheduled job and a
    * persist/unpersist PER MICRO-BATCH is exactly the per-batch fixed
    * cost SCALE.md r12 measures as dominant for continuous ingest.
    */
  val VerifyForceCarry: Long = -1L

  /** Resolve a `minPairs` argument to the effective gate: the
    * [[VerifyUseConf]] sentinel reads [[RendezvousMinPairsConfKey]]
    * at call time (parse failure names the conf key — r15 ADVICE);
    * anything else passes through.
    */
  private def resolveVerifyGate(spark: org.apache.spark.sql.SparkSession,
      minPairs: Long): Long =
    if (minPairs == VerifyUseConf) {
      val raw = spark.conf.get(
        RendezvousMinPairsConfKey, RendezvousMinPairs.toString)
      try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$RendezvousMinPairsConfKey must be a Long (candidate-pair " +
            s"gate; 0 forces rendezvous, negative forces carry), got '$raw'")
      }
    } else minPairs

  private[graft] def verifyRendezvous(collisions: DataFrame,
      docsA: DataFrame, docsB: DataFrame,
      minPairs: Long = VerifyUseConf): DataFrame = {
    val gate = resolveVerifyGate(collisions.sparkSession, minPairs)
    // forced carry (gate < 0): no pair-table persist, no count job —
    // verifyCarry's own distinct() dedupes collisions in-plan. The
    // micro-batch path: below the crossover by contract, and the gate's
    // count would be one extra scheduled job per batch.
    if (gate < 0) return verifyCarry(collisions, docsA, docsB)
    val pairTable = graft.ops.StageCache.persisted(
      collisions.groupBy("id_a", "id_b").agg(min(col("__bk")).as("__rv")))
    // size-routed: ONE count over the (persisted, needed-anyway) pair
    // table picks the measured-faster shape — the small side of the
    // crossover is also the one-shot sf0.1-scale case, so those stay
    // on the broadcast-friendly carry plan.
    // gate = 0 forces the rendezvous shape (specs, the Tune mhrv cells).
    if (gate > 0 && pairTable.count() < gate)
      return verifyCarryOn(pairTable.select("id_a", "id_b"), docsA, docsB)
    rendezvousScored(pairTable, docsA, docsB, verifySh)
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** The rendezvous-verify CORE: bring each distinct pair together
    * with both sides' shingle representation at the pair's rendezvous
    * group. `pairTable` = (id_a, id_b, __rv), unique per pair (the
    * min-__bk agg or a filtered survivor table); `shOf` picks the
    * representation that crosses the group-map exchange — [[verifySh]]
    * (full sorted xxhash64 longs, the exact phase) or [[truncSh16]]
    * (high-16-bit smallints, the pre-verify phase at a quarter of the
    * bytes).
    * Returns (id_a, id_b, __rv, sh_a, sh_b), missing-doc pairs
    * dropped. __rv rides through so a filtered survivor set can re-
    * enter this core for the exact phase without recomputing min(__bk).
    *
    * (rv, id → shingle repr) — one row per rendezvous group, arrays
    * shipped once per (group, doc). array_distinct before the map
    * build: a docs source may legitimately carry EXACT duplicate
    * (id, sh) rows (an admission batch replayed after recovery unions
    * batch + staged copies of the same doc — the carry path's joins
    * absorbed those as duplicate verify rows), and map_from_entries
    * raises on duplicate keys; dropping exact-duplicate ENTRIES keeps
    * the replay harmless while a same-id-different-content collision
    * (a real id-uniqueness contract violation) still fails loudly.
    */
  private def rendezvousScored(pairTable: DataFrame, docsA: DataFrame,
      docsB: DataFrame, shOf: DataFrame => Column,
      broadcastIds: Boolean = false): DataFrame = {
    // broadcastIds: hint the (id, __rv) routing table into the docs
    // join so the DOCS SIDE CROSSES NO EXCHANGE — right when the pair
    // table is a small survivor set over a BIG corpus (the pre-verify
    // phase 2: measured 2×2,068 MB of full-corpus doc shuffles on the
    // carry alternative at the 1000× tier vs ~1 GB of survivor-doc
    // group arrays here). Wrong when the pair table is corpus-scale —
    // the caller gates on [[PreVerifyBroadcastMaxPairs]].
    def route(rvIds: DataFrame): DataFrame =
      if (broadcastIds) broadcast(rvIds) else rvIds
    def groupMap(docs: DataFrame, rvIds: DataFrame, name: String) =
      docs.select(col("id"), shOf(docs).as("sh"))
        .join(route(rvIds), Seq("id"))
        .groupBy("__rv")
        .agg(map_from_entries(array_distinct(
          collect_list(struct(col("id"), col("sh"))))).as(name))
    // missing-doc semantics match the carry's inner joins: a pair
    // whose side is absent from its docs source drops (try_element_at
    // → NULL → filter), never errors
    val scored =
      if (docsA eq docsB) {
        // self-verify: one combined map — a doc pairing as id_a in one
        // pair and id_b in another still ships once per group
        val rvIds = pairTable.select(col("__rv"), col("id_a").as("id"))
          .unionByName(pairTable.select(col("__rv"), col("id_b").as("id")))
          .distinct()
        pairTable.join(groupMap(docsA, rvIds, "__shm"), Seq("__rv"))
          .select(col("id_a"), col("id_b"), col("__rv"),
            try_element_at(col("__shm"), col("id_a")).as("sh_a"),
            try_element_at(col("__shm"), col("id_b")).as("sh_b"))
      } else {
        val mA = groupMap(docsA,
          pairTable.select(col("__rv"), col("id_a").as("id")).distinct(),
          "__shma")
        val mB = groupMap(docsB,
          pairTable.select(col("__rv"), col("id_b").as("id")).distinct(),
          "__shmb")
        pairTable.join(mA.join(mB, Seq("__rv")), Seq("__rv"))
          .select(col("id_a"), col("id_b"), col("__rv"),
            try_element_at(col("__shma"), col("id_a")).as("sh_a"),
            try_element_at(col("__shmb"), col("id_b")).as("sh_b"))
      }
    scored.filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
  }

  /** The array-carry verify: dedupe candidate pairs, then carry each
    * pair's sh_a array through two per-pair equi-joins. This is the
    * live route below the [[RendezvousMinPairs]] gate and for the
    * forced-carry micro-batch path: small candidate sets keep AQE's
    * verify joins broadcast-side, so the arrays never shuffle. Above
    * the gate its join-1 output exchanges Θ(pairs × |sh|) array bytes
    * (36.4 of 44.3 GB at the 1000× tier, SCALE.md Round 13), rescued
    * only partially — and partition-count-sensitively — by SMJ/LZ4
    * run-length adjacency (~194 B/pair at p=32, 343 at p=128; a
    * SHUFFLE_HASH hint that broke the adjacency measured 478 B/pair
    * and was reverted). Also the reference of the DedupSpec
    * equivalence pins against [[verifyRendezvous]].
    */
  private[graft] def verifyCarry(collisions: DataFrame,
      docsA: DataFrame, docsB: DataFrame): DataFrame =
    verifyCarryOn(collisions.select("id_a", "id_b").distinct(),
      docsA, docsB)

  /** [[verifyCarry]] minus the dedupe — for callers whose candidate
    * frame is unique per (id_a, id_b) already (the size-routed small
    * path reuses the persisted min-agg pair table, which dedupes by
    * construction; re-distincting it would add a pointless exchange).
    */
  private def verifyCarryOn(candidates: DataFrame,
      docsA: DataFrame, docsB: DataFrame): DataFrame =
    candidates
      .join(docsA.select(col("id").as("id_a"),
        verifySh(docsA).as("sh_a")), Seq("id_a"))
      .join(docsB.select(col("id").as("id_b"),
        verifySh(docsB).as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))

  /** Session conf selecting the truncated-hash pre-verify inside
    * [[verifyRendezvousThresholded]]'s big-gate path, read at call
    * time: "16" (high-16-bit smallints, quarter bytes — the measured
    * default) or "off"/"false" (one-phase exact verify). Exists so the
    * Tune pv1000 A/B can interleave the two shapes in one session, and
    * so a corpus whose LSH candidates are mostly TRUE positives (where
    * phase 2 re-ships nearly everything and the prefilter only adds a
    * pass) can opt out without touching call sites.
    */
  val VerifyPrefilterConfKey: String = "spark.graft.verifyPrefilter"

  /** Default for [[VerifyPrefilterConfKey]] — set by the r16 1000×-tier
    * interleaved A/B (SCALE.md r16 `pv1000`).
    */
  private[graft] val VerifyPrefilterDefault: String = "16"

  /** Phase-2 routing-table broadcast bound: the survivor pair table's
    * (id, __rv) rows are ≤ 2 per pair × 16 bytes, so this caps the
    * broadcast build at ~64 MB of raw entries — comfortably under
    * executor memory at any sane config, while covering every measured
    * survivor set (1.29M pairs at the 1000× tier's 106M candidates).
    * Above it phase 2 runs the un-hinted rendezvous core (AQE decides).
    */
  private[graft] val PreVerifyBroadcastMaxPairs: Long = 2000000L

  /** THRESHOLDED verify: [[verifyRendezvous]] ∘ `filter(jaccard >=
    * threshold)` (exact same rows — equivalence pinned in DedupSpec),
    * but on the big-gate path the threshold unlocks a two-phase
    * TRUNCATED-HASH PRE-VERIFY that cuts the verify exchange's
    * bytes/row — the named binding constraint of the whole minhash
    * family at scale (~26 GB of verify shuffle per 5M docs made the
    * 20M-doc cell disk-infeasible, SCALE.md r15):
    *
    *  - phase 1 runs the rendezvous core with a truncated form of the
    *    hashes — high-16-bit smallints ([[truncSh16]], a QUARTER of
    *    the sorted-long form's bytes) unless [[VerifyPrefilterConfKey]]
    *    turns the pre-verify off — and drops every pair whose
    *    truncated Jaccard — a sound upper bound on the exact hashed
    *    Jaccard, see [[truncSh16]] — is already below `threshold`;
    *  - phase 2 re-verifies ONLY the survivors with the full 64-bit
    *    form, re-entering the rendezvous core via the __rv each
    *    survivor kept from phase 1, with the survivor routing table
    *    broadcast below [[PreVerifyBroadcastMaxPairs]] so the corpus
    *    side crosses no exchange at all.
    *
    * Exchange bytes ≈ 0.25·B + s·B (B = one-phase bytes, s = the
    * survivor share), so the prefilter pays whenever under ~3/4 of
    * the LSH candidates are true near-dups — the normal regime: LSH
    * bands are tuned for recall, so candidate precision at the
    * threshold is low. Results are BIT-IDENTICAL either way: phase 1
    * can only drop pairs that phase 2/the one-phase verify would have
    * filtered (upper bound), and survivors get the exact score.
    *
    * Routing/sentinels are [[verifyRendezvous]]'s: `minPairs` < 0
    * forces the carry (no persist, no count job — the micro-batch
    * path), 0 forces the two-phase rendezvous, [[VerifyUseConf]] reads
    * the session gate. The pre-verify itself is toggled by
    * [[VerifyPrefilterConfKey]].
    *
    * PARTITIONING AT SCALE (`spark.sql.shuffle.partitions`; Tune
    * spillp, SCALE.md r16): the verify's sort/aggregation SPILL is
    * volume-bound, not partition-fit — at 10M docs/212M candidates it
    * measured a flat ~41 GB across p ∈ {256, 512, 1024} — but WALL
    * improves monotonically with p (507/451/372 s), so size p up with
    * candidate volume rather than to spill: p ≈ candidates / 200k
    * keeps sort runs short and cores busy (1024 at the 10M-doc tier).
    * Raising the ObjectHashAggregate fallback threshold instead OOMs
    * (SCALE.md r15) — the spill IS the memory-safety path.
    */
  private[graft] def verifyRendezvousThresholded(collisions: DataFrame,
      docsA: DataFrame, docsB: DataFrame, threshold: Double,
      minPairs: Long = VerifyUseConf): DataFrame = {
    val spark = collisions.sparkSession
    val gate = resolveVerifyGate(spark, minPairs)
    if (gate < 0)
      return verifyCarry(collisions, docsA, docsB)
        .filter(col("jaccard") >= threshold)
    val pairTable = graft.ops.StageCache.persisted(
      collisions.groupBy("id_a", "id_b").agg(min(col("__bk")).as("__rv")))
    if (gate > 0 && pairTable.count() < gate)
      return verifyCarryOn(pairTable.select("id_a", "id_b"), docsA, docsB)
        .filter(col("jaccard") >= threshold)
    val prefilter = spark.conf.get(VerifyPrefilterConfKey,
      VerifyPrefilterDefault) match {
      case "off" | "false" => false
      case "16" => true
      case other => throw new IllegalArgumentException(
        s"$VerifyPrefilterConfKey must be one of off/false, 16; got '$other'")
    }
    if (!prefilter)
      return rendezvousScored(pairTable, docsA, docsB, verifySh)
        .select(col("id_a"), col("id_b"),
          jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    // phase 1: truncated upper bound — drop definitive non-matches.
    // Persisted: the survivor table is consumed three times on the
    // phase-2 path (the broadcast-routing count, rvIds derivation and
    // the join spine); it must not recompute the phase-1 group maps
    // per consumer.
    val survivors = graft.ops.StageCache.persisted(
      rendezvousScored(pairTable, docsA, docsB, truncSh16)
        .filter(jaccard(col("sh_a"), col("sh_b")) >= threshold)
        .select("id_a", "id_b", "__rv"))
    // phase 2: exact verify of the survivors, ALWAYS on the rendezvous
    // core — on this path the docs side is big by construction (the
    // candidate count cleared the big gate), and the carry shape's two
    // full-corpus doc joins are exactly the exchange this operator
    // exists to avoid (measured 2×2,068 MB vs ~1 GB of survivor-doc
    // group arrays at the 1000× tier). The broadcast hint on the
    // survivor routing table removes the docs-side exchange entirely
    // when the survivor set is small (the normal case — LSH bands are
    // recall-tuned, so candidate precision at the threshold is low).
    val exact = rendezvousScored(survivors, docsA, docsB, verifySh,
        broadcastIds = survivors.count() <= PreVerifyBroadcastMaxPairs)
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
    exact.filter(col("jaccard") >= threshold)
  }

  def minhashPairsFromIndex(index: MinhashIndex,
      threshold: Double): DataFrame =
    verifyRendezvousThresholded(selfCollisions(index),
      index.shingles, index.shingles, threshold)

  /** [[incrementalMinhashPairs]] with the delta's sketches pre-built —
    * the no-resketch probe for callers that need the delta index for
    * other purposes too (within-batch pairing, staging the admitted
    * rows).
    */
  def incrementalMinhashPairsFromIndex(corpus: MinhashIndex,
      delta: MinhashIndex, threshold: Double): DataFrame =
    verifyRendezvousThresholded(deltaCollisions(corpus, delta),
      delta.shingles, corpus.shingles, threshold)

  /** Delta-vs-corpus bucket collisions with their bucket identity —
    * the [[selfCollisions]] analog for the incremental probe
    * (id_a = delta id, id_b = corpus id; no ordering filter, the
    * sides are disjoint by contract).
    */
  private[graft] def deltaCollisions(corpus: MinhashIndex,
      delta: MinhashIndex): DataFrame =
    delta.buckets
      .select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(corpus.buckets.select(col("band"), col("bucket"),
        col("id").as("id_b")), Seq("band", "bucket"))
      .select(xxhash64(col("band"), col("bucket")).as("__bk"),
        col("id_a"), col("id_b"))

  /** The admission DROP set of a micro-batch, in ONE candidate+verify
    * pass: a batch doc is dropped exactly when a qualifying neighbor
    * (Jaccard >= threshold) exists that is EITHER already staged in
    * the corpus index OR a lower-id doc of the same batch (the
    * SemDeDup pair rule). Set-identical to running the within-batch
    * pair self-join and the vs-index incremental probe separately and
    * unioning their drop sides — but the fused form shares one bucket
    * join, one candidate dedupe and one verify stage where the split
    * form pays each twice (measured 27 → 19 scheduled jobs, −30%, for
    * the steady-state probe batch at the 10× tier; the bootstrap batch
    * ties at 17 since it has no staged probe to fuse. With AQE every
    * exchange is its own scheduled job, and per-batch fixed cost ×
    * batch count is what dominates a continuous ingest stream —
    * SCALE.md Round 12).
    *
    * `staged = None` is the bootstrap batch (within-batch rule only).
    * Returns distinct batch ids to drop, column `id`.
    *
    * `verifyMinPairs` defaults to [[VerifyForceCarry]]: a micro-batch's
    * candidate volume is bounded by |batch| × bands × collisions —
    * far below the rendezvous crossover for any sane batch size — and
    * the size gate's pair-table persist + count job would be one
    * extra scheduled job PER BATCH, the per-batch fixed cost that
    * dominates continuous ingest (SCALE.md r12: every exchange is its
    * own scheduled job under AQE, × batch count). A bulk-backfill
    * caller feeding corpus-scale "batches" should pass
    * `Dedup.VerifyUseConf` to restore the measured size gate.
    */
  def admissionDrops(batchIdx: MinhashIndex, staged: Option[MinhashIndex],
      threshold: Double,
      verifyMinPairs: Long = VerifyForceCarry): DataFrame = {
    val batchB = batchIdx.buckets
      .select(col("band"), col("bucket"), col("id").as("id_b"),
        lit(false).as("__staged"))
    val others = staged match {
      case None => batchB
      case Some(s) => batchB.unionByName(s.buckets
        .select(col("band"), col("bucket"), col("id").as("id_b"),
          lit(true).as("__staged")))
    }
    // both sides pre-normalized to the hashed representation so the
    // union is schema-stable whatever repr the staged table carries
    // (verifySh dispatches per SOURCE frame; a raw batch unioned with
    // a staged-long table would otherwise type-clash)
    val batchSh = batchIdx.shingles
      .select(col("id"), verifySh(batchIdx.shingles).as("sh"))
    val otherSh = staged match {
      case None => batchSh
      case Some(s) => batchSh.unionByName(s.shingles
        .select(col("id"), verifySh(s.shingles).as("sh")))
    }
    // the staged flag rides the bucket join so the lower-id rule only
    // binds batch-vs-batch candidates; candidate pairs dedupe inside
    // the rendezvous verify (each (id_a, id_b) can collide in up to
    // `bands` buckets — verifying once per pair, not per collision,
    // is the same shape as scoredCandidates)
    val cand = batchIdx.buckets
      .select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(others, Seq("band", "bucket"))
      .filter(col("__staged") || col("id_b") < col("id_a"))
      .select(xxhash64(col("band"), col("bucket")).as("__bk"),
        col("id_a"), col("id_b"))
    verifyRendezvousThresholded(cand, batchIdx.shingles, otherSh,
        threshold, verifyMinPairs)
      .select(col("id_a").as("id")).distinct()
  }

  /** Incremental MinHash near-dup — the shape a 100 TB pipeline
    * actually executes daily: sketch ONLY the new snapshot (`delta`),
    * probe the persisted corpus bucket table for band collisions, and
    * verify candidates with exact Jaccard against the corpus shingle
    * table. The corpus crosses no sketch stage: its cost here is two
    * keyed probe joins of tables that already exist, so a daily run is
    * O(|delta| · bands) index rows regardless of corpus size — vs
    * re-running [[minhashPairs]] on corpus ∪ delta, which re-shingles
    * and re-hashes every corpus document every day.
    *
    * Returns (id_a = delta id, id_b = corpus id, jaccard): exactly the
    * delta-vs-corpus pairs the full recompute would emit (equivalence
    * pinned in DedupSpec). Within-delta pairs are [[minhashPairs]] on
    * the delta alone; ids must be disjoint from the corpus's.
    */
  def incrementalMinhashPairs(index: MinhashIndex, delta: DataFrame,
      idCol: String, textCol: String, n: Int = 2, k: Int = 16,
      bands: Int = 8, threshold: Double = 0.3,
      fastKernel: Boolean = true): DataFrame =
    // the delta index is consumed exactly once per frame (bucket probe,
    // shingle verify) — the unpersisted view wins (see minhashIndexView).
    // fastKernel is part of the INDEX IDENTITY: band keys from the two
    // kernels never collide, so the delta must sketch with the same
    // kernel the staged corpus index was built with (CorpusStreams
    // stamps it into _index_params for exactly this reason).
    incrementalMinhashPairsFromIndex(index,
      minhashIndexView(delta, idCol, textCol, n, k, bands, fastKernel),
      threshold)

  /** [[incrementalMinhashPairs]] specialized for a SMALL index — a
    * benchmark / evaluation set of thousands of documents, not a
    * billion-doc corpus. Broadcasts BOTH index frames (buckets and
    * shingle sets) so the probing corpus crosses no corpus-wide
    * shuffle at all: the corpus is shingled and sketched exactly once
    * in a single map pass, its shingle array rides along through the
    * band explode into the broadcast bucket join, and only the rows
    * that actually collide with an index bucket reach the one shuffle
    * in the plan (the per-pair dedupe). The general incremental probe
    * instead shuffle-joins the corpus shingle table into the
    * candidates — a corpus-sized exchange — and recomputes the corpus
    * shingling on both the bucket and the verify branches (the
    * shared subtree is deduped only by best-effort exchange reuse).
    * Measured at the 10×-documents tier: 3.44 s → 1.78 s min-of-2 for
    * the fuzzy-decontamination pipeline (SCALE.md Round 10 section).
    *
    * Same contract as [[incrementalMinhashPairsFromIndex]]: returns
    * (id_a = corpus id, id_b = index id, jaccard ≥ threshold); corpus
    * ids must be disjoint from index ids, and `fastKernel` must match
    * the kernel the index was sketched with (band keys from the two
    * kernels never collide). Equivalence is pinned in DedupSpec.
    * Broadcasting a corpus-scale index here is wrong twice over —
    * driver OOM and a per-task hash build — use the incremental probe
    * for big-vs-big.
    *
    * The small-by-contract side is ENFORCED, not scaladoc-only, and
    * the guard's history is itself a measurement lesson (r12→r14):
    *  - r12 (STRING-repr verify era) measured the broadcast shape 2×
    *    slower than the incremental fallback at [4.5M corpus × 500k
    *    index] (108.9 vs 55.3 s) and the r13 guard capped index docs
    *    at 100k on that evidence;
    *  - r13's crossover sweep showed broadcast WINNING at every index
    *    size through 400k on a 1M-doc corpus (the "interaction wall"
    *    hypothesis; SCALE.md Round 13);
    *  - r14 re-ran BOTH brackets interleaved on the hashed-verify code
    *    (SCALE.md Round 14) and the r12 wall is GONE: broadcast wins
    *    both [1M × 400k] (13.8-28.2 s vs 25.4-49.4 s incremental) and
    *    [4.5M × 500k] (39.2-44.5 s vs 82.3-112.9 s) — the r12 number
    *    was the string-era verify's cost, not a broadcast property,
    *    and a corpus×index product gate calibrated on it picked the
    *    LOSER at bracket B on current code.
    * The guard is therefore the ABSOLUTE broadcast-size bound only:
    * `maxIndexDocs` (default 2M ≈ 0.8 GB of hashed shingle sets,
    * safely under Spark's 8 GB broadcast limit and a sane
    * driver-collect/per-task-build ceiling; no measured perf wall
    * below it on this host). ABOVE it the call AUTO-FALLS-BACK to the
    * big-vs-big staged-index probe
    * ([[incrementalMinhashPairsFromIndex]] with `smallIndex` as the
    * probed corpus — same (id_a=corpus, id_b=index, jaccard) contract,
    * equivalence pinned in DedupSpec) instead of require-failing.
    * maxIndexDocs = 0 disables the check (always broadcast).
    */
  def minhashPairsBroadcastIndex(smallIndex: MinhashIndex,
      corpus: DataFrame, idCol: String, textCol: String, n: Int = 2,
      k: Int = 16, bands: Int = 8, threshold: Double = 0.3,
      fastKernel: Boolean = true,
      maxIndexDocs: Long = 2000000L): DataFrame = {
    if (maxIndexDocs > 0) {
      val nIdx = smallIndex.shingles.count()
      if (nIdx > maxIndexDocs) {
        // big-vs-big fallback: past the broadcast probe's measured
        // economical regime — probe the index as a staged corpus
        // instead (the corpus sketches itself as the delta). Same
        // output contract; the corpus-sized shingle exchange the
        // broadcast shape avoids is exactly the trade that WINS once
        // the per-task broadcast build dominates. ANNOUNCED, because a
        // silent plan switch poisons cross-tier timing comparisons (an
        // alpha row mixing the broadcast plan at one tier with this
        // shape at the next is not one pipeline's exponent).
        println(s"[dedup] minhashPairsBroadcastIndex: index has $nIdx " +
          s"docs > maxIndexDocs=$maxIndexDocs — auto-falling back to " +
          "the big-vs-big incremental probe plan")
        return incrementalMinhashPairsFromIndex(smallIndex,
          minhashIndexView(corpus, idCol, textCol, n, k, bands, fastKernel),
          threshold)
      }
    }
    val sh = corpus
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = if (fastKernel) minhashSignatureFast(col("sh"), k)
              else minhashSignature(col("sh"), k)
    val hits = sh.withColumn("sig", sig)
      .select(col("id").as("id_a"), hashedSh(col("sh")).as("sh_a"),
        posexplode(lshBands(col("sig"), k, bands)).as(Seq("band", "bucket")))
      .join(broadcast(smallIndex.buckets.select(col("band"), col("bucket"),
        col("id").as("id_b"))), Seq("band", "bucket"))
    // the one shuffle: only colliding (id_a, id_b, sh_a) rows; first()
    // is a pick, not a computation — sh_a is constant per id_a
    val cand = hits.groupBy("id_a", "id_b").agg(first("sh_a").as("sh_a"))
    // verifySh, not hashedSh: the index side is caller-supplied and may
    // be a round-13 hashed-format staged table (array<long>) — blind
    // re-hashing would silently verify garbage (the corpus side above
    // is built in-function from raw text, so hashedSh is right there)
    cand
      .join(broadcast(smallIndex.shingles.select(col("id").as("id_b"),
        verifySh(smallIndex.shingles).as("sh_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH quality evaluation: run the banding WITHOUT the verify
    * threshold and report how many candidate pairs the buckets
    * produced vs how many survive true-Jaccard verification — the
    * precision report that tunes (k, bands) before a 100 TB dedup run
    * ships. One extra aggregate over the same pipeline; recall tuning
    * (threshold vs band count) reads straight off `n_verified /
    * n_candidates` at a given threshold.
    */
  def minhashEval(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 16, bands: Int = 8,
      threshold: Double = 0.1, fastKernel: Boolean = true): DataFrame =
    // one-shot pipeline → the bucket-persisted index (same rationale
    // and StageCache release contract as minhashPairs) + the SAME
    // candidate/verify stage the pair operator runs (scoredCandidates)
    // with the aggregate in place of
    // the threshold filter. Zero-candidate corpora report (0, 0, 0) —
    // sum over an empty aggregate is NULL, and the unguarded precision
    // division would NaN→ANSI-error on the cast.
    scoredCandidates(oneShotIndex(df, idCol, textCol, n, k, bands,
        fastKernel))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)),
          lit(0L)).as("n_verified"))
      .select(col("n_candidates"), col("n_verified"),
        when(col("n_candidates") === 0, 0L).otherwise(
          floor(col("n_verified") * 10000.0 / col("n_candidates") + 0.5)
            .cast("long")).as("precision_bp"))

  /** 16-bit SimHash from per-token md5 nibble MSBs: dimension i gets
    * +1 when nibble i of md5(token) is >= 8, else -1; bit i of the
    * sketch is the sign of the sum. Returns array<int> of 16 bits.
    *
    * EMPTY-DOC CAVEAT ([[simhashPairs]] inherits it): empty or
    * whitespace-only text tokenizes to [""], so every such doc gets
    * the identical md5("")-derived sketch and all-pairs at hamming 0 —
    * m²/2 spurious pairs over m empty docs on crawl-shaped corpora.
    * [[simhashPairs64]] filters them out; this 16-bit reference-scale
    * shape keeps its published oracle's unguarded semantics — filter
    * `trim(text) != ''` upstream on dirty corpora.
    */
  def simhashBits(text: Column): Column =
    graft.functions.SketchExpressions.simhashBits(TextAnalysis.tokens(text))

  /** SimHash near-duplicate pairs: block on the two 8-bit half-sketches
    * (a pair must agree on at least one half to be a candidate — the
    * band trick again), verify Hamming distance <= maxHamming.
    *
    * Recall contract: two bands GUARANTEE a candidate only for pairs
    * with Hamming distance <= 1 (pigeonhole — d differing bits can
    * touch at most d bands); a qualifying pair at d in 2..maxHamming
    * is found only when its differing bits happen to fall in one
    * half. That probabilistic recall above d=1 is the standard LSH
    * trade (guaranteed d=3 recall needs 4 bands of 4 bits, at ~4x
    * the candidate volume from much weaker bands); callers needing
    * exhaustive d<=3 recall should use [[ngramJaccardPairs]] or widen
    * the sketch.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // The 16-int sketch is small enough to CARRY THROUGH the bucket
    // self-join (unlike minhash shingle sets), so the pipeline is one
    // self-join -> native hamming filter; no re-join of the sketch
    // table. A pair can collide in BOTH half-buckets only when the two
    // sketches agree on both halves, so the h2 bucket re-emits exactly
    // the pairs whose h1 halves already matched — suppressing those
    // (emit from h2 only when half-1 differs) makes every pair
    // exactly-once BY CONSTRUCTION, replacing the output-sized
    // distinct() shuffle (17M rows at the 10× bench tier) with a
    // map-side filter. The standard multi-band dedup trick: band i
    // emits iff no earlier band collided.
    // persisted (measured against the unpersisted exchange-reuse shape
    // at the 10× tier: 1.2 s vs 1.5 s min-of-2, interleaved in one
    // JVM): unlike the minhash/ngram cases the per-row sketch here is
    // md5-per-TOKEN, so the cache build amortizes a genuinely hot map
    // pass across the two self-join sides
    val buckets = graft.ops.StageCache.persisted(
      graft.ops.InputLayout.spread(df, col(idCol))
      .select(col(idCol).as("id"), simhashBits(col(textCol)).as("bits"))
      .select(col("id"), col("bits"), explode(array(
        concat_ws("", slice(col("bits"), 1, 8)),
        concat(lit("h2:"), concat_ws("", slice(col("bits"), 9, 8))))).as("bucket")))
    val h1Differs = graft.functions.SketchExpressions
      .absDiffSum(slice(col("bits_a"), 1, 8), slice(col("bits_b"), 1, 8)) =!= 0
    buckets.select(col("bucket"), col("id").as("id_a"), col("bits").as("bits_a"))
      .join(buckets.select(col("bucket"), col("id").as("id_b"), col("bits").as("bits_b")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(!col("bucket").startsWith("h2:") || h1Differs)
      .select(col("id_a"), col("id_b"),
        graft.functions.SketchExpressions
          .absDiffSum(col("bits_a"), col("bits_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash sketch of `text` as a signed long (dimension i at
    * bit position i; see SketchOps.simhash64 for the bit derivation).
    */
  def simhash64(text: Column): Column =
    graft.functions.SketchExpressions.simhash64(TextAnalysis.tokens(text))

  /** [[simhashPairs]] at production resolution: 64-bit sketch, 4
    * disjoint 16-bit bands, hamming by `bit_count(xor)` — all native
    * long arithmetic. Two qualitative upgrades over the 16-bit shape,
    * both measured at the 100×-documents tier (SCALE.md r11):
    *
    *  - RESOLUTION: a 16-bit sketch has 65 536 distinct values, so at
    *    corpus scale unrelated docs collide by pigeonhole — the 16-bit
    *    pipeline's hamming<=3 pair volume grew 28.7× for 10× docs
    *    (17.1 M → 490 M pairs, quadratic-trending). 64 bits keeps
    *    random collisions vanishing, so pair volume tracks true
    *    near-dup density (linear in corpus size for fixed dup rate).
    *  - RECALL: hamming<=3 recall is EXHAUSTIVE by pigeonhole (3
    *    differing bits touch at most 3 of the 4 bands), vs the 16-bit
    *    pipeline's probabilistic recall above hamming 1 (its scaladoc
    *    caveat). DedupSpec pins equality against the brute-force
    *    all-pairs answer.
    *
    * Pairs emit exactly once BY CONSTRUCTION (a pair is emitted only
    * from its FIRST agreeing band — map-side arithmetic on the two
    * sketches riding through the join, replacing an output-sized
    * distinct). Same cache contract as [[simhashPairs]]: the persisted
    * (id, sk, bucket) stage registers in StageCache; callers release
    * after consuming.
    */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16 banding guarantees exhaustive recall only to hamming 3; " +
        "widen the bands (or add more) before raising maxHamming")
    def band(c: Column, j: Int): Column =
      shiftright(c, 16 * j).bitwiseAND(lit(0xffffL))
    // ~24-byte (id, sk, bucket) rows; the md5-per-token sketch pass is
    // the hot map stage, amortized across both self-join sides by the
    // cache exactly as in simhashPairs.
    // Empty/whitespace-only docs are excluded BEFORE sketching (the
    // minhashIndexView guard's simhash twin): such text tokenizes to
    // [""], so every empty doc would share one md5("")-derived sketch
    // and all-pair at hamming 0 — m²/2 spurious pairs over m
    // shingle-less docs on crawl-shaped corpora. An empty doc has no
    // near-dup by this metric, by definition; the oracle applies the
    // identical trim guard.
    val buckets = graft.ops.StageCache.persisted(
      graft.ops.InputLayout.spread(df, col(idCol))
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sk"))
      .select(col("id"), col("sk"), explode(array((0 until 4).map(j =>
        lit(j * 65536L) + band(col("sk"), j)): _*)).as("bucket")))
    val firstMatch = when(band(col("sk_a"), 0) === band(col("sk_b"), 0), 0L)
      .when(band(col("sk_a"), 1) === band(col("sk_b"), 1), 1L)
      .when(band(col("sk_a"), 2) === band(col("sk_b"), 2), 2L)
      .otherwise(3L)
    buckets.select(col("bucket"), col("id").as("id_a"), col("sk").as("sk_a"))
      .join(buckets.select(col("bucket"), col("id").as("id_b"),
        col("sk").as("sk_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(shiftright(col("bucket"), 16) === firstMatch)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sk_a").bitwiseXOR(col("sk_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cluster assignment over a near-duplicate pair list: every doc
    * that appears in a pair gets the MINIMUM doc id reachable through
    * pair chains as its cluster id — the canonical
    * keep-one-per-cluster representative that an actual dedup pass
    * keys on. (Pairs alone under-delete: a~b and b~c must collapse to
    * ONE survivor even when a~c was never emitted.)
    *
    * Two tiers: edge lists at or below `driverEdgeLimit` run exact
    * union-find on the driver (model-parameter scale — per-round
    * scheduler latency would dominate); larger graphs run the
    * distributed large-star/small-star contraction
    * ([[clustersStarLabels]]) whose round count is independent of
    * component diameter (measured 6 rounds at both probe tiers, ~2×
    * the min-label-propagation shape it replaced in r12).
    * `localCheckpoint` cuts the lineage each round so the plan stays
    * flat instead of growing exponentially (the classic
    * iterative-Spark trap); on a cluster use checkpoint() to a
    * reliable store instead.
    */
  /** Round telemetry for [[clusters]]' distributed path — the
    * 100 TB cost model is rounds × (join + agg + jump), so the round
    * count is the number to pin (DedupSpec) and to record per tier
    * (SCALE.md Round 12). Same pattern as Ann.TrainTelemetry:
    * invisible in the physical plan, so a hook counts it.
    */
  private[graft] object ClusterTelemetry {
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    def reset(): Unit = rounds.set(0)
  }

  // Null / non-castable ids must fail loudly and identically on every
  // clusters path: a null surviving the cast would NPE opaquely in
  // getLong on the driver path and silently skew labels in the joins.
  // (ANSI mode already throws on a non-castable value; this covers
  // nulls.)
  private def clusterIdOrFail(c: String): Column =
    when(col(c).isNull,
      raise_error(lit(s"clusters: null id in pairs input column '$c'")))
      .otherwise(col(c).cast("long"))

  // maxIters = 30 on every clusters entry point (this one,
  // clustersStarLabels, and via it starContract): star contraction
  // converges in ~6 rounds diameter-independently, so 30 is a deep
  // safety margin, and a SHARED bound means the dispatcher and the
  // direct distributed entry can never disagree about when the same
  // loop "fails".
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 30, driverEdgeLimit: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val edgePairs = pairs
      .select(clusterIdOrFail(idA).as("a"), clusterIdOrFail(idB).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edgePairs.count()
    if (nEdges <= driverEdgeLimit) {
      // Small-graph fast path: a pair list this size is model-parameter
      // scale (like the collected ANN pivots), and exact union-find on
      // the driver beats paying per-round scheduler+shuffle latency —
      // the distributed loop's cost is ~0.5 s/round REGARDLESS of data
      // size, so a 1M-edge graph costs seconds on the driver vs tens
      // of seconds in rounds. The distributed path below stays the
      // 100 TB route (forced by driverEdgeLimit = 0 in specs).
      import scala.collection.mutable
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edgePairs.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // parent root = min id, so the cluster label IS the min member
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      edgePairs.unpersist()
      import spark.implicits._
      return parent.keys.toSeq.sorted.map(k => (k, find(k)))
        .toDF("id", "cluster")
    }
    // 100 TB route: large-star/small-star edge contraction — measured
    // (SCALE.md Round 12) ~2× faster than the min-label propagation it
    // replaced at the 100× tier (7.2 vs 15.5 s) with a
    // DIAMETER-INDEPENDENT round count (6 rounds at both tiers vs
    // 11/16).
    starContract(edgePairs, maxIters)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond" — a public MapReduce algorithm, re-expressed as
    * DataFrame joins/aggregates). Where min-label propagation's round
    * count is the ECCENTRICITY of each component's min node (hop-by-hop
    * spread; pointer jumps flatten label chains but cannot shortcut
    * graph distance — the r12 jumps A/B measured exactly that), star
    * contraction rewrites the EDGES each round so distances collapse
    * multiplicatively: O(log² n) rounds worst-case, independent of
    * component diameter.
    *
    *  - large-star (center u over the symmetric adjacency): attach
    *    every strictly-larger neighbor v > u to m = min(Γ(u) ∪ {u}).
    *    Each undirected edge is rewritten exactly once (by its smaller
    *    endpoint); edges stay canonical big→small.
    *  - small-star (center = the larger endpoint of each canonical
    *    edge): attach the center and all its smaller neighbors to
    *    their minimum.
    *
    * The fixpoint is a set of stars rooted at each component's minimum
    * id — read labels straight off the edges. Fixpoint detection: a
    * (count, Σ xxhash64(src,dst)) fingerprint over the canonical edge
    * set, compared across consecutive rounds — a false stop needs a
    * 64-bit hash-sum collision at equal edge count (~2⁻⁶⁴ per round;
    * an `except().isEmpty` exactness check would cost two more
    * scheduled jobs per round, the term that dominates this operator).
    *
    * Same output contract as [[clusters]] (every node that appears in
    * `pairs` gets (id, min reachable id)); self-pairs label themselves.
    * DedupSpec pins equality against the driver union-find on chains,
    * random graphs and 64-bit-scale ids.
    */
  private[graft] def clustersStarLabels(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 30): DataFrame = {
    val raw = pairs
      .select(clusterIdOrFail(idA).as("a"), clusterIdOrFail(idB).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    starContract(raw, maxIters)
  }

  /** Core of the star-contraction loop over a prepared, persisted
    * (a, b) long-id pair frame; unpersists it before returning. See
    * [[clustersStarLabels]] for the algorithm documentation.
    */
  private def starContract(raw: DataFrame, maxIters: Int): DataFrame = {
    // nodes is EAGERLY checkpointed: the returned plan's singleton
    // branch must not recompute from `raw` after the finally below
    // unpersists it (the r12 shape unpersisted on the success path
    // only — leaking the cache on the non-convergence throw — and left
    // `nodes` as a lazy branch over the released frame, re-running the
    // source projection per downstream action)
    val nodes = raw.select(col("a").as("id"))
      .unionByName(raw.select(col("b").as("id"))).distinct()
      .localCheckpoint(true)
    try {
    var e = raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .distinct().localCheckpoint()
    var prev = Option.empty[(Long, java.math.BigDecimal)]
    var it = 0
    var converged = e.isEmpty
    while (!converged && it < maxIters) {
      // LARGE-STAR over the symmetric adjacency
      val adj = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = adj.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // SMALL-STAR on the canonical big→small edges
      val mins2 = ls.groupBy("src").agg(min("dst").as("m"))
      val ss = ls.join(mins2, "src")
        .select(col("dst").as("s2"), col("m").as("d2"))
        .unionByName(mins2.select(col("src").as("s2"), col("m").as("d2")))
        .filter(col("s2") =!= col("d2"))
        .select(col("s2").as("src"), col("d2").as("dst"))
        .distinct()
        .localCheckpoint(false)
      // one action per round: checkpoint materializes under the
      // fingerprint aggregate
      val fp = ss.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).first()
      val cur = (fp.getLong(0),
        Option(fp.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
      converged = prev.exists(p => p._1 == cur._1 && p._2.compareTo(cur._2) == 0)
      prev = Some(cur)
      e = ss
      it += 1
      ClusterTelemetry.rounds.incrementAndGet()
    }
    if (!converged && it >= maxIters) throw new IllegalStateException(
      s"clustersStar did not converge in $maxIters rounds")
    // at the fixpoint every non-root carries exactly one (node, root)
    // edge; roots appear only as dst. Singletons (self-pairs) label
    // themselves via the left join.
    val starLabels = e.select(col("src").as("id"), col("dst").as("label"))
      .unionByName(e.select(col("dst").as("id"), col("dst").as("label")))
      .distinct()
    // both branches are checkpoint-backed (e per-round, nodes above),
    // so releasing raw in the finally cannot force a recompute
    nodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"))
    } finally raw.unpersist()
  }

  /** Apply near-dup cluster decisions to the corpus — the last mile of
    * the dedup pipeline (pairs → [[clusters]] → THIS): keep exactly one
    * representative per cluster (the cluster label, which is the
    * cluster's minimum id by construction) plus every row that never
    * appeared in a pair. Complementary to `Ann.semanticDedup`'s
    * per-pair rule: components here are TRANSITIVE (a~b~c collapses to
    * one row even when a and c never paired directly).
    *
    * Scale shape: the drop set carries bare ids and resolves as one
    * LEFT ANTI join on the corpus id — the corpus crosses the wire
    * once, documents never ride the cluster computation.
    */
  def applyClusters(df: DataFrame, clusterLabels: DataFrame,
      idCol: String): DataFrame = {
    val drops = clusterLabels.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** n-gram Jaccard similarity join within blocking keys, by inverted
    * index: explode each doc's (distinct) shingle set, equi-join on
    * (block, shingle), and COUNT the joined rows per pair — because
    * the sets are distinct, that count IS |A∩B|, so Jaccard is pure
    * arithmetic on (count, |A|, |B|) and no array ever crosses a
    * shuffle. Pairs sharing zero shingles never materialize (hence
    * `threshold` must be > 0; they'd have J = 0 anyway).
    *
    * Scale shape: the previous formulation joined whole blocks
    * pairwise, carrying two ~50-element string arrays per candidate —
    * quadratic in block size with ~kB rows. This one's join fanout is
    * bounded by sum over (block, shingle) of df², with ~24-byte rows,
    * and the per-pair count uses map-side partial aggregation on the
    * join's existing (block, shingle) partitioning. A within-block
    * stop-shingle ("of the") is the residual skew risk at 100 TB —
    * AQE skew-join handles moderate cases; beyond that use
    * [[ngramJaccardPairsPruned]], whose frequency-ordered PPJoin
    * prefix keeps stop-shingles out of the index entirely.
    */
  /** PPJoin-style prefix-filtered candidates for
    * [[ngramJaccardPairsPruned]]: each doc indexes only the FIRST
    * `|sh| - ceil(t·|sh|) + 1` shingles in a global
    * rarest-first order (ascending document frequency, ties by token).
    * Correctness: J(a,b) >= t implies |a∩b| >= t·|a∪b| >= ceil(t·|a|),
    * and two sets with overlap >= α must collide inside their first
    * `|·| - α + 1` elements of ANY shared total order — so no
    * qualifying pair is lost, while stop-shingles ("of the") that sit
    * at the frequent END of the order never enter the index, which is
    * what caps the within-block skew the unpruned inverted index is
    * exposed to at 100 TB. The df ranking costs one vocabulary-sized
    * aggregate + one window over the exploded index — both keyed
    * shuffles of data that moves anyway.
    */
  private[graft] def ngramPrefixCandidates(df: DataFrame, idCol: String,
      textCol: String, blockCols: Seq[String], n: Int,
      threshold: Double): DataFrame =
    ngramPrefixCandidatesFromShingles(
      graft.ops.InputLayout.spread(df, col(idCol))
        .select((blockCols.map(col) :+ col(idCol).as("id") :+
          shingles(col(textCol), n).as("sh")): _*),
      blockCols, threshold)

  /** [[ngramPrefixCandidates]] over a pre-shingled (blockCols*, id, sh)
    * frame, so the caller can share one persisted shingle stage between
    * candidate generation and Jaccard verification.
    *
    * Singleton pruning (measured 2.2× at the 10×-documents tier): a
    * shingle with document frequency 1 can never witness a candidate
    * (the index self-join pairs it only with itself, and id_a < id_b
    * kills that), so df=1 rows are dropped BEFORE the ranking window —
    * the window's sort input shrinks by the singleton mass, which in
    * fresh-crawl-shaped corpora is most of the vocabulary. Exactness:
    * ranks are computed among df>=2 tokens only, and since df=1 tokens
    * sort strictly first in the rarest-first order, rank'(x) =
    * rank(x) − n_singletons(doc) ≤ rank(x) — every token the full
    * ranking would index is still indexed (the kept set can only
    * GROW), so no qualifying pair loses its collision; the few extra
    * candidates are killed by the exact-Jaccard verify.
    */
  private[graft] def ngramPrefixCandidatesFromShingles(shDf: DataFrame,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val inv = shDf
      .select((blockCols.map(col) :+ col("id") :+ size(col("sh")).as("sz") :+
        explode(col("sh")).as("tok")): _*)
    val freq = inv.groupBy("tok").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("id").orderBy(col("__df").asc, col("tok").asc)
    // ceil(t·sz) with a safety epsilon: float error must never round
    // the required overlap UP (a longer prefix is merely slower; a
    // shorter one drops pairs)
    val prefix = inv.join(freq.filter(col("__df") >= 2), Seq("tok"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <=
        col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
    // distinct within-block id pairs sharing an indexed token
    val a = prefix.select(
      (blockCols.map(col) :+ col("tok") :+ col("id").as("id_a")): _*)
    val b = prefix.select(
      (blockCols.map(col) :+ col("tok") :+ col("id").as("id_b")): _*)
    a.join(b, blockCols :+ "tok")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** [[ngramJaccardPairs]] with the PPJoin prefix filter: candidates
    * from [[ngramPrefixCandidates]], verified by the exact merge-walk
    * Jaccard on the full shingle sets. Same answer as the unpruned
    * operator (DedupSpec pins the equivalence; the registered
    * q_ngram_prefix query shares q_ngram_jaccard's oracle), fewer
    * candidates — the trade is a vocabulary aggregate + doc-length
    * window against immunity to stop-shingle bucket blowup.
    */
  def ngramJaccardPairsPruned(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int = 2, threshold: Double = 0.2): DataFrame = {
    require(threshold > 0,
      "ngramJaccardPairsPruned prunes by required overlap; threshold must be > 0")
    // unpersisted shingle stage: the two verify sides shuffle
    // identically on id (one exchange, reused), and the prefix index
    // consumes its own exploded shuffle — re-shingling is a map pass,
    // cheaper than building a columnar cache of string arrays. Unlike
    // the r8 minhash shape this does NOT hide a cliff behind exchange
    // reuse: the worst case when reuse fails to materialize is one
    // extra shingling map pass + shuffle write (bounded, cheap — no
    // k-MD5 kernel re-runs; the sketch-bearing stage of minhashPairs
    // is persisted for exactly that reason).
    val docs = graft.ops.InputLayout.spread(df, col(idCol))
      .select((blockCols.map(col) :+ col(idCol).as("id") :+
        shingles(col(textCol), n).as("sh")): _*)
    ngramPrefixCandidatesFromShingles(docs, blockCols, threshold)
      .join(docs.select(col("id").as("id_a"),
        hashedSh(col("sh")).as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"),
        hashedSh(col("sh")).as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Distinct-shingle intersection counts for every within-block pair
    * sharing at least one shingle: (id_a, id_b, sz_a, sz_b, inter) by
    * inverted index (explode → (block, shingle) equi-join → count) —
    * the shared scaffold of [[ngramJaccardPairs]] and
    * [[containmentPairs]], which differ only in how they score
    * (inter, sz_a, sz_b). One implementation means the skew caveats
    * and any blocking fix apply to both.
    */
  private def blockIntersections(df: DataFrame, idCol: String,
      textCol: String, blockCols: Seq[String], n: Int): DataFrame = {
    val inv = graft.ops.InputLayout.spread(df, col(idCol)).select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        shingles(col(textCol), n).as("sh")): _*)
      .select((blockCols.map(col) :+ col("id") :+ size(col("sh")).as("sz") :+
        explode(col("sh")).as("tok")): _*)
    val a = inv.select(
      (blockCols.map(col) :+ col("tok") :+
        col("id").as("id_a") :+ col("sz").as("sz_a")): _*)
    val b = inv.select(
      (blockCols.map(col) :+ col("tok") :+
        col("id").as("id_b") :+ col("sz").as("sz_b")): _*)
    a.join(b, blockCols :+ "tok")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int = 2, threshold: Double = 0.2): DataFrame = {
    require(threshold > 0,
      "ngramJaccardPairs counts shared shingles; threshold must be > 0")
    blockIntersections(df, idCol, textCol, blockCols, n)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric CONTAINMENT join — the subset-duplication detector
    * Jaccard structurally misses: a 50-shingle quote fully embedded in
    * a 500-shingle article has J ≈ 0.1 (invisible at any sane Jaccard
    * threshold) but containment |A∩B|/|A| = 1.0. Same inverted-index
    * shape as [[ngramJaccardPairs]] (distinct-shingle explode,
    * (block, shingle) equi-join, count-as-intersection — no array
    * crosses a shuffle); the score is integer ppm on each side
    * (`1e6·inter DIV |side|`), so the output is engine-exact with no
    * float aggregation. A pair survives when its LARGER containment
    * (the smaller set's) clears `minContPpm`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int = 2,
      minContPpm: Long = 500000L): DataFrame = {
    require(minContPpm > 0,
      "containmentPairs counts shared shingles; minContPpm must be > 0")
    blockIntersections(df, idCol, textCol, blockCols, n)
      .withColumn("cont_a_ppm",
        expr("CAST((1000000 * inter) DIV sz_a AS BIGINT)"))
      .withColumn("cont_b_ppm",
        expr("CAST((1000000 * inter) DIV sz_b AS BIGINT)"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= minContPpm)
      .select("id_a", "id_b", "cont_a_ppm", "cont_b_ppm")
  }

  /** NEAR-dup overlap matrix between sources: shingle-set Jaccard per
    * source pair — [[dupMatrix]]'s fuzzy sibling (exact digests miss
    * sources that lightly edit what they mirror), in integer ppm. Per
    * shingle, its source set (combined map-side) expands into source
    * pairs: a < b counts are the intersections, a = b the sizes, read by
    * one window per side (a broadcast relation would pin a 32 MB page
    * until the ContextCleaner runs). No persist, join or broadcast.
    */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
      n: Int = 2): DataFrame = {
    val pairs = sourcePairCounts(
      graft.ops.InputLayout.spread(df, col(textCol))
        .select(col(sourceCol).as("source"),
          explode(shingles(col(textCol), n)).as("__key")))
    val self = when(col("src_a") === col("src_b"), col("__n"))
    pairs.withColumn("sz_a", max(self).over(Window.partitionBy("src_a")))
      .withColumn("sz_b", max(self).over(Window.partitionBy("src_b")))
      .filter(col("src_a") < col("src_b")).withColumnRenamed("__n", "inter")
      .withColumn("jac_ppm",
        expr("CAST((1000000 * inter) DIV (sz_a + sz_b - inter) AS BIGINT)"))
      .select("src_a", "src_b", "inter", "jac_ppm")
  }

  /** Cross-source exact-duplication matrix: for every source pair, how
    * many distinct document texts they share — the "which feeds mirror
    * which" report that decides dedup ORDER (dedupe the mirror against
    * the canonical source, not vice versa) and flags licensing
    * problems. [[sourceOverlap]]'s grouped form keyed by md5(text):
    * within-source duplicates collapse in the source set and only
    * 32-char digests cross the shuffle.
    */
  def dupMatrix(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    sourcePairCounts(df.select(col(sourceCol).as("source"),
        md5(col(textCol)).as("__key")))
      .filter(col("src_a") < col("src_b")).withColumnRenamed("__n", "n_shared")

  /** Per source pair (src_a <= src_b), `__n` = the distinct non-null
    * `__key`s both hold; null sources pair with nothing. */
  private def sourcePairCounts(keyed: DataFrame): DataFrame = {
    val srcs = col("__srcs")
    keyed.filter(col("__key").isNotNull)
      .groupBy("__key").agg(sort_array(collect_set(col("source"))).as("__srcs"))
      .select(srcs, posexplode(srcs).as(Seq("__i", "src_a")))
      .select(col("src_a"), explode(
        slice(srcs, col("__i") + 1, size(srcs) - col("__i"))).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("__n"))
  }
}
