package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.{Decontaminate, Packing, Sampling, TextAnalysis}

/** North-star extension ops (SURVEY.md §7 step 8): dedup family,
  * similarity search, text analysis over the `documents` /
  * `embeddings` fixtures. The hash-bearing pipelines use md5-derived
  * values so the DuckDB oracle reproduces signatures bit-for-bit;
  * vector scores use an explicit left-to-right double fold on both
  * engines for bit-identical ranking.
  */
object ExtQueries {
  import Tables._

  /** DuckDB fragment: distinct sorted word-2-shingles of `text`. */
  private val shinglesSql =
    """list_sort(list_distinct(CASE WHEN len(toks) >= 2 THEN
       list_transform(range(0, len(toks) - 1), i ->
         array_to_string(toks[CAST(i+1 AS INT):CAST(i+2 AS INT)], ' '))
       ELSE [] END))"""

  /** DuckDB fragment: left-to-right double dot product of the first
    * `n` components of a and b (n = 64 is the full fixture width).
    */
  private[queries] def dotSqlN(a: String, b: String, n: Int): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}),
        i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE))),
        (acc, x) -> acc + x)"""

  private[queries] def dotSql(a: String, b: String): String = dotSqlN(a, b, 64)

  private[queries] def cosSqlN(a: String, b: String, n: Int): String =
    s"(${dotSqlN(a, b, n)} / (sqrt(${dotSqlN(a, a, n)}) * sqrt(${dotSqlN(b, b, n)})))"

  private[queries] def cosSql(a: String, b: String): String = cosSqlN(a, b, 64)

  /** DuckDB CTE chain ending in `scored` — tokenized docs with
    * stopword-hit counts, token/char counts (shared by
    * q_text_analysis and q_corpus_prep).
    */
  private val scoredCtes =
    """t AS (SELECT doc_id, source, text,
         string_split_regex(trim(text), '\s+') AS toks,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
       FROM documents),
       scored AS (SELECT doc_id, source, text, toks, norm,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS en_hits,
         len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','zu','mit'], x))) AS de_hits,
         len(list_filter(toks, x -> list_contains(['el','la','de','y','es','un','en','que'], x))) AS es_hits,
         len(list_filter(toks, x -> list_contains(['le','la','et','est','un','une','dans','que'], x))) AS fr_hits,
         len(list_filter(toks, x -> list_contains(
           ['the','a','of','and','to','in','is','it',
            'der','die','das','und','ist','ein','zu','mit',
            'el','la','de','y','es','un','en','que',
            'le','la','et','est','un','une','dans','que'], x))) AS all_hits,
         len(toks) AS n_tokens,
         length(trim(text)) AS n_chars
       FROM t)"""

  /** Language-ID CASE over the `scored` hit columns. */
  private val langCaseSql =
    """CASE WHEN en_hits = greatest(en_hits,de_hits,es_hits,fr_hits) AND greatest(en_hits,de_hits,es_hits,fr_hits) > 0 THEN 'en'
            WHEN de_hits = greatest(en_hits,de_hits,es_hits,fr_hits) AND greatest(en_hits,de_hits,es_hits,fr_hits) > 0 THEN 'de'
            WHEN es_hits = greatest(en_hits,de_hits,es_hits,fr_hits) AND greatest(en_hits,de_hits,es_hits,fr_hits) > 0 THEN 'es'
            WHEN fr_hits = greatest(en_hits,de_hits,es_hits,fr_hits) AND greatest(en_hits,de_hits,es_hits,fr_hits) > 0 THEN 'fr'
            ELSE 'und' END"""

  /** Quality blend over the `scored` columns. */
  private val qualitySql =
    """(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.25
       + (CASE WHEN n_tokens > 0 AND (CAST(n_chars AS DOUBLE)/n_tokens) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END) * 0.25
       + (CASE WHEN n_chars > 0 THEN CAST(length(regexp_replace(trim(text), '[^a-zA-Z ]', '', 'g')) AS DOUBLE)/n_chars ELSE 0.0 END) * 0.25
       + least(CASE WHEN n_tokens > 0 THEN CAST(all_hits AS DOUBLE)/n_tokens ELSE 0.0 END * 5.0, 1.0) * 0.25"""

  /** Shared MinHash+LSH shape constants: interpolated into BOTH the
    * oracle CTEs below and the Scala-side QueryDef calls, so a
    * parameter edit cannot desync engine and oracle (the (a, b) affine
    * constants of the fast kernel are already generated from shared
    * functions; these cover k / bands / band width / threshold).
    */
  private[queries] val MhK = 16
  private[queries] val MhBands = 8
  private[queries] val MhR = MhK / MhBands
  private[queries] val MhThr = 0.1

  /** DuckDB CTE chain ending in `mh_pairs` — the MinHash+LSH pair list
    * (k=MhK, b=MhBands, r=MhR, jaccard >= MhThr) shared by
    * q_dedup_minhash and q_dedup_clusters.
    */
  /** CTE chain base..buckets (shingles -> minhash sigs -> LSH band
    * buckets) shared by the pairs oracle and q_dedup_eval.
    */
  private[queries] val minhashBucketCtes =
    // len(sh) > 0 mirrors minhashIndexView's sub-n-token guard: an
    // empty shingle set has an all-null signature whose band keys all
    // collapse to md5('') — every short doc would bucket with every
    // other short doc and the 0/0 Jaccard (NaN, which both engines
    // rank above any threshold) would pass the verify. The guard sits
    // on the SIGNATURE stage, not base: admission CTEs read base for
    // the full batch (a shingle-less doc is admissible, just never a
    // near-dup candidate).
    s"""base AS (
          SELECT doc_id AS id, $shinglesSql AS sh
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                FROM documents)),
        sigs AS (
          SELECT id, sh,
            list_transform(range(1, ${MhK + 1}), s ->
              list_min(list_transform(sh, x -> md5(CAST(s AS VARCHAR) || ':' || x)))) AS sig
          FROM base WHERE len(sh) > 0),
        banded AS (
          SELECT id, sh,
            list_transform(range(0, $MhBands), b ->
              md5(array_to_string(sig[CAST(b*$MhR+1 AS INT):CAST(b*$MhR+$MhR AS INT)], '|'))) AS bandkeys
          FROM sigs),
        buckets AS (
          SELECT id, sh, CAST(r.range AS INT) AS band,
                 bandkeys[CAST(r.range + 1 AS INT)] AS bucket
          FROM banded, range(0, $MhBands) AS r)"""

  /** Fast-kernel twin of [[minhashPairsCtes]]: one md5 per shingle +
    * k affine permutations (see SketchOps.minhashSigFast). The (a, b)
    * constants are generated HERE from the same Scala functions the
    * kernel evaluates, so oracle and engine cannot drift; DuckDB's
    * `CAST('0x…' AS BIGINT)` parses the same first-4-digest-bytes h
    * the kernel reads, and all products stay < 2^62 (a < 2^30,
    * h < 2^32) — signed-64-safe in both engines.
    */
  private val minhashFastPairsCtes = {
    import graft.functions.SketchOps.{fastA, fastB, fastP}
    val aList = (1 to MhK).map(fastA).mkString("[", ", ", "]")
    val bList = (1 to MhK).map(fastB).mkString("[", ", ", "]")
    s"""base AS (
          SELECT doc_id AS id, $shinglesSql AS sh
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                FROM documents)),
        hs AS (
          SELECT id, sh,
            list_transform(sh, x ->
              CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hv
          FROM base WHERE len(sh) > 0),
        sigs AS (
          SELECT id, sh,
            list_transform(range(1, ${MhK + 1}), s ->
              list_min(list_transform(hv, h ->
                (($aList)[CAST(s AS INT)] * h
                  + ($bList)[CAST(s AS INT)]) % $fastP))) AS sig
          FROM hs),
        banded AS (
          SELECT id, sh,
            list_transform(range(0, $MhBands), b ->
              md5(array_to_string(sig[CAST(b*$MhR+1 AS INT):CAST(b*$MhR+$MhR AS INT)], '|'))) AS bandkeys
          FROM sigs),
        buckets AS (
          SELECT id, sh, CAST(r.range AS INT) AS band,
                 bandkeys[CAST(r.range + 1 AS INT)] AS bucket
          FROM banded, range(0, $MhBands) AS r),
        mh_pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $MhThr)"""
  }

  /** DuckDB CTE chain ending in `sh64_pairs` — the 64-bit SimHash
    * near-dup pair list (4x16 bands, hamming <= 3), shared by
    * q_dedup_simhash64 and q_simhash64_apply. Replays the engine's
    * exact bit derivation: dimension i = bit i of md5(token) MSB-first
    * = bit 3-(i%4) of hex nibble i/4; sketch = signed-long
    * construction with bit 63 as the sign bit; bands by arithmetic
    * shift + mask (sign-safe: the mask keeps the low 16 regardless of
    * the sign fill). The trim(text) <> '' guard mirrors
    * simhashPairs64's empty-doc filter: empty text tokenizes to [""],
    * so every empty doc would share one md5('')-derived sketch and
    * all-pair at hamming 0.
    */
  private[queries] val simhash64PairCtes =
    """t AS (SELECT doc_id AS id,
                string_split_regex(trim(text), '\s+') AS toks
              FROM documents WHERE trim(text) <> ''),
              bits AS (
                SELECT id, i,
                  CASE WHEN list_sum(list_transform(toks, x ->
                    CASE WHEN ((instr('0123456789abcdef',
                        substr(md5(x), CAST(i // 4 + 1 AS INT), 1)) - 1)
                      // (CASE i % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                          WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
                    THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END AS bit
                FROM t, unnest(range(0, 64)) AS u(i)),
              sk AS (
                SELECT id, CAST(SUM(CASE WHEN bit = 0 THEN 0
                  WHEN i = 63 THEN -9223372036854775807 - 1
                  ELSE (1::BIGINT << CAST(i AS INT)) END) AS BIGINT) AS sk
                FROM bits GROUP BY id),
              bk AS (
                SELECT id, sk,
                  j * 65536 + ((sk >> CAST(16 * j AS INT)) & 65535) AS bucket
                FROM sk, unnest(range(0, 4)) AS w(j)),
              sh64_pairs AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  CAST(bit_count(xor(a.sk, b.sk)) AS BIGINT) AS hamming
                FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
                WHERE bit_count(xor(a.sk, b.sk)) <= 3)"""

  private val minhashPairsCtes =
    s"""$minhashBucketCtes,
        mh_pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $MhThr)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- text analysis ----
    // ---- text: overlapping character chunking (retrieval / context-
    // window prep): 200-char chunks, 50-char overlap; the final short
    // chunk reaches the end of the text. Map-side only — chunking
    // shuffles nothing ----
    QueryDef("q_chunk",
      Some("""WITH t AS (SELECT doc_id, text, length(text) AS len
                FROM documents),
              c AS (SELECT doc_id,
                  CAST(unnest(range(1, greatest(len - 50, 1) + 1, 150))
                    AS INT) AS start, text
                FROM t)
              SELECT doc_id,
                CAST((start - 1) / 150 + 1 AS INT) AS chunk_idx,
                substring(text, start, 200) AS chunk
              FROM c ORDER BY doc_id, chunk_idx"""),
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), size = 200,
            overlap = 50)).as(Seq("p", "chunk")))
        .select(col("doc_id"), (col("p") + 1).cast("int").as("chunk_idx"),
          col("chunk"))
        .orderBy("doc_id", "chunk_idx")),

    // ---- text: deterministic MLM-style token masking (~15% gate,
    // md5(doc_id:pos) — stable across runs/partitions/engines) ----
    QueryDef("q_mask_tokens",
      Some("""WITH t AS (SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS toks
                FROM documents),
              m AS (SELECT doc_id,
                  list_transform(range(1, len(toks) + 1), i ->
                    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)), 1, 2) < '26'
                      THEN '<mask>' ELSE toks[CAST(i AS INT)] END) AS mt
                FROM t)
              SELECT doc_id, array_to_string(mt, ' ') AS masked,
                CAST(len(list_filter(range(1, len(mt) + 1), i ->
                    substring(md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(i AS VARCHAR)), 1, 2) < '26')) AS BIGINT)
                  AS n_masked
              FROM m ORDER BY doc_id"""),
      (s, d) => documents(s, d)
        // sort FIRST, mask AFTER (r16, guide §1.2): a global ORDER BY
        // executes its child twice — once in the range-partitioner
        // sampling job, once in the shuffle map stage — so an
        // expensive projection below the sort (here: one md5 PER
        // TOKEN) runs twice per query. Sorting the raw (doc_id, text)
        // rows and masking above the sort computes the md5 pass once;
        // rows, order and values are identical (the mask is per-row
        // deterministic and the sort key is untouched).
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          TextAnalysis.maskTokens(col("doc_id"), col("__toks"),
            rate256 = 38).as("__m"))
        .select(col("doc_id"), col("__m.masked").as("masked"),
          col("__m.n_masked").as("n_masked"))),

    QueryDef("q_text_analysis",
      Some(s"""WITH $scoredCtes
              SELECT doc_id, n_tokens,
                CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x)/4.0) AS INT))) AS BIGINT) AS n_subwords,
                $langCaseSql AS lang_guess,
                $qualitySql AS quality,
                CASE WHEN length(norm) = 0 THEN 0 ELSE
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(norm)+1),
                      i -> CAST(ascii(substr(norm, CAST(i AS INT), 1)) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007) END AS fingerprint
              FROM scored ORDER BY doc_id"""),
      (s, d) => documents(s, d)
        // sort FIRST, score AFTER (r16, guide §1.2 — same reorder as
        // q_mask_tokens): the global ORDER BY's sampling job would
        // otherwise run the whole interpreted-HOF scoring stack twice
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        // materialize tokens once: the HOF consumers run interpreted
        // (no codegen CSE), so an inlined split() would re-evaluate
        // at every use site
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .select(
          col("doc_id"),
          // int64 on both sides: DuckDB len()/list_sum() widen past
          // int32, and the driver's hash is dtype-sensitive
          size(col("toks")).cast("long").as("n_tokens"),
          TextAnalysis.subwordCountT(col("toks")).cast("long").as("n_subwords"),
          TextAnalysis.langIdT(col("toks")).as("lang_guess"),
          TextAnalysis.qualityScoreT(col("text"), col("toks")).as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint")
        )),

    // ---- corpus preparation capstone: quality filter -> language
    // filter -> exact dedup -> per-source report, the whole extension
    // stack composed end-to-end the way a training-data pipeline
    // actually chains them ----
    QueryDef("q_corpus_prep",
      Some(s"""WITH $scoredCtes,
              q AS (SELECT doc_id, source, text, n_tokens,
                      $langCaseSql AS lang_guess,
                      $qualitySql AS quality
                    FROM scored),
              f AS (SELECT * FROM q WHERE quality >= 0.5 AND lang_guess = 'en'),
              d AS (SELECT * FROM f
                    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
              SELECT source, count(*) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS total_tokens
              FROM d GROUP BY 1 ORDER BY source"""),
      (s, d) => {
        val scored = documents(s, d)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("source"), col("text"),
            size(col("toks")).cast("long").as("n_tokens"),
            TextAnalysis.langIdT(col("toks")).as("lang_guess"),
            TextAnalysis.qualityScoreT(col("text"), col("toks")).as("quality"))
        val filtered = scored
          .filter(col("quality") >= 0.5 && col("lang_guess") === "en")
        Dedup.exact(filtered, "text", "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
          .orderBy("source")
      }),

    // ---- within-doc repetition removal + PII scrubbing. The fixture
    // corpus is single-line and PII-free, so both are exercised on a
    // deterministic construction (line1 = text, line2 = head words +
    // synthesized email/phone, line3 = duplicate of line1) built
    // identically on both engines; outputs compare via md5 ----
    QueryDef("q_clean_text",
      Some("""WITH b AS (SELECT doc_id, text,
                array_to_string((string_split(text, ' '))[1:5], ' ')
                  || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@ex.org or 602-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_line
              FROM documents),
              c AS (SELECT doc_id,
                      string_split(text || chr(10) || pii_line || chr(10) || text,
                        chr(10)) AS ls
                    FROM b),
              e AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
                      list_filter(ls, (x, i) -> NOT list_contains(ls[1:i-1], x)) AS ded
                    FROM c)
              SELECT doc_id, n_lines, CAST(len(ded) AS BIGINT) AS n_dedup,
                     md5(regexp_replace(regexp_replace(
                       array_to_string(ded, chr(10)),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b',
                       '<PHONE>', 'g')) AS scrubbed_md5
              FROM e ORDER BY doc_id"""),
      (s, d) => {
        val piiLine = concat(
          substring_index(col("text"), " ", 5),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex.org or 602-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val built = concat_ws("\n", col("text"), piiLine, col("text"))
        // sort-first (r16): see q_mask_tokens — the quadratic
        // line-dedup HOF and the PII regexes run once, not twice
        documents(s, d)
          .select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .select(col("doc_id"), built.as("built"))
          .select(col("doc_id"),
            size(split(col("built"), "\n")).cast("long").as("n_lines"),
            TextAnalysis.dedupeLines(col("built")).as("ded"))
          .select(col("doc_id"), col("n_lines"),
            size(split(col("ded"), "\n")).cast("long").as("n_dedup"),
            md5(TextAnalysis.scrubPii(col("ded"))).as("scrubbed_md5"))
      }),

    // ---- decontamination: corpus docs sharing shingles with the
    // benchmark slice (doc_id % 100 = 0 stands in for the eval set) ----
    QueryDef("q_decontaminate",
      Some(s"""WITH base AS (
                SELECT doc_id, $shinglesSql AS sh
                FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents)),
              bench AS (SELECT DISTINCT unnest(sh) AS tok FROM base
                        WHERE doc_id % 100 = 0),
              corpus AS (SELECT doc_id, unnest(sh) AS tok FROM base
                         WHERE doc_id % 100 <> 0)
              SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              FROM corpus c JOIN bench b ON c.tok = b.tok
              GROUP BY 1 ORDER BY doc_id"""),
      (s, d) => {
        val docs = documents(s, d)
        val bench = Decontaminate.benchmarkShingles(
          docs.filter(col("doc_id") % 100 === 0), "text", 2)
        Decontaminate.contaminationHits(
          docs.filter(col("doc_id") % 100 =!= 0), bench, "doc_id", "text", 2)
          .orderBy("doc_id")
      }),

    // ---- text: FUZZY decontamination — train docs that are MinHash
    // near-dups of a benchmark doc (paraphrase-tolerant eval-leak
    // check; raw shingle overlap misses reworded questions). The
    // incremental-index probe shape: benchmark sketched once,
    // candidates only inside shared LSH buckets. The oracle is the
    // full banding recompute restricted to train-vs-bench pairs ----
    QueryDef("q_fuzzy_decontaminate",
      Some(s"""WITH $minhashBucketCtes,
              fz AS (
                SELECT DISTINCT a.id AS train_id, b.id AS bench_id,
                  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    AS jaccard
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.id % 10 <> 0 AND b.id % 10 = 0
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    >= 0.1)
              SELECT train_id, bench_id, jaccard FROM fz
              ORDER BY train_id, bench_id"""),
      (s, d) => {
        val docs = documents(s, d)
        Decontaminate.fuzzyContamination(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", threshold = 0.1, fastKernel = false)
          .orderBy("train_id", "bench_id")
      }),

    // ---- deterministic stratified sampling: md5-gated, so the same
    // rows are drawn regardless of partitioning, seed, or engine ----
    QueryDef("q_stratified_sample",
      Some("""SELECT doc_id, lang FROM documents
              WHERE CASE WHEN lang = 'en'
                    THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
                    ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' END
              ORDER BY doc_id"""),
      (s, d) => Sampling.stratified(documents(s, d), "doc_id", "lang",
          Map("en" -> 0.25), default = 0.5)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    // ---- sequence packing: greedy first-fit bins by token count per
    // lang in doc_id order (one shuffle + in-partition scan; the oracle
    // expresses the same sequential recurrence as a recursive CTE) ----
    QueryDef("q_token_pack",
      Some("""WITH RECURSIVE t AS (SELECT doc_id, lang,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
                row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
              FROM documents),
              g AS (
                SELECT doc_id, lang, n_tok, rn, 0 AS bin, n_tok AS filled
                FROM t WHERE rn = 1
                UNION ALL
                SELECT t.doc_id, t.lang, t.n_tok, t.rn,
                  CASE WHEN g.filled + t.n_tok > 512 THEN g.bin + 1 ELSE g.bin END,
                  CASE WHEN g.filled + t.n_tok > 512 THEN t.n_tok ELSE g.filled + t.n_tok END
                FROM g JOIN t ON t.lang = g.lang AND t.rn = g.rn + 1)
              SELECT doc_id, lang, n_tok, CAST(bin AS INT) AS bin
              FROM g ORDER BY doc_id"""),
      (s, d) => Packing.packBins(
          documents(s, d).select(col("doc_id"), col("lang"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok")),
          Seq("lang"), "doc_id", "n_tok", 512)
        .orderBy("doc_id")),

    // ---- packed-batch assembly: the loader-facing face of packing —
    // per (lang, bin): member doc_ids in order plus each doc's START
    // token offset inside the packed sequence (the attention-boundary
    // metadata a packed-batch data loader consumes). Offsets derive
    // from the same greedy recurrence the bins do ----
    QueryDef("q_pack_assemble",
      Some("""WITH RECURSIVE t AS (SELECT doc_id, lang,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
                row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
              FROM documents),
              g AS (
                SELECT doc_id, lang, n_tok, rn, 0 AS bin, n_tok AS filled
                FROM t WHERE rn = 1
                UNION ALL
                SELECT t.doc_id, t.lang, t.n_tok, t.rn,
                  CASE WHEN g.filled + t.n_tok > 512 THEN g.bin + 1 ELSE g.bin END,
                  CASE WHEN g.filled + t.n_tok > 512 THEN t.n_tok ELSE g.filled + t.n_tok END
                FROM g JOIN t ON t.lang = g.lang AND t.rn = g.rn + 1)
              SELECT lang, CAST(bin AS INT) AS bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS total_tok,
                string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                  AS doc_ids,
                string_agg(CAST(filled - n_tok AS VARCHAR), ',' ORDER BY doc_id)
                  AS starts
              FROM g GROUP BY lang, bin ORDER BY lang, bin"""),
      (s, d) => {
        val packed = Packing.packBins(
          documents(s, d).select(col("doc_id"), col("lang"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok")),
          Seq("lang"), "doc_id", "n_tok", 512)
        val w = Window.partitionBy("lang", "bin").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        packed
          .withColumn("start",
            (sum("n_tok").over(w) - col("n_tok")).cast("long"))
          .groupBy("lang", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").cast("long").as("total_tok"),
            sort_array(collect_list(struct(col("doc_id"), col("start"))))
              .as("pm"))
          // member lists ship as comma-joined strings, not arrays: the
          // driver's compare sorts rows on every output column, and an
          // array cell is unsortable/unhashable there — a string is the
          // portable encoding of ordered per-bin metadata
          .select(col("lang"), col("bin"), col("n_docs"), col("total_tok"),
            concat_ws(",",
              transform(col("pm"), s => s.getField("doc_id").cast("string")))
              .as("doc_ids"),
            concat_ws(",",
              transform(col("pm"), s => s.getField("start").cast("string")))
              .as("starts"))
          .orderBy("lang", "bin")
      }),

    // ---- OOV-rate vocab sizing: for candidate vocab sizes K, the
    // fraction of corpus tokens that fall OUTSIDE the top-K vocabulary
    // (count desc, token asc) — the report that sizes a tokenizer
    // before training. Integer token counts; top-K via
    // TakeOrderedAndProject (never a global sort of the vocab) ----
    // ---- BPE merge step: pair table over the distinct-word
    // vocabulary (freq-weighted — corpus size never touches the pair
    // stage), deterministic winner, greedy-merge effect measured with
    // run-parity overlap semantics (odd-ranked links of same-pair
    // islands = floor(run/2) merges, the sequential answer without a
    // sequential scan) ----
    QueryDef("q_bpe_step",
      Some("""WITH words AS (
                SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
                  FROM documents)
                WHERE len(w) > 0 GROUP BY w),
              stream AS (
                SELECT w, freq, CAST(p AS INT) AS pos,
                       substr(w, CAST(p AS INT), 1) AS sym,
                       CASE WHEN p < len(w)
                            THEN substr(w, CAST(p + 1 AS INT), 1) END AS nxt
                FROM words, unnest(range(1, len(w) + 1)) AS t(p)),
              links AS (SELECT * FROM stream WHERE nxt IS NOT NULL),
              pc AS (SELECT sym AS a, nxt AS b,
                       CAST(sum(freq) AS BIGINT) AS cnt
                     FROM links GROUP BY 1, 2),
              top AS (SELECT a, b, cnt,
                       CAST(row_number() OVER (ORDER BY cnt DESC, a, b)
                         AS INT) AS rank
                      FROM pc QUALIFY rank <= 10),
              w1 AS (SELECT a, b FROM top WHERE rank = 1),
              members AS (
                SELECT l.w, l.freq, l.pos FROM links l, w1
                WHERE l.sym = w1.a AND l.nxt = w1.b),
              isl AS (SELECT w, freq, pos,
                       pos - row_number() OVER (PARTITION BY w ORDER BY pos)
                         AS island
                      FROM members),
              mg AS (SELECT w, freq, CAST(count(*) AS BIGINT) AS m FROM (
                       SELECT w, freq, island,
                         row_number() OVER (PARTITION BY w, island
                           ORDER BY pos) AS rn
                       FROM isl)
                     WHERE (SELECT a <> b FROM w1) OR rn % 2 = 1
                     GROUP BY w, freq),
              tb AS (SELECT CAST(sum(freq) AS BIGINT) AS v FROM stream),
              tm AS (SELECT COALESCE(CAST(sum(m * freq) AS BIGINT),
                       CAST(0 AS BIGINT)) AS v FROM mg)
              SELECT rank, a, b, cnt,
                     tb.v AS total_syms_before,
                     tb.v - tm.v AS total_syms_after
              FROM top, tb, tm ORDER BY rank"""),
      (s, d) => graft.text.Bpe.mergeStepReport(documents(s, d), "text", 10)),

    QueryDef("q_oov_rate",
      Some("""WITH counts AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
                      FROM documents)
                GROUP BY tok),
              ranked AS (
                SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk
                FROM counts),
              tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
              ks AS (SELECT CAST(unnest([100, 1000, 5000]) AS BIGINT) AS k)
              SELECT k, total,
                (SELECT CAST(sum(n) AS BIGINT) FROM ranked WHERE rk <= k)
                  AS covered,
                CAST(floor((total - (SELECT CAST(sum(n) AS BIGINT)
                    FROM ranked WHERE rk <= k)) * 10000.0 / total + 0.5)
                  AS BIGINT) AS oov_bp
              FROM ks, tot ORDER BY k"""),
      (s, d) => {
        // persisted: the vocab table feeds three top-K probes plus the
        // total — unpersisted, the explode+aggregate runs four times
        val counts = graft.ops.StageCache.persisted(documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n")))
        val tot = counts.agg(sum("n").cast("long").as("total"))
        def at(k: Int) = counts
          .orderBy(desc("n"), asc("tok")).limit(k)
          .agg(sum("n").cast("long").as("covered"))
          .select(lit(k.toLong).as("k"), col("covered"))
        at(100).unionByName(at(1000)).unionByName(at(5000))
          .crossJoin(broadcast(tot))
          .select(col("k"), col("total"), col("covered"),
            floor((col("total") - col("covered")) * 10000.0 / col("total") + 0.5)
              .cast("long").as("oov_bp"))
          .orderBy("k")
      }),

    // ---- dedup: exact ----
    QueryDef("q_dedup_exact",
      Some("""SELECT doc_id, source FROM documents
              QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
              ORDER BY doc_id"""),
      (s, d) => Dedup.exact(documents(s, d), "text", "doc_id")
        .select("doc_id", "source").orderBy("doc_id")),

    // ---- dedup: MinHash + LSH (md5-lex-min signatures, k=16, b=8, r=2) ----
    QueryDef("q_dedup_minhash",
      Some(s"""WITH $minhashPairsCtes
              SELECT id_a, id_b, jaccard FROM mh_pairs
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.minhashPairs(documents(s, d), "doc_id", "text",
        n = 2, k = MhK, bands = MhBands, threshold = MhThr,
        fastKernel = false)
        .orderBy("id_a", "id_b")),

    // ---- dedup: MinHash+LSH with the PRODUCTION kernel — one md5 per
    // shingle + 16 affine permutations instead of 16 md5s per shingle.
    // The md5 count is the dominant CPU line of a 100 TB sketch pass;
    // since round 12 this kernel IS the builders' DEFAULT (this call
    // deliberately omits fastKernel to exercise the default path),
    // while q_dedup_minhash above pins the md5-lex-min legacy kernel
    // its published oracle replays. The banding/candidate/verify
    // stages are shared code paths — only the signature expression
    // differs ----
    QueryDef("q_dedup_minhash_fast",
      Some(s"""WITH $minhashFastPairsCtes
              SELECT id_a, id_b, jaccard FROM mh_pairs
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.minhashPairs(documents(s, d), "doc_id", "text",
        n = 2, k = MhK, bands = MhBands, threshold = MhThr)
        .orderBy("id_a", "id_b")),

    // ---- dedup: INCREMENTAL MinHash — the daily-pipeline shape. The
    // corpus (even doc_ids) is indexed once (bucket + shingle staging
    // tables); the delta (odd doc_ids) sketches only itself and probes
    // the index. The oracle is the full recompute restricted to
    // delta-vs-corpus pairs, so the hash match IS the
    // incremental-equals-batch equivalence proof; DedupSpec separately
    // pins that a parquet-reloaded index leaves the corpus text out of
    // the plan entirely ----
    QueryDef("q_incremental_minhash",
      Some(s"""WITH $minhashBucketCtes,
              inc AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    AS jaccard
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.id % 2 = 1 AND b.id % 2 = 0
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    >= 0.1)
              SELECT id_a, id_b, jaccard FROM inc
              ORDER BY id_a, id_b"""),
      (s, d) => {
        val docs = documents(s, d)
        // in-session stand-in for the staged corpus index: each frame
        // has one consumer here, so the unpersisted view is the right
        // plan (a real daily run reads the index from parquet instead —
        // DedupSpec pins that reloaded shape)
        val index = Dedup.minhashIndexView(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
          fastKernel = false)
        Dedup.incrementalMinhashPairs(index,
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text", threshold = 0.1, fastKernel = false)
          .orderBy("id_a", "id_b")
      }),

    // ---- dedup: connected-components cluster assignment over the
    // embedding-cosine near-dup pairs (SemDeDup shape: semantic pair
    // list -> keep-one-per-cluster canonical id). The operator is
    // pair-source-agnostic — Dedup.clusters composes equally with
    // minhashPairs / ngramJaccardPairs / simhashPairs ----
    QueryDef("q_dedup_clusters",
      Some(s"""WITH RECURSIVE ev AS (
                SELECT label AS blk, vec_id AS id, embedding AS v
                FROM embeddings),
              em_pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM ev a JOIN ev b ON a.blk = b.blk AND a.id < b.id
                WHERE ${cosSql("a.v", "b.v")} >= 0.3),
              edges AS (
                SELECT id_a AS src, id_b AS dst FROM em_pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM em_pairs),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              cc AS (
                SELECT id, id AS label FROM nodes
                UNION
                SELECT e.dst AS id, cc.label
                FROM cc JOIN edges e ON cc.id = e.src)
              SELECT id, min(label) AS cluster
              FROM cc GROUP BY id ORDER BY id"""),
      (s, d) => Dedup.clusters(
        Ann.cosinePairs(embeddings(s, d), "label", 0.3))
        .orderBy("id")),

    // ---- dedup: apply the cluster decisions — one representative
    // (min id) per connected component + every unpaired row; the
    // pairs → clusters → APPLY last mile. Transitive, vs
    // q_semantic_dedup's per-pair rule ----
    QueryDef("q_dedup_apply",
      Some(s"""WITH RECURSIVE ev AS (
                SELECT label AS blk, vec_id AS id, embedding AS v
                FROM embeddings),
              em_pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM ev a JOIN ev b ON a.blk = b.blk AND a.id < b.id
                WHERE ${cosSql("a.v", "b.v")} >= 0.3),
              edges AS (
                SELECT id_a AS src, id_b AS dst FROM em_pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM em_pairs),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              cc AS (
                SELECT id, id AS label FROM nodes
                UNION
                SELECT e.dst AS id, cc.label
                FROM cc JOIN edges e ON cc.id = e.src),
              labels AS (
                SELECT id, min(label) AS cluster FROM cc GROUP BY id)
              SELECT vec_id, label FROM embeddings
              WHERE vec_id NOT IN
                (SELECT id FROM labels WHERE id <> cluster)
              ORDER BY vec_id"""),
      (s, d) => Dedup.applyClusters(
          embeddings(s, d).select("vec_id", "label"),
          Dedup.clusters(Ann.cosinePairs(embeddings(s, d), "label", 0.3)),
          "vec_id")
        .orderBy("vec_id")),

    // ---- dedup: SimHash (16-bit, two 8-bit bands, hamming <= 3) ----
    QueryDef("q_dedup_simhash",
      Some("""WITH t AS (SELECT doc_id AS id,
                string_split_regex(trim(text), '\s+') AS toks FROM documents),
              sk AS (SELECT id,
                list_transform(range(1, 17), i -> CASE WHEN
                  list_sum(list_transform(toks, x -> CASE WHEN
                    instr('89abcdef', substr(md5(x), CAST(i AS INT), 1)) > 0
                    THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) AS bits
                FROM t),
              kb AS (SELECT id, bits,
                [array_to_string(bits[1:8], ''),
                 'h2:' || array_to_string(bits[9:16], '')] AS bandkeys FROM sk),
              buckets AS (SELECT id, bits, unnest(bandkeys) AS bucket FROM kb)
              SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  abs(a.bits[CAST(i AS INT)] - b.bits[CAST(i AS INT)]))) AS BIGINT) AS hamming
              FROM buckets a JOIN buckets b
                ON a.bucket = b.bucket AND a.id < b.id
              WHERE list_sum(list_transform(range(1, 17), i ->
                  abs(a.bits[CAST(i AS INT)] - b.bits[CAST(i AS INT)]))) <= 3
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.simhashPairs(documents(s, d), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")),

    // ---- dedup: SimHash at PRODUCTION resolution (64-bit long
    // sketch, 4 disjoint 16-bit bands, hamming via bit_count(xor)).
    // The 16-bit pipeline above stays as the reference-scale shape,
    // but its 65 536-value sketch space saturates at corpus scale —
    // the 100× bench tier measured its hamming<=3 pair volume growing
    // 28.7× for 10× docs (pigeonhole collisions of unrelated docs).
    // 64 bits keeps random collisions vanishing AND makes hamming<=3
    // recall exhaustive (3 differing bits touch at most 3 of 4 bands).
    // The oracle replays the identical bit derivation: dimension i =
    // bit i of md5(token) MSB-first = bit 3-(i%4) of hex nibble i/4;
    // sketch = signed-long construction with bit 63 as the sign bit;
    // bands by arithmetic shift + mask (sign-safe: the mask keeps the
    // low 16 regardless of the sign fill) ----
    QueryDef("q_dedup_simhash64",
      Some(s"""WITH $simhash64PairCtes
              SELECT id_a, id_b, hamming FROM sh64_pairs
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.simhashPairs64(documents(s, d), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // ---- dedup: the 64-bit simhash pipeline's LAST MILE — pairs ->
    // transitive clusters -> keep one representative (min id) per
    // component + every unpaired doc. Composes simhashPairs64 with the
    // same clusters/applyClusters ops the minhash family uses, so the
    // production-resolution sketch has a survivors query, not just a
    // pair dump. The oracle replays the full chain: identical sketch +
    // banding CTEs, recursive-CTE connected components, anti-join
    // apply ----
    QueryDef("q_simhash64_apply",
      Some(s"""WITH RECURSIVE $simhash64PairCtes,
              edges AS (
                SELECT id_a AS src, id_b AS dst FROM sh64_pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM sh64_pairs),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              cc AS (
                SELECT id, id AS label FROM nodes
                UNION
                SELECT e.dst AS id, cc.label
                FROM cc JOIN edges e ON cc.id = e.src)
              SELECT doc_id, source FROM documents
              WHERE doc_id NOT IN (
                SELECT id FROM (
                  SELECT id, min(label) AS cluster FROM cc GROUP BY id)
                WHERE id <> cluster)
              ORDER BY doc_id"""),
      (s, d) => {
        val docs = documents(s, d)
        Dedup.applyClusters(docs.select("doc_id", "source"),
            Dedup.clusters(Dedup.simhashPairs64(docs, "doc_id", "text",
              maxHamming = 3)),
            "doc_id")
          .orderBy("doc_id")
      }),

    // ---- dedup: n-gram Jaccard within a blocking key (lang) ----
    QueryDef("q_ngram_jaccard",
      Some(s"""WITH base AS (
                SELECT lang, source, doc_id AS id, $shinglesSql AS sh
                FROM (SELECT doc_id, lang, source,
                        string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents))
              SELECT a.id AS id_a, b.id AS id_b,
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
              FROM base a JOIN base b
                ON a.lang = b.lang AND a.source = b.source AND a.id < b.id
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.09
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text",
        Seq("lang", "source"), n = 2, threshold = 0.09)
        .orderBy("id_a", "id_b")),

    // ---- dedup: asymmetric CONTAINMENT — the subset-dup detector
    // Jaccard misses (a short quote inside a long article). Integer-ppm
    // scores, same inverted-index shape as q_ngram_jaccard ----
    QueryDef("q_containment",
      Some(s"""WITH base AS (
                SELECT lang, source, doc_id AS id, $shinglesSql AS sh
                FROM (SELECT doc_id, lang, source,
                        string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents))
              SELECT id_a, id_b, cont_a_ppm, cont_b_ppm FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                  CAST((1000000 * len(list_intersect(a.sh, b.sh)))
                    // len(a.sh) AS BIGINT) AS cont_a_ppm,
                  CAST((1000000 * len(list_intersect(a.sh, b.sh)))
                    // len(b.sh) AS BIGINT) AS cont_b_ppm
                FROM base a JOIN base b
                  ON a.lang = b.lang AND a.source = b.source AND a.id < b.id)
              WHERE greatest(cont_a_ppm, cont_b_ppm) >= 200000
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        Seq("lang", "source"), n = 2, minContPpm = 200000L)
        .orderBy("id_a", "id_b")),

    // ---- dedup: n-gram Jaccard with the PPJoin prefix filter — the
    // stop-shingle-skew-proof variant. Same final answer by the prefix
    // filtering theorem, so it shares q_ngram_jaccard's oracle: the
    // hash match IS the equivalence proof ----
    QueryDef("q_ngram_prefix",
      Some(s"""WITH base AS (
                SELECT lang, source, doc_id AS id, $shinglesSql AS sh
                FROM (SELECT doc_id, lang, source,
                        string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents))
              SELECT a.id AS id_a, b.id AS id_b,
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
              FROM base a JOIN base b
                ON a.lang = b.lang AND a.source = b.source AND a.id < b.id
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.09
              ORDER BY id_a, id_b"""),
      (s, d) => Dedup.ngramJaccardPairsPruned(documents(s, d), "doc_id", "text",
        Seq("lang", "source"), n = 2, threshold = 0.09)
        .orderBy("id_a", "id_b")),

    // ---- dedup: exact-substring span dedup (ExactSubstr; Lee et al.)
    // — per-doc count of 8-token windows shared verbatim with another
    // doc; the span-level complement to whole-doc/minhash dedup ----
    QueryDef("q_substr_dedup",
      // the span counts LEFT-JOIN back onto t with COALESCE-to-0: a doc
      // shorter than w tokens has zero spans, and DuckDB's unnest([])
      // emits no row where Spark's explode_outer keeps the doc — the
      // left join keeps the two engines aligned on short docs
      Some("""WITH t AS (SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS toks
                FROM documents),
              sp AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(toks) >= 8 THEN
                    list_transform(range(1, len(toks) - 6), i ->
                      md5(array_to_string(
                        toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')))
                  ELSE [] END)) AS dig
                FROM t),
              d AS (SELECT doc_id, dig,
                  count(*) OVER (PARTITION BY dig) AS n_docs
                FROM sp),
              agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_dup_spans
                FROM d GROUP BY doc_id)
              SELECT t.doc_id,
                COALESCE(agg.n_spans, CAST(0 AS BIGINT)) AS n_spans,
                COALESCE(agg.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans
              FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
              ORDER BY t.doc_id"""),
      (s, d) => Dedup.duplicateSpans(documents(s, d), "doc_id", "text", w = 8)
        .orderBy("doc_id")),

    // ---- dedup: exact-substring APPLY — remove every token covered
    // by an 8-token window shared with a lower-id doc (the owner keeps
    // its occurrences). The cleaned corpus is verified via md5 of the
    // surviving tokens, so the multi-KB texts never cross to the
    // oracle comparison ----
    QueryDef("q_substr_apply",
      Some("""WITH t AS (SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS toks
                FROM documents),
              wins AS (SELECT doc_id, toks,
                  unnest(range(1, len(toks) - 6)) AS i
                FROM t WHERE len(toks) >= 8),
              dig AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                  md5(array_to_string(
                    toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) AS dg
                FROM wins),
              stats AS (SELECT dg, count(DISTINCT doc_id) AS n_docs,
                  min(doc_id) AS owner
                FROM dig GROUP BY dg),
              cov AS (SELECT DISTINCT w.doc_id,
                  unnest(range(w.i, w.i + 8)) AS p
                FROM dig w JOIN stats s USING (dg)
                WHERE s.n_docs >= 2 AND w.doc_id <> s.owner),
              covsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
                FROM cov GROUP BY doc_id),
              npos AS (SELECT doc_id, toks,
                  unnest(range(1, len(toks) + 1)) AS p
                FROM t),
              kept AS (SELECT n.doc_id, n.p,
                  n.toks[CAST(n.p AS INT)] AS tok
                FROM npos n LEFT JOIN cov c
                  ON n.doc_id = c.doc_id AND n.p = c.p
                WHERE c.p IS NULL),
              agg AS (SELECT doc_id,
                  md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
                FROM kept GROUP BY doc_id)
              SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                COALESCE(cs.n_removed, CAST(0 AS BIGINT)) AS n_removed,
                COALESCE(a.clean_md5, md5('')) AS clean_md5
              FROM t LEFT JOIN covsz cs ON t.doc_id = cs.doc_id
                LEFT JOIN agg a ON t.doc_id = a.doc_id
              ORDER BY t.doc_id"""),
      (s, d) => Dedup.removeDuplicateSpans(documents(s, d), "doc_id", "text",
        w = 8)
        .orderBy("doc_id")),

    // ---- dedup: CCNet-style corpus-wide paragraph keep-first with
    // reassembly (Wenzek et al. 2020) — 20-token aligned blocks stand
    // in for newline paragraphs on the single-line fixture; winner per
    // digest is a rn==1 window that WindowGroupLimit collapses
    // map-side (measured skew-safe AND cheaper than the agg+join
    // formulation, SCALE.md Round 13 — see Dedup.paragraphDedup) ----
    QueryDef("q_paragraph_dedup",
      Some("""WITH t AS (SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS toks
                FROM documents),
              b AS (SELECT doc_id, toks,
                  CAST(ceil(len(toks) / 20.0) AS BIGINT) AS n_paras
                FROM t),
              ex AS (SELECT doc_id,
                  CAST(unnest(range(0, n_paras)) AS BIGINT) AS pos, toks
                FROM b),
              p AS (SELECT doc_id, pos,
                  array_to_string(
                    toks[CAST(pos*20+1 AS INT):CAST(pos*20+20 AS INT)],
                    ' ') AS para
                FROM ex),
              w AS (SELECT doc_id, pos, para,
                  row_number() OVER (PARTITION BY md5(para)
                    ORDER BY doc_id, pos) AS rn
                FROM p),
              a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  md5(string_agg(para, ' ' ORDER BY pos)) AS kept_md5
                FROM w WHERE rn = 1 GROUP BY doc_id)
              SELECT b.doc_id, b.n_paras,
                COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
                COALESCE(a.kept_md5, md5('')) AS kept_md5
              FROM b LEFT JOIN a ON b.doc_id = a.doc_id
              ORDER BY b.doc_id"""),
      (s, d) => Dedup.paragraphDedup(documents(s, d), "doc_id", "text",
        k = 20)
        .orderBy("doc_id")),

    // ---- dedup: newline-unit CCNet paragraph keep-first — the
    // literal Wenzek et al. split('\n') semantics over the same
    // window pipeline as q_paragraph_dedup. The single-line fixture
    // corpus is regrouped into multiline super-docs (doc_id % 401,
    // paragraphs joined by \n in doc_id order — WHOLE original docs
    // become paragraphs, so the corpus's real dup structure becomes
    // paragraph-level dup structure), and every gid % 3 == 0 group
    // gains a leading blank line and a trailing blank-line RUN, so
    // empty paragraphs and empty runs exercise the keep-first rule
    // (first blank line corpus-wide survives, all others drop) ----
    QueryDef("q_paragraph_newline",
      Some("""WITH g AS (SELECT doc_id % 401 AS gid,
                  string_agg(text, chr(10) ORDER BY doc_id) AS t0
                FROM documents GROUP BY 1),
              t AS (SELECT gid,
                  CASE WHEN gid % 3 = 0
                    THEN chr(10) || t0 || chr(10) || chr(10)
                    ELSE t0 END AS text
                FROM g),
              px AS (SELECT gid, l,
                  CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS pos1
                FROM (SELECT gid, string_split(text, chr(10)) AS l FROM t)),
              p AS (SELECT gid, pos1 - 1 AS pos,
                  l[CAST(pos1 AS INT)] AS para
                FROM px),
              w AS (SELECT gid, pos, para,
                  row_number() OVER (PARTITION BY md5(para)
                    ORDER BY gid, pos) AS rn
                FROM p),
              a AS (SELECT gid, CAST(count(*) AS BIGINT) AS n_kept,
                  md5(string_agg(para, chr(10) ORDER BY pos)) AS kept_md5
                FROM w WHERE rn = 1 GROUP BY gid),
              n AS (SELECT gid,
                  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_paras
                FROM t)
              SELECT n.gid, n.n_paras,
                COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
                COALESCE(a.kept_md5, md5('')) AS kept_md5
              FROM n LEFT JOIN a USING (gid) ORDER BY gid"""),
      (s, d) => {
        val g = documents(s, d)
          .groupBy((col("doc_id") % 401).as("gid"))
          .agg(concat_ws("\n", transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            e => e.getField("text"))).as("t0"))
        val multi = g.withColumn("text",
          when(col("gid") % 3 === 0,
            concat(lit("\n"), col("t0"), lit("\n\n")))
            .otherwise(col("t0")))
        Dedup.paragraphDedupNewline(multi, "gid", "text").orderBy("gid")
      }),

    // ---- dedup: WITHIN-doc repeated-block removal (RefinedWeb-style
    // per-document cleanup; map-side only — the operator adds ZERO
    // exchanges, the shuffle-free complement to q_paragraph_dedup's
    // corpus-wide pass). The word-salad fixture never aligns a
    // repeated 5-token block on its own, so every 4th doc PREPENDS its
    // own first block (block 0 then equals block 1 — a guaranteed
    // aligned within-doc repeat, same construction on both engines) ----
    QueryDef("q_line_dedup",
      Some("""WITH t0 AS (SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS tk
                FROM documents),
              t AS (SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0 AND len(tk) >= 5
                    THEN list_concat(tk[1:5], tk) ELSE tk END AS toks
                FROM t0),
              b AS (SELECT doc_id,
                  list_transform(range(0,
                      CAST(ceil(len(toks) / 5.0) AS BIGINT)), i ->
                    array_to_string(
                      toks[CAST(i*5+1 AS INT):CAST(i*5+5 AS INT)], ' '))
                    AS paras
                FROM t),
              kx AS (SELECT doc_id, paras,
                  list_filter(paras, (x, i) ->
                    list_position(paras, x) = i) AS kept
                FROM b)
              SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras,
                CAST(len(kept) AS BIGINT) AS n_kept,
                md5(array_to_string(kept, ' ')) AS kept_md5
              FROM kx ORDER BY doc_id"""),
      (s, d) => {
        // [ \t\n\r\f]+ not \s+: Java \s includes VT where RE2's (the
        // oracle's) does not — the r9 adversarial-gate lesson
        val tk = split(trim(col("text")), "[ \\t\\n\\r\\f]+")
        // sort-first (r16, guide §1.2; see q_mask_tokens): the
        // within-doc op is documented map-side-only (zero exchanges),
        // so sorting the raw (doc_id, text) rows first preserves the
        // total order through it and the O(blocks²) keep-first HOF
        // runs once instead of re-executing in the sort's sampling job
        val withRep = documents(s, d)
          .select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .withColumn("text",
            when(col("doc_id") % 4 === 0 && size(tk) >= 5,
              concat_ws(" ", concat_ws(" ", slice(tk, 1, 5)), col("text")))
              .otherwise(col("text")))
        Dedup.paragraphDedupWithinDoc(withRep, "doc_id", "text", k = 5)
      }),

    // ---- dedup: embedding-cosine near-dup within label block ----
    QueryDef("q_embed_dupes",
      Some(s"""WITH e AS (SELECT label AS blk, vec_id AS id, embedding AS v
                FROM embeddings)
              SELECT a.id AS id_a, b.id AS id_b,
                ${cosSql("a.v", "b.v")} AS sim
              FROM e a JOIN e b ON a.blk = b.blk AND a.id < b.id
              WHERE ${cosSql("a.v", "b.v")} >= 0.3
              ORDER BY id_a, id_b"""),
      (s, d) => Ann.cosinePairs(embeddings(s, d), "label", 0.3)
        .orderBy("id_a", "id_b")),

    // ---- dedup: SemDeDup — IVF-cell coarse clustering, then drop
    // every vector with a lower-id cosine neighbor >= 0.3 in its cell;
    // the keep/drop DECISION layered on the q_embed_dupes primitive ----
    QueryDef("q_semantic_dedup",
      Some(s"""WITH piv AS (
                SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                ORDER BY vec_id LIMIT 10),
              cells AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM embeddings e, piv p)
                WHERE rn = 1),
              dropped AS (
                SELECT DISTINCT b.vec_id
                FROM cells a JOIN cells b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3)
              SELECT vec_id, cell FROM cells
              WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
              ORDER BY vec_id"""),
      (s, d) => Ann.semanticDedup(embeddings(s, d), nPivots = 10,
        threshold = 0.3)
        .orderBy("vec_id")),

    // ---- vector aggregation: element-wise label centroids ----
    // posexplode -> groupBy (label, dim) -> avg -> reassemble; rounded
    // to 6 dp on both engines (group-sum order of doubles is not
    // bit-stable; 1e-13 accumulation error vs 1e-6 rounding grain)
    QueryDef("q_embed_centroid",
      Some("""WITH flat AS (
                SELECT label, CAST(r.range AS INT) AS dim,
                       CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS v
                FROM embeddings, range(1, 65) AS r)
              SELECT label, dim, round(avg(v), 6) AS centroid_v
              FROM flat GROUP BY 1, 2 ORDER BY label, dim"""),
      (s, d) => embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("p", "v")))
        .select(col("label"), (col("p") + 1).as("dim"), col("v").cast("double").as("v"))
        .groupBy("label", "dim")
        .agg(round(avg("v"), 6).as("centroid_v"))
        .orderBy("label", "dim")),

    // ---- similarity search: brute-force cosine top-k ----
    QueryDef("q_ann_brute",
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id % 50 = 0),
              c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
              scored AS (
                SELECT qid, nid, ${cosSql("qv", "nv")} AS sim
                FROM q, c WHERE qid <> nid)
              SELECT qid, nid, rank, sim FROM (
                SELECT qid, nid, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.bruteForceTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5)
        .orderBy("qid", "rank")),

    // ---- hard-negative mining: top-k nearest with a DIFFERENT label ----
    // the contrastive-training composition of the brute path: the label
    // inequality is a pair predicate riding the same broadcast join
    QueryDef("q_hard_negatives",
      Some(s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                  embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
              c AS (SELECT vec_id AS nid, label AS nlabel,
                  embedding AS nv FROM embeddings),
              scored AS (
                SELECT qid, qlabel, nid, nlabel,
                       ${cosSql("qv", "nv")} AS sim
                FROM q, c WHERE qlabel <> nlabel)
              SELECT qid, qlabel, nid, nlabel, rank, sim FROM (
                SELECT qid, qlabel, nid, nlabel, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.hardNegatives(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5)
        .orderBy("qid", "rank")),

    // ---- hybrid retrieval: reciprocal-rank fusion of two rankers ----
    // cosine (directional) + raw dot (magnitude-weighted; the stand-in
    // for a second channel like BM25) fused by sum of 1/(60+rank) over
    // each channel's top-10 — rank-only arithmetic, so the fusion is
    // bit-exact across engines by construction
    QueryDef("q_rrf",
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id % 50 = 0),
              c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
              scored AS (
                SELECT qid, nid, ${dotSql("qv", "nv")} AS dp,
                       ${cosSql("qv", "nv")} AS sim
                FROM q, c WHERE qid <> nid),
              ranked AS (
                SELECT qid, nid,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank_cos,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dp DESC, nid) AS INT) AS rank_dot
                FROM scored),
              fused AS (
                SELECT qid, nid,
                  (CASE WHEN rank_cos <= 10
                        THEN CAST(1 AS DOUBLE) / (60 + rank_cos)
                        ELSE CAST(0 AS DOUBLE) END) +
                  (CASE WHEN rank_dot <= 10
                        THEN CAST(1 AS DOUBLE) / (60 + rank_dot)
                        ELSE CAST(0 AS DOUBLE) END) AS rrf
                FROM ranked WHERE rank_cos <= 10 OR rank_dot <= 10)
              SELECT qid, nid, rank, rrf FROM (
                SELECT qid, nid, rrf,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY rrf DESC, nid) AS INT) AS rank
                FROM fused)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.rrfTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), n = 10, k = 5)
        .orderBy("qid", "rank")),

    // ---- similarity search: LSH (8 hyperplane sign bits, own bucket) ----
    QueryDef("q_ann_lsh",
      Some(s"""WITH piv AS (
                SELECT vec_id AS pid, embedding AS pv FROM embeddings
                ORDER BY vec_id LIMIT 8),
              sigs AS (
                SELECT e.vec_id,
                  string_agg(CASE WHEN ${dotSql("e.embedding", "p.pv")} >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
                FROM embeddings e, piv p GROUP BY e.vec_id),
              v AS (SELECT s.vec_id, s.bucket, e.embedding
                    FROM sigs s JOIN embeddings e ON s.vec_id = e.vec_id),
              q AS (SELECT vec_id AS qid, embedding AS qv, bucket
                    FROM v WHERE vec_id % 50 = 0),
              scored AS (
                SELECT q.qid, c.vec_id AS nid, ${cosSql("q.qv", "c.embedding")} AS sim
                FROM q JOIN v c ON q.bucket = c.bucket AND q.qid <> c.vec_id)
              SELECT qid, nid, rank, sim FROM (
                SELECT qid, nid, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.lshTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5, 8)
        .orderBy("qid", "rank")),

    // ---- similarity search: IVF (nprobe=1, 10 pivots) ----
    QueryDef("q_ann_ivf",
      Some(s"""WITH piv AS (
                SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                ORDER BY vec_id LIMIT 10),
              cells AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM embeddings e, piv p)
                WHERE rn = 1),
              q AS (SELECT vec_id AS qid, embedding AS qv, cell
                    FROM cells WHERE vec_id % 50 = 0),
              scored AS (
                SELECT q.qid, c.vec_id AS nid, ${cosSql("q.qv", "c.embedding")} AS sim
                FROM q JOIN cells c ON q.cell = c.cell AND q.qid <> c.vec_id)
              SELECT qid, nid, rank, sim FROM (
                SELECT qid, nid, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.ivfTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5, 10)
        .orderBy("qid", "rank")),

    // ---- similarity search: IVF multi-probe (nprobe=2) — better
    // recall for queries near a cell boundary, same map-side cell
    // arithmetic (the query explodes to its 2 nearest cells) ----
    QueryDef("q_ann_ivf2",
      Some(s"""WITH piv AS (
                SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                ORDER BY vec_id LIMIT 10),
              cells AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM embeddings e, piv p)
                WHERE rn = 1),
              qprobe AS (
                SELECT vec_id AS qid, embedding AS qv, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM embeddings e, piv p WHERE e.vec_id % 50 = 0)
                WHERE rn <= 2),
              scored AS (
                SELECT q.qid, c.vec_id AS nid, ${cosSql("q.qv", "c.embedding")} AS sim
                FROM qprobe q JOIN cells c ON q.cell = c.cell AND q.qid <> c.vec_id)
              SELECT qid, nid, rank, sim FROM (
                SELECT qid, nid, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.ivfTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5, 10, nprobe = 2)
        .orderBy("qid", "rank")),

    // ---- incremental IVF maintenance: the existing corpus (even ids)
    // owns the pivots and the persisted cell index; the day-2 delta
    // (odd ids) is assigned map-side with the same inlined pivots and
    // unioned in — no corpus re-scan per ingest. Search over the
    // merged index must equal re-indexing everything with the
    // corpus's pivots, which is what the oracle replays ----
    QueryDef("q_incremental_ivf",
      Some(s"""WITH piv AS (
                SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 10),
              cells AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM embeddings e, piv p)
                WHERE rn = 1),
              q AS (SELECT vec_id AS qid, embedding AS qv, cell
                    FROM cells WHERE vec_id % 50 = 0),
              scored AS (
                SELECT q.qid, c.vec_id AS nid, ${cosSql("q.qv", "c.embedding")} AS sim
                FROM q JOIN cells c ON q.cell = c.cell AND q.qid <> c.vec_id)
              SELECT qid, nid, rank, sim FROM (
                SELECT qid, nid, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.ivfTopKIncremental(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d).filter(col("vec_id") % 2 === 0),
        embeddings(s, d).filter(col("vec_id") % 2 === 1),
        5, 10)
        .orderBy("qid", "rank")),

    // ---- similarity search: LSH multi-probe (nprobe=2) — the query
    // also probes the bucket with its lowest-|margin| sign bit flipped
    // (the bit most likely to have landed on the wrong side of the
    // hyperplane), curing the single-bucket recall cliff; corpus-side
    // indexing is unchanged, the query side just emits 2 keys ----
    QueryDef("q_ann_lsh2",
      Some(s"""WITH piv AS (
                SELECT vec_id AS pid, embedding AS pv,
                       row_number() OVER (ORDER BY vec_id) AS bitpos
                FROM embeddings ORDER BY vec_id LIMIT 8),
              dots AS (
                SELECT e.vec_id, p.bitpos, ${dotSql("e.embedding", "p.pv")} AS d
                FROM embeddings e, piv p),
              sigs AS (
                SELECT vec_id, string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END,
                  '' ORDER BY bitpos) AS bucket
                FROM dots GROUP BY vec_id),
              v AS (SELECT s.vec_id AS nid, s.bucket, e.embedding AS nv
                    FROM sigs s JOIN embeddings e ON s.vec_id = e.vec_id),
              flip AS (
                SELECT vec_id, bitpos AS fpos FROM (
                  SELECT vec_id, bitpos,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY abs(d), bitpos) AS rn
                  FROM dots WHERE vec_id % 50 = 0) WHERE rn = 1),
              sigs2 AS (
                SELECT d.vec_id, string_agg(
                  CASE WHEN (d.d >= 0) <> (d.bitpos = f.fpos)
                    THEN '1' ELSE '0' END, '' ORDER BY d.bitpos) AS bucket
                FROM dots d JOIN flip f ON d.vec_id = f.vec_id
                GROUP BY d.vec_id),
              q AS (
                SELECT s.vec_id AS qid, e.embedding AS qv, s.bucket
                FROM sigs s JOIN embeddings e ON s.vec_id = e.vec_id
                WHERE s.vec_id % 50 = 0
                UNION ALL
                SELECT s2.vec_id AS qid, e.embedding AS qv, s2.bucket
                FROM sigs2 s2 JOIN embeddings e ON s2.vec_id = e.vec_id),
              scored AS (
                SELECT q.qid, c.nid, ${cosSql("q.qv", "c.nv")} AS sim
                FROM q JOIN v c ON q.bucket = c.bucket AND q.qid <> c.nid)
              SELECT qid, nid, rank, sim FROM (
                SELECT qid, nid, sim,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS INT) AS rank
                FROM scored)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.lshTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5, 8, nprobe = 2)
        .orderBy("qid", "rank")),

    // ---- similarity search: two-stage QUANTIZED top-k — coarse pass
    // over int8-dequantized vectors keeps rerank=10 candidates, fine
    // pass re-ranks exactly on the float vectors. The whole
    // quantize→dequantize→rank chain is fixed-order double arithmetic
    // (floor-of-half-up codes, affine reconstruction), so the oracle
    // replays it bit-exactly — converting the one spec-only ANN path
    // into an oracle-checked one ----
    QueryDef("q_quantized_topk",
      Some(s"""WITH rng AS (
                SELECT vec_id, CAST(list_min(embedding) AS DOUBLE) AS mn,
                       CAST(list_max(embedding) AS DOUBLE) AS mx
                FROM embeddings),
              dv AS (
                SELECT e.vec_id, list_transform(range(1, 65), i ->
                  CASE WHEN r.mx > r.mn THEN
                    (CAST(CAST(floor(
                      (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - r.mn)
                        * (254.0 / (r.mx - r.mn)) + 0.5) AS BIGINT) - 127
                      AS DOUBLE) + 127.0) * ((r.mx - r.mn) / 254.0) + r.mn
                  ELSE r.mn END) AS v
                FROM embeddings e JOIN rng r ON e.vec_id = r.vec_id),
              coarse AS (
                SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id) AS crank
                  FROM dv q JOIN dv c
                    ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
                WHERE crank <= 10)
              SELECT qid, nid, rank, sim FROM (
                SELECT co.qid, co.nid,
                  ${cosSql("qe.embedding", "ne.embedding")} AS sim,
                  CAST(row_number() OVER (PARTITION BY co.qid
                    ORDER BY ${cosSql("qe.embedding", "ne.embedding")} DESC,
                      co.nid) AS INT) AS rank
                FROM coarse co
                JOIN embeddings qe ON co.qid = qe.vec_id
                JOIN embeddings ne ON co.nid = ne.vec_id)
              WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => Ann.quantizedTopK(
        embeddings(s, d).filter(col("vec_id") % 50 === 0),
        embeddings(s, d), 5, rerank = 10)
        .orderBy("qid", "rank")),

    // ---- ANN recall evaluation: recall@5 of every approximate path
    // (IVF nprobe 1/2, LSH nprobe 1/2) against the exact brute-force
    // top-k, in integer basis points — the tuning report a similarity
    // deployment ships with before trading recall for candidate count.
    // Float-proof: only pair-set intersections are counted; no score
    // crosses the engine boundary ----
    QueryDef("q_ann_recall",
      Some(s"""WITH bq AS (
                SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id % 50 = 0),
              brute AS (
                SELECT qid, nid FROM (
                  SELECT bq.qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY bq.qid
                      ORDER BY ${cosSql("bq.qv", "c.embedding")} DESC, c.vec_id) AS rank
                  FROM bq, embeddings c WHERE bq.qid <> c.vec_id)
                WHERE rank <= 5),
              piv AS (
                SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                ORDER BY vec_id LIMIT 10),
              ranked AS (
                SELECT e.vec_id, e.embedding, p.pid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                FROM embeddings e, piv p),
              cells AS (
                SELECT vec_id, embedding, pid AS cell FROM ranked WHERE rn = 1),
              ivf1 AS (
                SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
                  FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
                  WHERE q.vec_id % 50 = 0)
                WHERE rank <= 5),
              ivf2 AS (
                SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
                  FROM ranked q JOIN cells c ON q.pid = c.cell AND q.vec_id <> c.vec_id
                  WHERE q.vec_id % 50 = 0 AND q.rn <= 2)
                WHERE rank <= 5),
              piv8 AS (
                SELECT vec_id AS pid, embedding AS pv,
                       row_number() OVER (ORDER BY vec_id) AS bitpos
                FROM embeddings ORDER BY vec_id LIMIT 8),
              dots AS (
                SELECT e.vec_id, p.bitpos, ${dotSql("e.embedding", "p.pv")} AS d
                FROM embeddings e, piv8 p),
              sigs AS (
                SELECT vec_id, string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END,
                  '' ORDER BY bitpos) AS bucket
                FROM dots GROUP BY vec_id),
              v AS (SELECT s.vec_id AS nid, s.bucket, e.embedding AS nv
                    FROM sigs s JOIN embeddings e ON s.vec_id = e.vec_id),
              flip AS (
                SELECT vec_id, bitpos AS fpos FROM (
                  SELECT vec_id, bitpos,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY abs(d), bitpos) AS rn
                  FROM dots WHERE vec_id % 50 = 0) WHERE rn = 1),
              sigs2 AS (
                SELECT d.vec_id, string_agg(
                  CASE WHEN (d.d >= 0) <> (d.bitpos = f.fpos)
                    THEN '1' ELSE '0' END, '' ORDER BY d.bitpos) AS bucket
                FROM dots d JOIN flip f ON d.vec_id = f.vec_id
                GROUP BY d.vec_id),
              q1 AS (
                SELECT s.vec_id AS qid, e.embedding AS qv, s.bucket
                FROM sigs s JOIN embeddings e ON s.vec_id = e.vec_id
                WHERE s.vec_id % 50 = 0),
              q2 AS (
                SELECT * FROM q1
                UNION ALL
                SELECT s2.vec_id AS qid, e.embedding AS qv, s2.bucket
                FROM sigs2 s2 JOIN embeddings e ON s2.vec_id = e.vec_id),
              lsh1 AS (
                SELECT qid, nid FROM (
                  SELECT q.qid, c.nid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY ${cosSql("q.qv", "c.nv")} DESC, c.nid) AS rank
                  FROM q1 q JOIN v c ON q.bucket = c.bucket AND q.qid <> c.nid)
                WHERE rank <= 5),
              lsh2 AS (
                SELECT qid, nid FROM (
                  SELECT q.qid, c.nid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY ${cosSql("q.qv", "c.nv")} DESC, c.nid) AS rank
                  FROM q2 q JOIN v c ON q.bucket = c.bucket AND q.qid <> c.nid)
                WHERE rank <= 5),
              rng AS (
                SELECT vec_id, CAST(list_min(embedding) AS DOUBLE) AS mn,
                       CAST(list_max(embedding) AS DOUBLE) AS mx
                FROM embeddings),
              dvq AS (
                SELECT e.vec_id, list_transform(range(1, 65), i ->
                  CASE WHEN r.mx > r.mn THEN
                    (CAST(CAST(floor(
                      (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - r.mn)
                        * (254.0 / (r.mx - r.mn)) + 0.5) AS BIGINT) - 127
                      AS DOUBLE) + 127.0) * ((r.mx - r.mn) / 254.0) + r.mn
                  ELSE r.mn END) AS v
                FROM embeddings e JOIN rng r ON e.vec_id = r.vec_id),
              qcoarse AS (
                SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id) AS crank
                  FROM dvq q JOIN dvq c
                    ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
                WHERE crank <= 10),
              quant AS (
                SELECT qid, nid FROM (
                  SELECT co.qid, co.nid,
                    row_number() OVER (PARTITION BY co.qid
                      ORDER BY ${cosSql("qe.embedding", "ne.embedding")} DESC,
                        co.nid) AS rank
                  FROM qcoarse co
                  JOIN embeddings qe ON co.qid = qe.vec_id
                  JOIN embeddings ne ON co.nid = ne.vec_id)
                WHERE rank <= 5),
              counted AS (
                SELECT 'ivf' AS method,
                  (SELECT count(*) FROM brute) AS n_brute,
                  (SELECT count(*) FROM ivf1 i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid) AS n_hit
                UNION ALL
                SELECT 'ivf2',
                  (SELECT count(*) FROM brute),
                  (SELECT count(*) FROM ivf2 i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid)
                UNION ALL
                SELECT 'lsh',
                  (SELECT count(*) FROM brute),
                  (SELECT count(*) FROM lsh1 i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid)
                UNION ALL
                SELECT 'lsh2',
                  (SELECT count(*) FROM brute),
                  (SELECT count(*) FROM lsh2 i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid)
                UNION ALL
                SELECT 'quant',
                  (SELECT count(*) FROM brute),
                  (SELECT count(*) FROM quant i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid))
              SELECT method, n_brute, n_hit,
                CAST(floor(n_hit * 10000.0 / n_brute + 0.5) AS BIGINT) AS recall_bp
              FROM counted ORDER BY method"""),
      (s, d) => {
        val qs = embeddings(s, d).filter(col("vec_id") % 50 === 0)
        val corpus = embeddings(s, d)
        val brute = graft.ops.StageCache.persisted(
          Ann.bruteForceTopK(qs, corpus, 5).select("qid", "nid"))
        def hitsOf(m: String, approx: org.apache.spark.sql.DataFrame) =
          brute.join(approx.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
            .agg(count(lit(1)).cast("long").as("n_hit"))
            .select(lit(m).as("method"), col("n_hit"))
        val nb = brute.agg(count(lit(1)).cast("long").as("n_brute"))
        // one model + one assigned/bucketed corpus per index FAMILY,
        // shared by both nprobe settings (r16, guide §1.2/§2.4): the
        // train-inside entry points re-collected the pivots/normals
        // (a corpus-wide TakeOrdered + driver job each) and re-ran the
        // corpus assignment scan once PER PROBE SETTING — ivf/ivf2 and
        // lsh/lsh2 pairs now share one collect and one persisted
        // assignment scan each (2 fewer driver jobs, 2 fewer corpus
        // scans, and the inlined model literals appear once per family
        // in the plan instead of twice)
        val im = Ann.ivfModel(corpus, 10)
        val cells = graft.ops.StageCache.persisted(
          Ann.assignedCells(corpus, im))
        val lm = Ann.lshModel(corpus, 8)
        val lc = graft.ops.StageCache.persisted(
          Ann.lshCorpusBuckets(lm, corpus))
        hitsOf("ivf", Ann.ivfTopKCells(im, qs, cells, 5))
          .unionByName(hitsOf("ivf2", Ann.ivfTopKCells(im, qs, cells, 5, nprobe = 2)))
          .unionByName(hitsOf("lsh", Ann.lshTopKPrepared(lm, lc, qs, 5)))
          .unionByName(hitsOf("lsh2", Ann.lshTopKPrepared(lm, lc, qs, 5, nprobe = 2)))
          .unionByName(hitsOf("quant", Ann.quantizedTopK(qs, corpus, 5, rerank = 10)))
          .crossJoin(broadcast(nb))
          .select(col("method"), col("n_brute"), col("n_hit"),
            floor(col("n_hit") * 10000.0 / col("n_brute") + 0.5)
              .cast("long").as("recall_bp"))
          .orderBy("method")
      }),

    // ---- ANN recall: k-means-TRAINED IVF pivots vs the untrained
    // lowest-id seeds, same nprobe=1 — closing the recall gap the
    // q_ann_recall report exposes. The raw embeddings fixture is
    // ISOTROPIC noise (measured: intra-label mean cosine 0.0016 vs
    // 0.0003 inter; true top-5 share the query's label 8% ≈ chance),
    // where no partitioning beats chance and training can do nothing —
    // so the query derives a CLUSTERED corpus deterministically from
    // the fixture (blend each vector with 3× its label centroid,
    // 6-dp-rounded float arithmetic both engines replay bit-exactly)
    // and measures both paths there: untrained 19/50 vs trained 29/50
    // at sf0.01. The oracle replays the 2 Lloyd iterations in SQL with
    // the q_kmeans_step rounding recipe, so the trained centroids —
    // and therefore cells, candidates, and recall counts — are
    // bit-identical; only pair-set intersections cross the engine
    // boundary ----
    QueryDef("q_ann_recall_trained",
      Some(s"""WITH cent AS (
                SELECT label, list(v ORDER BY dim) AS cvec FROM (
                  SELECT label, CAST(r.range AS INT) AS dim,
                    CAST(round(avg(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)), 6)
                      AS FLOAT) AS v
                  FROM embeddings, range(1, 65) AS r GROUP BY label, dim)
                GROUP BY label),
              eb AS (
                SELECT e.vec_id, list_transform(range(1, 65),
                  i -> CAST(round(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                       + 3.0 * CAST(c.cvec[CAST(i AS INT)] AS DOUBLE), 6)
                       AS FLOAT)) AS embedding
                FROM embeddings e JOIN cent c ON e.label = c.label),
              brute AS (
                SELECT qid, nid FROM (
                  SELECT bq.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY bq.vec_id
                      ORDER BY ${cosSql("bq.embedding", "c.embedding")} DESC, c.vec_id) AS rank
                  FROM eb bq, eb c WHERE bq.vec_id % 50 = 0 AND bq.vec_id <> c.vec_id)
                WHERE rank <= 5),
              piv AS (
                SELECT vec_id AS pid, embedding AS pvec FROM eb
                ORDER BY vec_id LIMIT 10),
              cells AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM eb e, piv p)
                WHERE rn = 1),
              ivf1 AS (
                SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
                  FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
                  WHERE q.vec_id % 50 = 0)
                WHERE rank <= 5),
              m1 AS (
                SELECT cell, CAST(r.range AS INT) AS dim,
                  CAST(round(avg(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)), 6)
                    AS FLOAT) AS v
                FROM cells, range(1, 65) AS r GROUP BY cell, dim),
              cent1 AS (SELECT cell AS pid, list(v ORDER BY dim) AS pvec
                FROM m1 GROUP BY cell),
              asn1 AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM eb e, cent1 p)
                WHERE rn = 1),
              m2 AS (
                SELECT cell, CAST(r.range AS INT) AS dim,
                  CAST(round(avg(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)), 6)
                    AS FLOAT) AS v
                FROM asn1, range(1, 65) AS r GROUP BY cell, dim),
              cent2 AS (SELECT cell AS pid, list(v ORDER BY dim) AS pvec
                FROM m2 GROUP BY cell),
              cellst AS (
                SELECT vec_id, embedding, pid AS cell FROM (
                  SELECT e.vec_id, e.embedding, p.pid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosSql("e.embedding", "p.pvec")} DESC, p.pid) AS rn
                  FROM eb e, cent2 p)
                WHERE rn = 1),
              ivft AS (
                SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
                  FROM cellst q JOIN cellst c ON q.cell = c.cell AND q.vec_id <> c.vec_id
                  WHERE q.vec_id % 50 = 0)
                WHERE rank <= 5),
              counted AS (
                SELECT 'ivf' AS method,
                  (SELECT count(*) FROM brute) AS n_brute,
                  (SELECT count(*) FROM ivf1 i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid) AS n_hit,
                  (SELECT count(*) FROM cells q JOIN cells c
                    ON q.cell = c.cell AND q.vec_id <> c.vec_id
                    WHERE q.vec_id % 50 = 0) AS n_cand
                UNION ALL
                SELECT 'ivf_t',
                  (SELECT count(*) FROM brute),
                  (SELECT count(*) FROM ivft i JOIN brute b
                    ON i.qid = b.qid AND i.nid = b.nid),
                  (SELECT count(*) FROM cellst q JOIN cellst c
                    ON q.cell = c.cell AND q.vec_id <> c.vec_id
                    WHERE q.vec_id % 50 = 0))
              SELECT method, n_brute, n_hit,
                CAST(floor(n_hit * 10000.0 / n_brute + 0.5) AS BIGINT) AS recall_bp,
                CAST(n_cand AS BIGINT) AS n_cand
              FROM counted ORDER BY method"""),
      (s, d) => {
        val raw = embeddings(s, d)
        // label centroids via the q_embed_centroid recipe (6-dp round,
        // narrowed to float), reassembled into dim-ordered arrays
        val cent = raw
          .select(col("label"), posexplode(col("embedding")).as(Seq("p", "v")))
          .groupBy("label", "p")
          .agg(round(avg(col("v").cast("double")), 6).cast("float").as("m"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("p"), col("m")))).as("pm"))
          .select(col("label"),
            transform(col("pm"), s => s.getField("m")).as("cvec"))
        // clustered corpus: vector + 3× its label centroid, double
        // arithmetic rounded to 6 dp then narrowed — bit-identical to
        // the oracle's replay. Persisted: feeds brute, both IVF paths,
        // and the training scans.
        val corpus = graft.ops.StageCache.persisted(
          raw.join(broadcast(cent), Seq("label"))
            .select(col("vec_id"),
              zip_with(col("embedding"), col("cvec"),
                (x, c) => round(x.cast("double") + lit(3.0) * c.cast("double"), 6)
                  .cast("float")).as("embedding")))
        val qs = corpus.filter(col("vec_id") % 50 === 0)
        val brute = graft.ops.StageCache.persisted(
          Ann.bruteForceTopK(qs, corpus, 5).select("qid", "nid"))
        def hitsOf(m: String, approx: org.apache.spark.sql.DataFrame,
            cands: org.apache.spark.sql.DataFrame) =
          brute.join(approx.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
            .agg(count(lit(1)).cast("long").as("n_hit"))
            .crossJoin(cands.agg(count(lit(1)).cast("long").as("n_cand")))
            .select(lit(m).as("method"), col("n_hit"), col("n_cand"))
        val nb = brute.agg(count(lit(1)).cast("long").as("n_brute"))
        // one IvfModel per method, shared by the search and the
        // candidate count — the train-inside entry points would run
        // the 2-iteration Lloyd training (a corpus scan + driver
        // collect per iteration) once PER CONSUMER, doubling the
        // report's index-build cost for identical pivots
        val m0 = Ann.ivfModel(corpus, 10)
        val mt = Ann.ivfModelFrom(m0, corpus, trainIters = 2)
        // one PERSISTED cell assignment per model (r16, guide §1.2):
        // the corpus-taking entry points re-ran the nPivots-dot-products
        // assignment scan once per consumer (search + candidate count =
        // 2 scans per model) and inlined each model's pivot literals
        // twice into the plan; sharing the assigned frame halves both
        val cells0 = graft.ops.StageCache.persisted(
          Ann.assignedCells(corpus, m0))
        val cellsT = graft.ops.StageCache.persisted(
          Ann.assignedCells(corpus, mt))
        hitsOf("ivf", Ann.ivfTopKCells(m0, qs, cells0, 5),
            Ann.ivfCandidatesCells(m0, qs, cells0))
          .unionByName(hitsOf("ivf_t",
            Ann.ivfTopKCells(mt, qs, cellsT, 5),
            Ann.ivfCandidatesCells(mt, qs, cellsT)))
          .crossJoin(broadcast(nb))
          .select(col("method"), col("n_brute"), col("n_hit"),
            floor(col("n_hit") * 10000.0 / col("n_brute") + 0.5)
              .cast("long").as("recall_bp"),
            col("n_cand"))
          .orderBy("method")
      }),

    // ---- Matryoshka truncation recall: recall@5 of brute-force search
    // over the first 8/16/32 embedding components vs the full-width
    // answer — the eval a deployment runs before shipping truncated
    // (MRL-style) embeddings to cut index size 2-8×. Truncated search
    // reuses the SAME brute operator on sliced arrays, so the oracle is
    // the same fold over range(1, d+1); only pair-set intersections
    // cross the engine boundary (float-proof like q_ann_recall) ----
    QueryDef("q_mrl_recall",
      Some {
        def tcte(d: Int) =
          s"""t$d AS (
                SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY ${cosSqlN("qv", "nv", d)} DESC, nid) AS rank
                  FROM q, c WHERE qid <> nid)
                WHERE rank <= 5)"""
        def counted(d: Int) =
          s"""SELECT $d AS dim, (SELECT count(*) FROM brute) AS n_brute,
                (SELECT count(*) FROM t$d i JOIN brute b
                  ON i.qid = b.qid AND i.nid = b.nid) AS n_hit"""
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id % 50 = 0),
              c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
              brute AS (
                SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY ${cosSql("qv", "nv")} DESC, nid) AS rank
                  FROM q, c WHERE qid <> nid)
                WHERE rank <= 5),
              ${tcte(8)}, ${tcte(16)}, ${tcte(32)},
              counted AS (${counted(8)} UNION ALL ${counted(16)}
                UNION ALL ${counted(32)})
              SELECT CAST(dim AS INT) AS dim, n_brute, n_hit,
                CAST(floor(n_hit * 10000.0 / n_brute + 0.5) AS BIGINT)
                  AS recall_bp
              FROM counted ORDER BY dim"""
      },
      (s, d) => {
        // FUSED multi-width sweep (r16, guide §1.2/§2.4): previously
        // FOUR independent brute-force sweeps (full + 3 truncations),
        // each its own corpus scan, query broadcast, pair cross-join
        // and per-qid window exchange, then 3 semi-joins against the
        // persisted full-width answer. All four rankings read the SAME
        // pair table, so ONE cross-join now computes the 4 guarded
        // cosines per pair (bit-identical expressions: slice + the
        // same VecDot fold and zero-norm guard), explodes to (dim,
        // sim) rows, and ONE WindowGroupLimit-pruned window ranks
        // every width; hits reduce to a top5⋈top5 self semi-join over
        // |q|·20 rows. 4 corpus scans -> 1, 4 pair exchanges -> 1,
        // 3 corpus-side SMJs -> 1 tiny join.
        val full = embeddings(s, d)
        val widths = Seq(8, 16, 32)
        val dims = 64 +: widths
        // per-ROW norms and sliced arrays (the bruteForceTopK
        // convention: norms per row, never per pair; slices
        // materialize once per row so the pair loop only runs dots)
        def side(pre: String, idAs: String) =
          Seq(col("vec_id").as(idAs), col("embedding").as(s"${pre}v64"),
            Ann.norm(col("embedding")).as(s"${pre}n64")) ++
            widths.flatMap { w =>
              val sl = slice(col("embedding"), 1, w)
              Seq(sl.as(s"${pre}v$w"), Ann.norm(sl).as(s"${pre}n$w"))
            }
        val q = broadcast(full.filter(col("vec_id") % 50 === 0)
          .select(side("q", "qid"): _*))
        val c = full.select(side("n", "nid"): _*)
        val quad = q.crossJoin(c).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"), explode(array(dims.map { w =>
            struct(lit(w).as("dim"),
              Ann.cosineGuarded(Ann.dot(col(s"qv$w"), col(s"nv$w")),
                col(s"qn$w"), col(s"nn$w")).as("sim"))
          }: _*)).as("ds"))
          .select(col("qid"), col("nid"),
            col("ds.dim").as("dim"), col("ds.sim").as("sim"))
        val w5 = Window.partitionBy("qid", "dim")
          .orderBy(col("sim").desc, col("nid").asc)
        val top = quad.withColumn("rk", row_number().over(w5))
          .filter(col("rk") <= 5).select("qid", "nid", "dim")
        // membership flags per candidate pair, then ONE global
        // conditional aggregate — no persist, no self-join: every
        // intersection count (pair in full-width top5 AND in width-d
        // top5) reads off the per-pair flags, and the 3 report rows
        // unfold from the single counts row
        val flags = top.groupBy("qid", "nid").agg(
          max(col("dim") === 64).as("has64"),
          max(col("dim") === 8).as("has8"),
          max(col("dim") === 16).as("has16"),
          max(col("dim") === 32).as("has32"))
        val counts = flags.agg(
          coalesce(sum(when(col("has64"), 1L).otherwise(0L)), lit(0L))
            .as("n_brute"),
          coalesce(sum(when(col("has64") && col("has8"), 1L).otherwise(0L)),
            lit(0L)).as("h8"),
          coalesce(sum(when(col("has64") && col("has16"), 1L).otherwise(0L)),
            lit(0L)).as("h16"),
          coalesce(sum(when(col("has64") && col("has32"), 1L).otherwise(0L)),
            lit(0L)).as("h32"))
        counts.select(explode(array(
            struct(lit(8).as("dim"), col("h8").as("n_hit")),
            struct(lit(16).as("dim"), col("h16").as("n_hit")),
            struct(lit(32).as("dim"), col("h32").as("n_hit")))).as("x"),
            col("n_brute"))
          .select(col("x.dim").cast("int").as("dim"), col("n_brute"),
            col("x.n_hit").as("n_hit"),
            floor(col("x.n_hit") * 10000.0 / col("n_brute") + 0.5)
              .cast("long").as("recall_bp"))
          .orderBy("dim")
      })
  )
}
