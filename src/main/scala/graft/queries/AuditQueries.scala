package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Checks, Frames, Relational}

/** Audit / data-quality pipeline queries (reference check_masked.py +
  * the unreg_presc fail-fast gate). q_masked_diff is the
  * month-over-month masked-extract audit composed from Frames.dfCompare
  * (column gate) + Frames.maskedDiff (drift report): two scalar
  * aggregates cross-joined into one report row.
  */
object AuditQueries {
  import Tables._

  val defs: Seq[QueryDef] = Seq(

    // check_masked.py:48-72: column-set gate, row-count % change,
    // min/max fill-date range of the current extract. "Months" stand
    // in as order-years of the fixture (the reference compares the
    // current masked extract against the one from a month before).
    QueryDef("q_masked_diff",
      Some("""WITH cur AS (SELECT * FROM orders WHERE year(o_orderdate) = 1997),
                   prev AS (SELECT * FROM orders WHERE year(o_orderdate) = 1996),
                   c AS (SELECT count(*) AS n_cur,
                                CAST(min(o_orderdate) AS VARCHAR) AS min_date,
                                CAST(max(o_orderdate) AS VARCHAR) AS max_date
                         FROM cur),
                   p AS (SELECT count(*) AS n_prev FROM prev)
              SELECT n_cur, n_prev,
                     round(((CAST(n_cur AS DOUBLE) - n_prev) / n_prev) * 100, 2)
                       AS pct_change,
                     min_date, max_date
              FROM c, p"""),
      (s, d) => {
        val o = orders(s, d)
        val cur = o.filter(year(col("o_orderdate")) === 1997)
        val prev = o.filter(year(col("o_orderdate")) === 1996)
        // the column gate of the audit: both extracts must agree
        // structurally before the drift numbers mean anything
        val diff = Frames.dfCompare(cur, prev, colOnly = true)
        require(diff.schemaEqual, diff.report)
        Frames.maskedDiff(cur, prev, "o_orderdate")
      }),

    // unreg_presc.py:163-170 fail-fast shape, exercised on a condition
    // that HOLDS in the fixture (all lineitem quantities positive):
    // the gate passes silently and the frame flows on. The
    // gate-trips path is spec-tested (RelationalSpec).
    QueryDef("q_quality_gate",
      Some("""SELECT l_linestatus, count(*) AS n
              FROM lineitem GROUP BY 1 ORDER BY l_linestatus"""),
      (s, d) => {
        val li = lineitem(s, d)
        Relational.requireEmpty(
          li.filter(col("l_quantity") <= 0),
          "lineitem rows with non-positive quantity")
        li.groupBy("l_linestatus").agg(count(lit(1)).as("n"))
          .orderBy("l_linestatus")
      }),

    // one-pass constraint suite (graft.ops.Checks): N ingest-gate
    // constraints — row predicates + a primary-key check — evaluated
    // in ONE fused aggregate scan of the table, not N jobs. The
    // fixture mixes passing checks with deliberately tight thresholds
    // (allowed-language subset, max-length cap) so the report carries
    // both zero and non-zero violation rows. Row predicates treat
    // NULL as a violation explicitly (coalesce(pred, TRUE)) with the
    // same expression text on both engines.
    QueryDef("q_check_suite",
      Some("""WITH agg AS (SELECT
                sum(CASE WHEN coalesce(lang NOT IN ('en', 'de', 'fr'), TRUE)
                    THEN 1 ELSE 0 END) AS lang_allowed,
                sum(CASE WHEN coalesce(length(trim(text)) = 0, TRUE)
                    THEN 1 ELSE 0 END) AS text_nonempty,
                sum(CASE WHEN coalesce(n_chars <> length(text), TRUE)
                    THEN 1 ELSE 0 END) AS n_chars_consistent,
                sum(CASE WHEN coalesce(n_chars > 300, TRUE)
                    THEN 1 ELSE 0 END) AS n_chars_le_300,
                sum(CASE WHEN coalesce(NOT regexp_matches(source, '^src[0-9]+$'), TRUE)
                    THEN 1 ELSE 0 END) AS source_format,
                count(*) - count(DISTINCT doc_id) AS doc_id_pk
              FROM documents)
              SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
                     n_violations = 0 AS pass
              FROM (
                SELECT 'doc_id_pk' AS check_name, doc_id_pk AS n_violations FROM agg
                UNION ALL SELECT 'lang_allowed', lang_allowed FROM agg
                UNION ALL SELECT 'n_chars_consistent', n_chars_consistent FROM agg
                UNION ALL SELECT 'n_chars_le_300', n_chars_le_300 FROM agg
                UNION ALL SELECT 'source_format', source_format FROM agg
                UNION ALL SELECT 'text_nonempty', text_nonempty FROM agg)
              ORDER BY check_name"""),
      (s, d) => Checks.report(documents(s, d), Seq(
          Checks.Check("lang_allowed",
            coalesce(!col("lang").isin("en", "de", "fr"), lit(true))),
          Checks.Check("text_nonempty",
            coalesce(length(trim(col("text"))) === 0, lit(true))),
          Checks.Check("n_chars_consistent",
            coalesce(col("n_chars") =!= length(col("text")), lit(true))),
          Checks.Check("n_chars_le_300",
            coalesce(col("n_chars") > 300, lit(true))),
          Checks.Check("source_format",
            coalesce(!col("source").rlike("^src[0-9]+$"), lit(true)))),
        primaryKey = Some(("doc_id_pk", Seq("doc_id"))))),

    // k-anonymity release screen (graft.ops.Privacy.report): how much
    // of the table sits in quasi-identifier groups smaller than k=5
    // (nation × market segment × account-balance bucket). Rate in
    // basis points — integer-only, engine-portable.
    QueryDef("q_k_anon",
      Some("""WITH g AS (
                SELECT c_nationkey, c_mktsegment,
                       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
                       count(*) AS n
                FROM customer GROUP BY 1, 2, 3)
              SELECT CAST(count(*) AS BIGINT) AS n_groups,
                     CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_unsafe_groups,
                     CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                       AS n_suppressed_rows,
                     CAST(floor(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                         * 10000.0 / sum(n) + 0.5) AS BIGINT) AS suppressed_bp
              FROM g"""),
      (s, d) => graft.ops.Privacy.report(
        customer(s, d).withColumn("bal_bucket",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment", "bal_bucket"), 5)),

    // Benford leading-digit audit over order totals (as integer cents
    // — a double's string form is not engine-portable). Observed vs
    // expected first-digit ppm, all-integer DIV arithmetic; the
    // fabricated-data / corrupted-feed screen. Map-side digit, ≤9-row
    // agg, window over 9 rows
    QueryDef("q_benford",
      Some("""WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100
                           + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
                         FROM orders),
              g0 AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
                    FROM c WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
              g AS (SELECT CAST(r.range AS INT) AS digit,
                           coalesce(g0.n, 0) AS n
                    FROM range(1, 10) r LEFT JOIN g0
                      ON CAST(r.range AS INT) = g0.digit),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
              SELECT digit, n,
                CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
                CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                  WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
                  WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
                  ELSE 45757 END AS BIGINT) AS exp_ppm,
                CAST(n * 1000000 // total
                  - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                      WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
                      WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
                      ELSE 45757 END AS BIGINT) AS dev_ppm
              FROM g, t ORDER BY digit"""),
      (s, d) => graft.ops.Profiler.benford(orders(s, d),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .withColumn("exp_ppm", col("exp_ppm").cast("long"))
        .withColumn("dev_ppm", col("dev_ppm").cast("long"))),

    // order-independent table fingerprint (anti-entropy): xor + modular
    // sum of per-row poly_hash(md5(row)) — compare a table across
    // clusters/reruns by shipping three BIGINTs instead of the data.
    // String/integer columns only (doubles have no engine-stable
    // string form). Map-side hash, one 3-value partial agg
    QueryDef("q_table_checksum",
      Some("""WITH r AS (SELECT md5(concat_ws('|',
                  CAST(c_custkey AS VARCHAR), c_name,
                  CAST(c_nationkey AS VARCHAR), c_mktsegment,
                  CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                    AS VARCHAR))) AS h
                FROM customer),
              f AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, 33),
                        i -> CAST(ascii(substr(h, CAST(i AS INT), 1)) AS BIGINT))),
                      (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
                    FROM r)
              SELECT CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
                     CAST(sum(fp) % 1000000007 AS BIGINT) AS sum_fp
              FROM f"""),
      (s, d) => graft.ops.Frames.tableChecksum(
        customer(s, d).withColumn("bal_cents",
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
          "bal_cents"))),

    // per-source corpus datacard: docs/tokens/chars, lower-median doc
    // length, language mix and exact-dup rate in integer ppm — the
    // release report. One persisted feature pass, two source-keyed aggs
    QueryDef("q_datacard",
      Some("""WITH b AS (SELECT source, lang, n_chars,
                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                    AS n_toks,
                  md5(text) AS digest
                FROM documents),
              a AS (SELECT source,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                  CAST((1000000 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))
                    // count(*) AS BIGINT) AS en_ppm,
                  CAST((1000000 * (count(*) - count(DISTINCT digest)))
                    // count(*) AS BIGINT) AS dup_ppm
                FROM b GROUP BY 1),
              med AS (SELECT source, n_chars AS p50_chars FROM (
                SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                  count(*) OVER (PARTITION BY source) AS n
                FROM b) WHERE rn = (n + 1) // 2)
              SELECT a.source, n_docs, n_tokens, sum_chars, p50_chars,
                     n_langs, en_ppm, dup_ppm
              FROM a JOIN med ON a.source = med.source
              ORDER BY a.source"""),
      (s, d) => graft.text.Datacard.report(documents(s, d))
        .orderBy("source")),

    // cross-source exact-dup matrix over a corpus with an injected
    // mirror (every 7th doc re-attributed): which source pairs share
    // how many distinct texts — decides dedup ORDER (mirror dedupes
    // against canonical) and flags licensing. Digests only cross the
    // shuffle; per-digest fanout is bounded by the source count
    QueryDef("q_dup_matrix",
      Some("""WITH corpus AS (
                SELECT source, text FROM documents
                UNION ALL
                SELECT 'mirror' AS source, text FROM documents
                WHERE doc_id % 7 = 0),
              dg AS (SELECT DISTINCT source, md5(text) AS digest FROM corpus)
              SELECT a.source AS src_a, b.source AS src_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM dg a JOIN dg b
                ON a.digest = b.digest AND a.source < b.source
              GROUP BY 1, 2 ORDER BY src_a, src_b"""),
      (s, d) => {
        val base = documents(s, d)
        val corpus = base.select("source", "text").unionByName(
          base.filter(col("doc_id") % 7 === 0)
            .select(lit("mirror").as("source"), col("text")))
        graft.dedup.Dedup.dupMatrix(corpus, "text", "source")
          .orderBy("src_a", "src_b")
      }),

    // near-dup overlap matrix BETWEEN sources: shingle-set Jaccard per
    // source pair — q_dup_matrix's fuzzy sibling. Each shingle's source
    // set bounds its pair fanout by the source count
    QueryDef("q_source_overlap",
      Some("""WITH b AS (SELECT source,
                  list_sort(list_distinct(CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(0, len(toks) - 1), i ->
                      array_to_string(toks[CAST(i+1 AS INT):CAST(i+2 AS INT)], ' '))
                    ELSE [] END)) AS sh
                FROM (SELECT source, string_split_regex(trim(text), '\s+')
                        AS toks FROM documents)),
              s AS (SELECT DISTINCT source, unnest(sh) AS tok FROM b),
              z AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
                FROM s GROUP BY 1),
              p AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(count(*) AS BIGINT) AS inter
                FROM s a JOIN s b ON a.tok = b.tok AND a.source < b.source
                GROUP BY 1, 2)
              SELECT src_a, src_b, inter,
                CAST((1000000 * inter) // (za.sz + zb.sz - inter) AS BIGINT)
                  AS jac_ppm
              FROM p JOIN z za ON p.src_a = za.source
                     JOIN z zb ON p.src_b = zb.source
              ORDER BY src_a, src_b"""),
      (s, d) => graft.dedup.Dedup.sourceOverlap(documents(s, d),
        "text", "source")
        .orderBy("src_a", "src_b")),

    // SCD2 history collapse over yearly customer-priority snapshots:
    // consecutive years with the same max priority fold into one
    // validity interval (gaps-and-islands). One window shuffle keyed
    // by customer; the aggregate reuses its partitioning
    QueryDef("q_scd2",
      Some("""WITH s AS (SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS ver,
                  max(o_orderpriority) AS prio
                FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
              c AS (SELECT o_custkey, ver, prio,
                  CASE WHEN lag(prio) OVER (PARTITION BY o_custkey ORDER BY ver)
                    IS DISTINCT FROM prio THEN 1 ELSE 0 END AS chg
                FROM s),
              r AS (SELECT o_custkey, ver, prio,
                  sum(chg) OVER (PARTITION BY o_custkey ORDER BY ver
                    ROWS UNBOUNDED PRECEDING) AS run
                FROM c),
              g AS (SELECT o_custkey, prio,
                  CAST(min(ver) AS INT) AS valid_from,
                  CAST(max(ver) AS INT) AS valid_to
                FROM r GROUP BY o_custkey, prio, run)
              SELECT o_custkey, prio, valid_from, valid_to,
                valid_to = max(valid_to) OVER (PARTITION BY o_custkey)
                  AS is_current
              FROM g ORDER BY o_custkey, valid_from"""),
      (s, d) => graft.ops.Frames.scd2(
        orders(s, d)
          .groupBy(col("o_custkey"),
            year(col("o_orderdate")).cast("int").as("ver"))
          .agg(max("o_orderpriority").as("prio")),
        Seq("o_custkey"), Seq("prio"), "ver")
        .orderBy("o_custkey", "valid_from")),

    // SCD2 version lookup: join each fact to the dimension VERSION
    // valid at its event time — the canonical versioned-dimension
    // pattern, composed from the SCD2 collapse above + the native
    // as-of operator (valid_from <= yr, latest wins). No range probe,
    // no between-join: one sorted merge per side. Fact side sampled
    // (1/97) so the report stays reviewable
    QueryDef("q_scd2_lookup",
      Some("""WITH s AS (SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS ver,
                  max(o_orderpriority) AS prio
                FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
              c AS (SELECT o_custkey, ver, prio,
                  CASE WHEN lag(prio) OVER (PARTITION BY o_custkey ORDER BY ver)
                    IS DISTINCT FROM prio THEN 1 ELSE 0 END AS chg
                FROM s),
              r AS (SELECT o_custkey, ver, prio,
                  sum(chg) OVER (PARTITION BY o_custkey ORDER BY ver
                    ROWS UNBOUNDED PRECEDING) AS run
                FROM c),
              g AS (SELECT o_custkey, prio,
                  CAST(min(ver) AS INT) AS valid_from
                FROM r GROUP BY o_custkey, prio, run),
              f AS (SELECT o_orderkey, o_custkey AS custkey,
                      CAST(year(o_orderdate) AS INT) AS yr
                    FROM orders WHERE o_orderkey % 97 = 0)
              SELECT f.o_orderkey, f.custkey, f.yr, g.prio,
                     CAST(g.valid_from AS INT) AS valid_from
              FROM f ASOF LEFT JOIN g
                ON f.custkey = g.o_custkey AND f.yr >= g.valid_from
              ORDER BY o_orderkey"""),
      (s, d) => {
        val dim = graft.ops.Frames.scd2(
          orders(s, d)
            .groupBy(col("o_custkey"),
              year(col("o_orderdate")).cast("int").as("ver"))
            .agg(max("o_orderpriority").as("prio")),
          Seq("o_custkey"), Seq("prio"), "ver")
          .select(col("o_custkey").as("custkey"), col("prio"),
            col("valid_from"))
        val facts = orders(s, d)
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .select(col("o_orderkey"), col("o_custkey").as("custkey"),
            year(col("o_orderdate")).cast("int").as("yr"))
        graft.ops.TemporalJoins.asofJoinNative(facts, dim, Seq("custkey"),
            "yr", "valid_from", Seq("prio", "valid_from"))
          .orderBy("o_orderkey")
      })
  ) ++ webDefs

  // ---- web-corpus hygiene: URL canonicalization + char-class screen
  // (lazy: `defs` above references it before this val would initialize
  // in declaration order — eager, it would still be null there)

  private lazy val webDefs: Seq[QueryDef] = Seq(

    // crawl-frontier dedup key: the same page arrives as http/https,
    // www/bare, trailing-slash, and tracking-param (utm_*/ref/fbclid)
    // variants; canonicalizing folds them BEFORE any content is fetched
    // or compared (key-normalization-before-join, as in the reference's
    // clean-key joins — delinquent_data_submitters.py:120-141 — applied
    // to URLs). The fixture builds 3 such variants per (source, page)
    // from doc_id arithmetic; the report counts raw spellings folded
    // into each canonical key. Map-side regex parse, one canonical-key
    // agg shuffle — at 100 TB the canonical key is ALSO the natural
    // partition key for the downstream fetch/dedup stages
    QueryDef("q_url_canon",
      Some("""WITH u AS (SELECT source,
                  CASE doc_id % 3
                    WHEN 0 THEN 'https://www.' || source || '.example.com/docs/'
                      || CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&id='
                      || CAST(doc_id % 50 % 7 AS VARCHAR) || '&utm_campaign=x'
                    WHEN 1 THEN 'http://' || source || '.example.com/docs/'
                      || CAST(doc_id % 50 AS VARCHAR) || '?id='
                      || CAST(doc_id % 50 % 7 AS VARCHAR)
                    ELSE 'https://' || source || '.example.com/docs/'
                      || CAST(doc_id % 50 AS VARCHAR) || '?id='
                      || CAST(doc_id % 50 % 7 AS VARCHAR) || '&fbclid=abc'
                  END AS url
                FROM documents),
              p AS (SELECT url,
                  regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
                  regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth,
                  regexp_extract(url, '\?([^#]*)', 1) AS qs
                FROM u),
              c AS (SELECT url,
                  regexp_extract(regexp_replace(host, '^www\.', ''),
                    '([^.]+\.[^.]+)$', 1) AS domain,
                  regexp_replace(host, '^www\.', '')
                    || regexp_replace(pth, '/+$', '')
                    || CASE WHEN qc = '' THEN '' ELSE '?' || qc END AS canonical
                FROM (SELECT url, host, pth,
                        array_to_string(list_filter(string_split(qs, '&'),
                          x -> NOT regexp_matches(x,
                            '^(utm_[a-z]+|ref|fbclid|gclid)=')), '&') AS qc
                      FROM p))
              SELECT canonical, domain,
                     CAST(count(*) AS BIGINT) AS n_urls,
                     CAST(count(DISTINCT url) AS BIGINT) AS n_raw
              FROM c GROUP BY 1, 2 ORDER BY canonical"""),
      (s, d) => {
        val page = (col("doc_id") % 50).cast("string")
        val idq = (col("doc_id") % 50 % 7).cast("string")
        val url = when(col("doc_id") % 3 === 0,
            concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
              page, lit("/?utm_source=feed&id="), idq, lit("&utm_campaign=x")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("http://"), col("source"), lit(".example.com/docs/"),
              page, lit("?id="), idq))
          .otherwise(
            concat(lit("https://"), col("source"), lit(".example.com/docs/"),
              page, lit("?id="), idq, lit("&fbclid=abc")))
        documents(s, d)
          .withColumn("url", url)
          .withColumn("u", graft.text.Urls.parse(col("url")))
          .groupBy(col("u.canonical").as("canonical"),
            col("u.domain").as("domain"))
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("url")).as("n_raw"))
          .orderBy("canonical")
      }),

    // char-class diversity screen: Simpson index (1 - Σp²) and top
    // class share over {lower, upper, digit, ws, other} — flags base64
    // blobs, separator walls, gibberish runs that token-level
    // qualityScore misses. Simpson, not Shannon: rational arithmetic
    // only, so the doubles are bit-identical across engines (ln differs
    // in the last ulp — same reason Scoring ships unlogged odds-idf).
    // Pure map-side regexp strip-lengths; no explode, no shuffle
    QueryDef("q_char_diversity",
      Some("""WITH m AS (SELECT doc_id,
                  CAST(len(text) AS DOUBLE) AS n,
                  CAST(len(text) - len(regexp_replace(text, '[a-z]', '', 'g'))
                    AS DOUBLE) AS lo,
                  CAST(len(text) - len(regexp_replace(text, '[A-Z]', '', 'g'))
                    AS DOUBLE) AS up,
                  CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                    AS DOUBLE) AS di,
                  CAST(len(text) - len(regexp_replace(text, '[ \t\n\r]', '', 'g'))
                    AS DOUBLE) AS ws
                FROM documents),
              s AS (SELECT doc_id, n, lo, up, di, ws,
                           n - lo - up - di - ws AS ot
                    FROM m),
              p AS (SELECT doc_id, n,
                  CASE WHEN n > 0 THEN lo / n ELSE 0.0 END AS p1,
                  CASE WHEN n > 0 THEN up / n ELSE 0.0 END AS p2,
                  CASE WHEN n > 0 THEN di / n ELSE 0.0 END AS p3,
                  CASE WHEN n > 0 THEN ws / n ELSE 0.0 END AS p4,
                  CASE WHEN n > 0 THEN ot / n ELSE 0.0 END AS p5
                FROM s)
              SELECT doc_id,
                CASE WHEN n > 0
                  THEN 1.0 - (p1*p1 + p2*p2 + p3*p3 + p4*p4 + p5*p5)
                  ELSE 0.0 END AS simpson,
                greatest(p1, p2, p3, p4, p5) AS top_share
              FROM p ORDER BY doc_id"""),
      // sort-first (r16, guide §1.2; see q_mask_tokens)
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .withColumn("cd",
          graft.text.TextAnalysis.charClassDiversity(col("text")))
        .select(col("doc_id"), col("cd.simpson").as("simpson"),
          col("cd.top_share").as("top_share"))),

    // KMV distinct-overlap sketch: per source pair, estimated distinct
    // doc intersection from k-minimum-values sketches (k=16) with the
    // exact intersection as the verification column. Deterministic by
    // construction — md5 order + integer-only math — so the DuckDB
    // oracle replays the ESTIMATES bit-for-bit, not just the exact
    // column (the same full-replay bar as q_quantized_topk)
    QueryDef("q_kmv_overlap",
      Some("""WITH d AS (SELECT DISTINCT source AS src, md5(text) AS h
                         FROM documents),
              sk AS (SELECT src, h,
                       row_number() OVER (PARTITION BY src ORDER BY h) AS rn
                     FROM d QUALIFY rn <= 16),
              hv AS (SELECT DISTINCT h,
                       greatest(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(range(1, 15),
                           i -> CAST(CASE
                             WHEN ascii(substr(h, CAST(i AS INT), 1)) >= 97
                             THEN ascii(substr(h, CAST(i AS INT), 1)) - 87
                             ELSE ascii(substr(h, CAST(i AS INT), 1)) - 48 END
                             AS BIGINT))),
                         (acc, c) -> acc * 16 + c), CAST(1 AS BIGINT)) AS v
                     FROM sk),
              ps AS (SELECT src, max(rn) AS n_sk,
                       max(CASE WHEN rn = 16 THEN v END) AS vk
                     FROM sk JOIN hv USING (h) GROUP BY src),
              pe AS (SELECT src,
                       CASE WHEN n_sk < 16 THEN CAST(n_sk AS BIGINT)
                            ELSE 1080863910568919040 // vk END AS est
                     FROM ps),
              pairs AS (SELECT a.src AS sa, a.est AS est_a,
                               b.src AS sb, b.est AS est_b
                        FROM pe a JOIN pe b ON a.src < b.src),
              m AS (SELECT p.sa, p.sb, s.h
                    FROM pairs p JOIN sk s ON s.src = p.sa
                    UNION
                    SELECT p.sa, p.sb, s.h
                    FROM pairs p JOIN sk s ON s.src = p.sb),
              mr AS (SELECT sa, sb, h,
                       row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
                     FROM m QUALIFY rn <= 16),
              pu AS (SELECT sa, sb, max(rn) AS n_u,
                       max(CASE WHEN rn = 16 THEN v END) AS vu
                     FROM mr JOIN hv USING (h) GROUP BY sa, sb),
              pue AS (SELECT sa, sb,
                        CASE WHEN n_u < 16 THEN CAST(n_u AS BIGINT)
                             ELSE 1080863910568919040 // vu END AS est_union
                      FROM pu),
              ex AS (SELECT a.src AS sa, b.src AS sb,
                       CAST(count(*) AS BIGINT) AS exact_int
                     FROM d a JOIN d b ON a.h = b.h AND a.src < b.src
                     GROUP BY 1, 2)
              SELECT p.sa AS source_a, p.sb AS source_b,
                     CAST(p.est_a AS BIGINT) AS est_a,
                     CAST(p.est_b AS BIGINT) AS est_b,
                     CAST(u.est_union AS BIGINT) AS est_union,
                     CAST(greatest(p.est_a + p.est_b - u.est_union, 0)
                       AS BIGINT) AS est_int,
                     COALESCE(ex.exact_int, CAST(0 AS BIGINT)) AS exact_int
              FROM pairs p JOIN pue u USING (sa, sb)
              LEFT JOIN ex USING (sa, sb)
              ORDER BY source_a, source_b"""),
      (s, d) => graft.ops.Sketches.kmvOverlap(
          documents(s, d), "source", "text", 16)
        .orderBy("source_a", "source_b")),

    // token-budget triple: whitespace words, GPT-2-style regex
    // pretokens (contractions / letter / digit / punct runs — the
    // standard pre-training budget unit), and the ceil(len/4) subword
    // heuristic, side by side per document. Both engines run the SAME
    // no-lookahead pattern (leftmost-first in Java regex and RE2)
    QueryDef("q_token_regex",
      Some("""SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_ws,
                CAST(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\x0B\p{L}\p{N}]+|[ \t\n\r\f\x0B]+'))
                  AS BIGINT) AS n_gpt,
                CAST(list_sum(list_transform(
                  string_split_regex(trim(text), '\s+'),
                  t -> CAST(ceil(len(t) / 4.0) AS BIGINT))) AS BIGINT)
                  AS n_sub
              FROM documents ORDER BY doc_id"""),
      // sort-first (r16, guide §1.2; see q_mask_tokens): the GPT-2
      // pretokenizer regex sweep runs once, not twice
      (s, d) => {
        import graft.text.TextAnalysis
        documents(s, d)
          .select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
            size(TextAnalysis.gptTokens(col("text"))).cast("long").as("n_gpt"),
            TextAnalysis.subwordCount(col("text")).cast("long").as("n_sub"))
      })
  )
}
