package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.ops.Relational

/** Join operators (SURVEY.md §2.3). Dimension sides are explicitly
  * `broadcast(...)` where the reference joins small lookup tables — at
  * 100 TB the fact side never shuffles for these.
  */
object JoinQueries {
  import Tables._

  val defs: Seq[QueryDef] = Seq(

    // J1: left equi-join, small dim broadcast
    // (reference `delinquent_data_submitters.py:88`)
    QueryDef("q_join_left",
      Some("""SELECT o.o_orderkey AS okey, o.o_totalprice AS price, c.c_name AS cname
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              ORDER BY okey"""),
      (s, d) => orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey").as("okey"), col("o_totalprice").as("price"),
          col("c_name").as("cname"))
        .orderBy("okey")),

    // J2/J5: inner equi-join on differing key names
    // (reference `mu_extras.py:158` left_on/right_on)
    QueryDef("q_join_inner",
      Some("""SELECT l.l_orderkey AS okey, l.l_linenumber AS line,
                     p.p_name AS pname, p.p_brand AS brand
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              ORDER BY okey, line"""),
      (s, d) => lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"), "inner")
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("line"),
          col("p_name").as("pname"), col("p_brand").as("brand"))
        .orderBy("okey", "line")),

    // J3: anti join (reference `delinquent_data_submitters.py:90`)
    QueryDef("q_join_anti",
      Some("""SELECT c_custkey AS ckey, c_name AS cname FROM customer
              WHERE c_custkey NOT IN
                (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
              ORDER BY ckey"""),
      (s, d) => customer(s, d)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey").as("ckey"), col("c_name").as("cname"))
        .orderBy("ckey")),

    // J4/P7: semi join — frame-derived membership, broadcast
    // (reference `unreg_presc.py:119` is_in(collected list); Spark-first
    // form keeps it distributed)
    QueryDef("q_join_semi",
      Some("""SELECT s_suppkey AS skey, s_name AS sname FROM supplier
              WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
              ORDER BY skey"""),
      (s, d) => Relational.semiByKey(
        supplier(s, d).withColumnRenamed("s_suppkey", "skey"), "skey",
        lineitem(s, d).filter(col("l_quantity") > 45), "l_suppkey")
        .select(col("skey"), col("s_name").as("sname"))
        .orderBy("skey")),

    // J6: fuzzy join — equi-join on a blocking key, then Jaro-Winkler
    // similarity filter (reference `od.py:79-105`: DOB equi-key + name
    // similarity >= 0.8). Blocking key here: nationkey.
    QueryDef("q_fuzzy_join",
      Some("""SELECT c.c_custkey AS ckey, su.s_suppkey AS skey,
                     round(jaro_winkler_similarity(c.c_name, su.s_name), 4) AS sim
              FROM customer c JOIN supplier su ON c.c_nationkey = su.s_nationkey
              WHERE jaro_winkler_similarity(c.c_name, su.s_name) >= 0.78
              ORDER BY ckey, skey"""),
      (s, d) => customer(s, d)
        .join(broadcast(supplier(s, d)), col("c_nationkey") === col("s_nationkey"))
        // JW computed ONCE per pair: the filter boundary defeats
        // common-subexpression reuse if the expression appears in both
        // filter and select, doubling the dominant cost
        .withColumn("__sim", JaroWinkler(col("c_name"), col("s_name")))
        .filter(col("__sim") >= 0.78)
        .select(col("c_custkey").as("ckey"), col("s_suppkey").as("skey"),
          round(col("__sim"), 4).as("sim"))
        .orderBy("ckey", "skey")),

    // J7: two-stage fallback matching — exact key, else fallback key,
    // anti-join between stages (reference `mm1.py:58-88`)
    QueryDef("q_fallback_match",
      Some("""WITH stage1 AS (
                SELECT c.c_custkey AS ckey, n.n_name AS matched, 1 AS stage
                FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                WHERE n.n_nationkey < 10
              ), missed AS (
                SELECT * FROM customer
                WHERE c_nationkey NOT IN
                  (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)
              ), stage2 AS (
                SELECT m.c_custkey AS ckey, r.r_name AS matched, 2 AS stage
                FROM missed m
                JOIN nation n2 ON m.c_nationkey = n2.n_nationkey
                JOIN region r ON n2.n_regionkey = r.r_regionkey
              )
              SELECT * FROM stage1 UNION ALL SELECT * FROM stage2
              ORDER BY ckey, stage"""),
      (s, d) => {
        val c = customer(s, d)
        val primary = broadcast(nation(s, d).filter(col("n_nationkey") < 10))
        val fallback = broadcast(nation(s, d)
          .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("fb_key"), col("r_name").as("fb_name")))
        val stage1 = c.join(primary, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey").as("ckey"), col("n_name").as("matched"),
            lit(1).as("stage"))
        val stage2 = c
          .join(primary, col("c_nationkey") === col("n_nationkey"), "left_anti")
          .join(fallback, col("c_nationkey") === col("fb_key"))
          .select(col("c_custkey").as("ckey"), col("fb_name").as("matched"),
            lit(2).as("stage"))
        stage1.unionByName(stage2).orderBy("ckey", "stage")
      }),

    // self-join with renamed (suffixed) right columns + date-diff in
    // days (reference `techs.py:38-45`: techs⋈superseded on SSN with
    // suffix='_sup', days_to_tech = Issue Date - Issue Date_sup)
    QueryDef("q_self_join_datediff",
      Some("""WITH first_o AS (
                SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate
                FROM orders
                QUALIFY row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) = 1
              ), last_o AS (
                SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate
                FROM orders
                QUALIFY row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
              )
              SELECT f.o_custkey AS ckey,
                     f.o_orderkey AS first_okey, l.o_orderkey AS last_okey,
                     datediff('day', f.odate, l.odate) AS span_days
              FROM first_o f JOIN last_o l ON f.o_custkey = l.o_custkey
              ORDER BY ckey"""),
      (s, d) => {
        val o = orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("odate"))
        val first = Relational.keepFirst(o, Seq("o_custkey"),
          Seq(col("odate").asc, col("o_orderkey").asc))
        val last = Relational.keepFirst(o, Seq("o_custkey"),
          Seq(col("odate").desc, col("o_orderkey").desc))
          // suffix='_sup' analog: rename right-side collision columns
          .select(col("o_custkey").as("ckey_sup"),
            col("o_orderkey").as("okey_sup"), col("odate").as("odate_sup"))
        first.join(last, col("o_custkey") === col("ckey_sup"), "inner")
          .select(col("o_custkey").as("ckey"),
            col("o_orderkey").as("first_okey"), col("okey_sup").as("last_okey"),
            datediff(col("odate_sup"), col("odate")).as("span_days"))
          .orderBy("ckey")
      }),

    // J8/U2: horizontal concat of 1-row frames (reference `scorecard.py:70`)
    QueryDef("q_horizontal_concat",
      Some("""SELECT (SELECT count(*) FROM customer) AS n_cust,
                     (SELECT count(*) FROM orders) AS n_orders,
                     (SELECT sum(l_quantity) FROM lineitem) AS total_qty"""),
      (s, d) => Relational.horizontalConcat(Seq(
        customer(s, d).agg(count(lit(1)).as("n_cust")),
        orders(s, d).agg(count(lit(1)).as("n_orders")),
        lineitem(s, d).agg(sum("l_quantity").as("total_qty"))))),

    // U1: vertical concat / union all by name (reference `mm1.py:88`)
    QueryDef("q_union",
      Some("""SELECT * FROM (
                SELECT o_orderkey AS okey, 'urgent' AS bucket FROM orders
                WHERE o_orderpriority = '1-URGENT'
                UNION ALL
                SELECT o_orderkey AS okey, 'low' AS bucket FROM orders
                WHERE o_orderpriority = '5-LOW'
              ) ORDER BY okey, bucket"""),
      (s, d) => {
        val o = orders(s, d)
        val a = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("okey"), lit("urgent").as("bucket"))
        val b = o.filter(col("o_orderpriority") === "5-LOW")
          .select(col("o_orderkey").as("okey"), lit("low").as("bucket"))
        a.unionByName(b).orderBy("okey", "bucket")
      }),

    // od.py:24-138 end-to-end: a small case list, two dispensation
    // extracts, each DOB-blocked (equi-key) + Jaro-Winkler name-ratio
    // filtered, unioned into one report (J6 + U1 composed). The case
    // list is the reference's handful of OD rows — broadcast; the
    // extract sides (the 100 TB dispensation tables) stay partitioned
    // and only their DOB-blocked slices ever meet the filter.
    QueryDef("q_od_pipeline",
      Some("""WITH cases AS (
                SELECT c_custkey AS ckey, c_nationkey AS dob_key,
                       upper(c_name) AS full_name
                FROM customer WHERE c_custkey % 50 = 0),
              disp AS (
                SELECT s_suppkey AS skey, s_nationkey AS dob_key,
                       upper(s_name) AS cand, 'disp' AS src
                FROM supplier WHERE s_suppkey % 2 = 0),
              odt AS (
                SELECT s_suppkey AS skey, s_nationkey AS dob_key,
                       upper(s_name) AS cand, 'odt' AS src
                FROM supplier WHERE s_suppkey % 2 = 1),
              matched AS (
                SELECT c.ckey, e.skey, e.src,
                       round(jaro_winkler_similarity(c.full_name, e.cand), 4) AS ratio
                FROM cases c JOIN disp e ON c.dob_key = e.dob_key
                WHERE jaro_winkler_similarity(c.full_name, e.cand) >= 0.72
                UNION ALL
                SELECT c.ckey, e.skey, e.src,
                       round(jaro_winkler_similarity(c.full_name, e.cand), 4) AS ratio
                FROM cases c JOIN odt e ON c.dob_key = e.dob_key
                WHERE jaro_winkler_similarity(c.full_name, e.cand) >= 0.72)
              SELECT * FROM matched ORDER BY ckey, skey, src"""),
      (s, d) => {
        val cases = broadcast(customer(s, d)
          .filter(col("c_custkey") % 50 === 0)
          .select(col("c_custkey").as("ckey"), col("c_nationkey").as("dob_key"),
            upper(col("c_name")).as("full_name")))
        def extract(parity: Int, src: String): DataFrame = supplier(s, d)
          .filter(col("s_suppkey") % 2 === parity)
          .select(col("s_suppkey").as("skey"), col("s_nationkey").as("dob_key"),
            upper(col("s_name")).as("cand"), lit(src).as("src"))
        def matchStage(ex: DataFrame): DataFrame = cases.join(ex, Seq("dob_key"))
          // single JW eval per candidate pair (see q_fuzzy_join note)
          .withColumn("__ratio", JaroWinkler(col("full_name"), col("cand")))
          .filter(col("__ratio") >= 0.72)
          .select(col("ckey"), col("skey"), col("src"),
            round(col("__ratio"), 4).as("ratio"))
        matchStage(extract(0, "disp")).unionByName(matchStage(extract(1, "odt")))
          .orderBy("ckey", "skey", "src")
      }),

    // Levenshtein self-match (graft.ops.Relational
    // .deletionNeighborhoodPairs): exact-edit-distance complement to
    // the Jaro-Winkler join — near-identical customer names (<=1 edit)
    // inside a nation block. SymSpell-style: candidates come from an
    // equi-join on single-deletion variants (O(n·len) index rows), not
    // an in-block self-join (O(block²) pairs — quadratic death on a
    // 25-value block key), and the verify step is the bounded 3-arg
    // levenshtein (banded DP, early exit past the threshold).
    QueryDef("q_lev_join",
      Some("""SELECT a.c_nationkey AS nkey,
                     a.c_custkey AS key_a, b.c_custkey AS key_b,
                     levenshtein(a.c_name, b.c_name) AS dist
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey
               AND a.c_custkey < b.c_custkey
              WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
                AND levenshtein(a.c_name, b.c_name) <= 1
              ORDER BY nkey, key_a, key_b"""),
      (s, d) => Relational.deletionNeighborhoodPairs(
          customer(s, d).select(col("c_custkey"), col("c_nationkey"),
            col("c_name")),
          "c_custkey", "c_nationkey", "c_name")
        .select(col("c_nationkey").as("nkey"), col("key_a"), col("key_b"),
          col("dist"))
        .orderBy("nkey", "key_a", "key_b")),

    // the SAME edit-distance join through the PURE SQL surface: the
    // query text writes the unbounded `levenshtein(a,b) <= 1` every
    // user naturally writes, and the BoundedLevenshteinRule (injected
    // into every session by graft.GraftExtensionsProvider) rewrites it
    // to the banded 3-arg form at optimization time.
    // Scoped to c_custkey <= 5000: the naive SQL is block-quadratic
    // BY CONSTRUCTION (that is what users write; the scale path with
    // SymSpell candidates is q_lev_join), so the surface pin runs on a
    // slice instead of taxing every bench run ~20 s. PlanSpec pins
    // that the optimized plan actually carries the bounded form, so
    // this query is the end-to-end proof the rewrite fires for
    // SQL-only users
    QueryDef("q_sql_lev",
      Some("""SELECT a.c_nationkey AS nkey,
                     a.c_custkey AS key_a, b.c_custkey AS key_b,
                     levenshtein(a.c_name, b.c_name) AS dist
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey
               AND a.c_custkey < b.c_custkey
              WHERE a.c_custkey <= 5000 AND b.c_custkey <= 5000
                AND abs(length(a.c_name) - length(b.c_name)) <= 1
                AND levenshtein(a.c_name, b.c_name) <= 1
              ORDER BY nkey, key_a, key_b"""),
      (s, d) => {
        val view = s"g_sql_lev_cust_${Tables.tmpKey(d)}"
        customer(s, d).createOrReplaceTempView(view)
        s.sql(s"""SELECT a.c_nationkey AS nkey,
            a.c_custkey AS key_a, b.c_custkey AS key_b,
            levenshtein(a.c_name, b.c_name) AS dist
          FROM $view a JOIN $view b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_custkey < b.c_custkey
          WHERE a.c_custkey <= 5000 AND b.c_custkey <= 5000
            AND abs(length(a.c_name) - length(b.c_name)) <= 1
            AND levenshtein(a.c_name, b.c_name) <= 1
          ORDER BY nkey, key_a, key_b""")
      })
  )
}
