package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Clustering, Cut, Dedup, Multimodal, RangeJoin, Similarity, TextAnalysis}
import Support._

/** Training-data-pipeline operators as contract queries (builder brief +
  * SURVEY.md §2.8c): quality scoring, BPE-ish token counting, language ID,
  * MinHash-LSH / SimHash near-dup, LSH/IVF ANN, winnowing fingerprints,
  * multimodal feature extraction.
  *
  * Deterministic-and-SQL-expressible operators carry a DuckDB oracle;
  * sketch/LSH operators are rows-only here and recall-tested against their
  * exact counterparts in the ScalaTest suite (OpsSuite).
  */
object ScaleOps {

  /** q129b's FIXED, well-formed merge table (rank order; every operand is
    * a base character or the output of an earlier merge — the property
    * that makes greedy lowest-rank application equal rank-order replay,
    * asserted over the fixture vocabulary in OpsSuite). Chosen to fire on
    * the fixture's frequent words (join, hash, batch, scan, row, ...). */
  val q129bMerges: Seq[(String, String)] = Seq(
    "a" -> "t", "h" -> "</w>", "a" -> "n", "e" -> "</w>", "r" -> "o",
    "j" -> "o", "jo" -> "i", "joi" -> "n", "s" -> "c", "o" -> "w")

  val defs: Seq[Q] = Seq(

    dfQ("q68_quality_score",
      """SELECT doc_id,
        |       CAST(LENGTH(text) AS BIGINT) n_chars,
        |       CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) n_tokens,
        |       ROUND(LENGTH(text) / GREATEST(LEN(STRING_SPLIT(text,' ')), 1.0), 4) avg_tok_len,
        |       ROUND(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) / GREATEST(LENGTH(text), 1.0), 6) punct_ratio,
        |       ROUND(LEN(LIST_FILTER(STRING_SPLIT(text,' '), w -> LIST_CONTAINS(['the','a','of','and','to','in','is','that','it','for'], w))) / GREATEST(LEN(STRING_SPLIT(text,' ')), 1.0), 6) stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.qualityScore(Tables.table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    dfQ("q69_token_counts",
      """SELECT doc_id,
        |       CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) ws_tokens,
        |       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.tokenCounts(Tables.table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    dfQ("q70_langid",
      """WITH s AS (
        |  SELECT doc_id,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['the','a','of','and','to','in','is','that','it','for'], w))) se,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['der','die','das','und','ist','nicht','ein','mit','zu','auf'], w))) sd,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['le','la','les','et','est','un','une','dans','que','pour'], w))) sf,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['el','los','las','y','es','un','una','en','que','para'], w))) ss
        |  FROM (SELECT doc_id, STRING_SPLIT(text,' ') ws FROM documents))
        |SELECT doc_id, CASE
        |  WHEN GREATEST(se, sd, sf, ss) = 0 THEN 'und'
        |  WHEN se = GREATEST(se, sd, sf, ss) THEN 'en'
        |  WHEN sd = GREATEST(se, sd, sf, ss) THEN 'de'
        |  WHEN sf = GREATEST(se, sd, sf, ss) THEN 'fr'
        |  ELSE 'es' END lang_guess
        |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      // zh profile scores 0 on this latin-script fixture, so the 4-lang
      // oracle CASE is equivalent; the real 5-profile operator is what runs.
      TextAnalysis.languageId(Tables.table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    dfQ("q18b_banded_range_join",
      // Same oracle as q18: the band-bucketed rewrite must be semantically
      // identical to the naive residual-predicate range join.
      """SELECT e1.event_id AS a, COUNT(*) AS follows_1h
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |WHERE e1.user_id < 50
        |GROUP BY e1.event_id ORDER BY e1.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events")
        .select("event_id", "ts", "user_id")
      RangeJoin.intervalFollowJoin(
        ev.filter(col("user_id") < 50), ev,
        keyCol = "user_id", tsCol = "ts", bandMicros = 3600L * 1000000L)
        .groupBy(col("event_id").as("a"))
        .agg(count(lit(1)).as("follows_1h"))
        .orderBy("a")
    },

    dfQ("q54_pivot",
      // Oracle is the CASE-expansion form — dialect-stable, and exactly the
      // plan Spark's pivot lowers to (one pass, no join).
      """SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS BIGINT) y,
        |       COUNT(CASE WHEN o_orderstatus='F' THEN 1 END) "F",
        |       COUNT(CASE WHEN o_orderstatus='O' THEN 1 END) "O",
        |       COUNT(CASE WHEN o_orderstatus='P' THEN 1 END) "P"
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin) { (s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(year(col("o_orderdate").cast("date")).cast("long").as("y"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L, Seq("F", "O", "P")) // COUNT(CASE) yields 0, pivot yields null
        .orderBy("y")
    },

    dfQ("q19b_asof_operator",
      // The AsOf operator (union-merge-window plan) must match the q19
      // conditional-running-MAX oracle on the purchase sub-stream.
      """SELECT user_id, event_id,
        |       strftime(MAX(CASE WHEN event_type='purchase' THEN ts END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         '%Y-%m-%d %H:%M:%S') AS last_purchase
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events").filter(col("user_id") < 20)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("p_ts"))
      graft.ops.AsOf.join(ev, purchases, "user_id", "ts", "ts", Seq("p_ts"))
        .select(col("user_id"), col("event_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("last_purchase"))
        .orderBy("user_id", "event_id")
    },

    dfQ("q19c_asof_forward",
      // Forward direction: next purchase at-or-after each event — the
      // conditional-running-MIN-over-following-frame oracle mirrors q19b.
      """SELECT user_id, event_id,
        |       strftime(MIN(CASE WHEN event_type='purchase' THEN ts END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
        |         '%Y-%m-%d %H:%M:%S') AS next_purchase
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events").filter(col("user_id") < 20)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("p_ts"))
      graft.ops.AsOf.join(ev, purchases, "user_id", "ts", "ts", Seq("p_ts"),
          direction = "forward")
        .select(col("user_id"), col("event_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("next_purchase"))
        .orderBy("user_id", "event_id")
    },

    // F6 completion: TRY_CAST null-on-failure semantics (identical dialect).
    sameQ("q49b_try_cast",
      """SELECT p_partkey,
        |       TRY_CAST(p_brand AS INT) bad_int,
        |       TRY_CAST(CAST(p_size AS STRING) AS INT) good_int,
        |       TRY_CAST(p_name AS DATE) bad_date
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin),

    // F4 completion: pmod (DuckDB: ((a%b)+b)%b) / log10 / exp / sign.
    sqlQ("q47b_math_breadth",
      """SELECT l_orderkey, l_linenumber,
        |       PMOD(CAST(l_quantity AS INT) - 25, 7) pm,
        |       ROUND(LOG10(l_extendedprice), 6) lg10,
        |       ROUND(EXP(l_discount), 6) ex,
        |       CAST(SIGN(l_quantity - 25) AS BIGINT) sg
        |FROM lineitem WHERE l_orderkey < 40
        |ORDER BY l_orderkey, l_linenumber, pm, lg10, ex, sg""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |       ((CAST(l_quantity AS INT) - 25) % 7 + 7) % 7 pm,
        |       ROUND(LOG10(l_extendedprice), 6) lg10,
        |       ROUND(EXP(l_discount), 6) ex,
        |       CAST(SIGN(l_quantity - 25) AS BIGINT) sg
        |FROM lineitem WHERE l_orderkey < 40
        |ORDER BY l_orderkey, l_linenumber, pm, lg10, ex, sg""".stripMargin),

    // F1 completion: instr / concat_ws / reverse / ltrim / rtrim.
    sameQ("q44b_string_breadth",
      """SELECT p_partkey,
        |       CAST(INSTR(p_name, 'a') AS BIGINT) ia,
        |       CONCAT_WS('-', p_brand, p_type) cw,
        |       REVERSE(p_brand) rv,
        |       LTRIM(CONCAT('  ', p_name)) lt,
        |       RTRIM(CONCAT(p_name, '  ')) rt
        |FROM part ORDER BY p_partkey LIMIT 80""".stripMargin),

    // F2 completion: RLIKE (DuckDB: regexp_matches).
    sqlQ("q45b_rlike",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name RLIKE '^[a-f].*(ing|ed)'
        |ORDER BY p_partkey LIMIT 100""".stripMargin,
      """SELECT p_partkey, p_name FROM part
        |WHERE REGEXP_MATCHES(p_name, '^[a-f].*(ing|ed)')
        |ORDER BY p_partkey LIMIT 100""".stripMargin),

    // P7 completion: correlated-equality scalar subquery.
    sameQ("q23c_correlated_scalar",
      """SELECT c_custkey,
        |       ROUND((SELECT MAX(o_totalprice) FROM orders o
        |              WHERE o.o_custkey = c.c_custkey), 2) max_order
        |FROM customer c
        |WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin),

    // P3 completion: IN (subquery) — plans as a semi join.
    sameQ("q15b_in_subquery",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY s_suppkey""".stripMargin),

    // P3 completion: NOT IN (subquery) — null-aware anti join (the
    // subquery column is non-null here, so semantics match EXISTS-NOT).
    sameQ("q16b_not_in_subquery",
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin),

    // A7 completion: population variants + covariance.
    sameQ("q28b_pop_stats",
      """SELECT l_returnflag,
        |       ROUND(STDDEV_POP(l_quantity), 4) sdp,
        |       ROUND(VAR_POP(l_quantity), 4) vp,
        |       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) cs,
        |       ROUND(COVAR_POP(l_quantity, l_extendedprice), 2) cp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // A11 completion: ordered string aggregation.
    sqlQ("q53b_string_agg",
      """SELECT l_orderkey,
        |       ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(CAST(l_linenumber AS STRING))), ',') lines
        |FROM lineitem WHERE l_orderkey < 30 GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
      """SELECT l_orderkey,
        |       STRING_AGG(CAST(l_linenumber AS VARCHAR), ',' ORDER BY CAST(l_linenumber AS VARCHAR)) lines
        |FROM lineitem WHERE l_orderkey < 30 GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // P4 breadth: null-safe equality (`<=>`; DuckDB: IS NOT DISTINCT FROM).
    sqlQ("q05b_null_safe_eq",
      """SELECT
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') <=> NULL THEN 1 ELSE 0 END) AS BIGINT) p_rows,
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') <=> 'O' THEN 1 ELSE 0 END) AS BIGINT) o_rows,
        |  CAST(SUM(CASE WHEN NOT (NULLIF(o_orderstatus,'P') <=> NULL) THEN 1 ELSE 0 END) AS BIGINT) non_p_rows
        |FROM orders""".stripMargin,
      """SELECT
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) p_rows,
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') IS NOT DISTINCT FROM 'O' THEN 1 ELSE 0 END) AS BIGINT) o_rows,
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') IS DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) non_p_rows
        |FROM orders""".stripMargin),

    // P3 breadth: ILIKE and LIKE ... ESCAPE (identical dialect).
    sameQ("q04b_ilike_escape",
      """SELECT p_partkey, p_type FROM part
        |WHERE p_type ILIKE '%econ%'
        |   OR p_name LIKE '%!%%' ESCAPE '!'
        |ORDER BY p_partkey LIMIT 100""".stripMargin),

    // TPC-H Q19 shape: disjunction of conjunctive bands — exercises
    // predicate normalization/simplification and pushdown of OR trees.
    sameQ("q59_disjunctive_bands",
      """SELECT COUNT(*) n, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) rev
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 5 AND 25)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 15 AND 35)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
        |       AND l.l_quantity BETWEEN 25 AND 45)""".stripMargin),

    // F3 breadth: last_day / make_date / extract / epoch seconds.
    sqlQ("q46b_date_breadth",
      """SELECT o_orderkey,
        |       LAST_DAY(CAST(o_orderdate AS DATE)) ld,
        |       MAKE_DATE(YEAR(CAST(o_orderdate AS DATE)), 1, 1) ystart,
        |       CAST(EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS BIGINT) m,
        |       UNIX_TIMESTAMP(CAST(o_orderdate AS TIMESTAMP)) epoch_s
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,
      """SELECT o_orderkey,
        |       LAST_DAY(CAST(o_orderdate AS DATE)) ld,
        |       MAKE_DATE(CAST(YEAR(CAST(o_orderdate AS DATE)) AS BIGINT), 1, 1) ystart,
        |       CAST(EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS BIGINT) m,
        |       CAST(EPOCH(o_orderdate) AS BIGINT) epoch_s
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),

    // W5 breadth: IGNORE NULLS offset/frame functions. DuckDB 1.0 has no
    // IGNORE NULLS syntax, so the oracle is an INDEPENDENT formulation
    // (purchase numbering + running purchase count + join) — a genuine
    // semantic cross-check rather than a dialect echo.
    sqlQ("q36b_ignore_nulls",
      """SELECT user_id, event_id,
        |       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END)
        |         IGNORE NULLS OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) last_purchase_id,
        |       LAG(CASE WHEN event_type = 'purchase' THEN event_id END)
        |         IGNORE NULLS OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_purchase_id
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,
      """WITH p AS (
        |  SELECT user_id, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) pn
        |  FROM events WHERE user_id < 20 AND event_type = 'purchase'),
        |base AS (
        |  SELECT user_id, event_id,
        |    COUNT(CASE WHEN event_type='purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cur_pn,
        |    COUNT(CASE WHEN event_type='purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev_pn
        |  FROM events WHERE user_id < 20)
        |SELECT b.user_id, b.event_id,
        |       pc.event_id last_purchase_id, pp.event_id prev_purchase_id
        |FROM base b
        |LEFT JOIN p pc ON pc.user_id = b.user_id AND pc.pn = b.cur_pn
        |LEFT JOIN p pp ON pp.user_id = b.user_id AND pp.pn = b.prev_pn
        |ORDER BY b.user_id, b.event_id""".stripMargin),

    // W5 completion: nth_value over the full frame.
    sameQ("q36c_nth_value",
      """SELECT o_custkey, o_orderkey,
        |       NTH_VALUE(o_orderkey, 2) OVER w second_best
        |FROM orders WHERE o_custkey < 30
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // TPC-H Q7 shape: bilateral nation-pair shipping volume by year.
    sameQ("q57b_nation_volume",
      """SELECT sn.n_name supp_nation, cn.n_name cust_nation,
        |       CAST(YEAR(CAST(l.l_shipdate AS DATE)) AS BIGINT) y,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) volume
        |FROM supplier s
        |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |JOIN orders o   ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        |JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2') AND cn.n_name IN ('NATION_3', 'NATION_4')
        |GROUP BY sn.n_name, cn.n_name, YEAR(CAST(l.l_shipdate AS DATE))
        |ORDER BY supp_nation, cust_nation, y""".stripMargin),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20.
    sameQ("q57c_returned_revenue",
      """SELECT c.c_custkey, c.c_name,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) rev
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY rev DESC, c.c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q14 shape: conditional-revenue ratio (promo share).
    sameQ("q57d_promo_share",
      """SELECT ROUND(100.0 *
        |  SUM(CASE WHEN p.p_type LIKE 'PROMO%'
        |      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) /
        |  SUM(l.l_extendedprice * (1 - l.l_discount)), 4) promo_share
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1996-04-01'""".stripMargin),

    // TPC-H Q4 shape: existence-correlated count by priority.
    sameQ("q56_order_priority",
      """SELECT o_orderpriority, COUNT(*) n FROM orders o
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q18 shape: large-volume orders via IN over a grouped-HAVING
    // subquery — exercises Catalyst's rewrite of IN(<aggregated subquery>)
    // into a left-semi join on the aggregated key.
    sameQ("q56b_big_orders",
      """SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) odate, o.o_totalprice
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin),

    // TPC-H Q21 shape: suppliers who were the sole flagged line in a
    // multi-supplier order — EXISTS and NOT EXISTS correlated to the same
    // outer row with extra predicates; both decorrelate to (anti-)joins.
    sameQ("q56c_sole_flagged_supplier",
      """SELECT s.s_name, COUNT(*) numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 25""".stripMargin),

    // TPC-H Q22 shape: above-average-balance customers with no large
    // order — an uncorrelated scalar AVG subquery gating a correlated
    // NOT EXISTS anti-join.
    sameQ("q59b_idle_rich_customers",
      """SELECT c_mktsegment, COUNT(*) numcust, ROUND(SUM(c_acctbal), 2) totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // TPC-H Q5 shape: 5-way snowflake join with regional revenue rollup.
    dfQ("q57_regional_revenue",
      """SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) rev
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name IN ('ASIA', 'EUROPE')
        |GROUP BY n.n_name ORDER BY rev DESC, n.n_name""".stripMargin) { (s, d) =>
      // snowflake: tiny dims (nation⋈region pre-joined) broadcast; the
      // lineitem fact shuffles only for the final rollup.
      val nr = Tables.table(s, d, "nation")
        .join(Tables.table(s, d, "region")
          .filter(col("r_name").isin("ASIA", "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val co = Tables.table(s, d, "customer")
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.table(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      Tables.table(s, d, "lineitem")
        .join(broadcast(co), col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("rev"))
        .orderBy(col("rev").desc, col("n_name"))
    },

    // TPC-H Q12 shape: join + conditional two-way classification.
    sameQ("q58_shipmode_priority",
      """SELECT l.l_linestatus,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) low_line_count
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
        |GROUP BY l.l_linestatus ORDER BY l.l_linestatus""".stripMargin),

    dfQ("q55_unpivot",
      // Spark stack() generator ≡ the dialect-stable UNION ALL oracle form.
      """SELECT l_orderkey, l_linenumber, 'price' metric, l_extendedprice val
        |FROM lineitem WHERE l_orderkey < 20
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'qty', l_quantity
        |FROM lineitem WHERE l_orderkey < 20
        |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin) { (s, d) =>
      Tables.table(s, d, "lineitem").filter(col("l_orderkey") < 20)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("stack(2, 'price', l_extendedprice, 'qty', l_quantity)")
            .as(Seq("metric", "val")))
        .orderBy("l_orderkey", "l_linenumber", "metric", "val")
    },

    // W4 interval RANGE frame over timestamp order (q37 covers the numeric
    // form). Identical SQL runs on both engines at full µs precision.
    sameQ("q37b_interval_range_frame",
      """SELECT event_id,
        |       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) near_cnt
        |FROM events WHERE user_id < 25 ORDER BY event_id""".stripMargin),

    // Oracle-promoted (VERDICT r5 #3a): the native banded-signature rewrite
    // confirms candidates with the TRUE shingle-set Jaccard (hashed-set
    // sizes — identical values absent 64-bit collisions), and the miss
    // probability per true pair at s >= 0.8 with 8 OR-bands is (1-s)^8 <=
    // 2.6e-6; verified deterministic-equal to the exact pair set at all
    // three SFs (graft.tools.CheckMinhashOracle). The DuckDB side is the
    // q61 exact-Jaccard derivation restricted to the same threshold.
    dfQ("q71_minhash_neardup",
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents WHERE doc_id < 150),
        |sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) AS s
        |  FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT da a, db b, ROUND(CAST(ix AS DOUBLE) / (ca.n + cb.n - ix), 4) jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.8
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      Dedup.minHashNearDupPairs(
        Tables.table(s, d, "documents").filter(col("doc_id") < 150),
        "doc_id", "text", shingleN = 3, threshold = 0.8)
        .orderBy("a", "b")
    },

    // Oracle-promoted (VERDICT r1 next-round 3): annTopK ranks candidates by
    // the exact codegen'd cosine, and OpsSuite asserts its output EQUALS
    // exactTopK on the fixtures (recall 1.0) — so the exact-SQL top-k is a
    // valid oracle for the deterministic, seeded LSH run.
    dfQ("q72_ann_topk",
      """SELECT q, v, sim, rn FROM (
        |  SELECT a.vec_id q, b.vec_id v,
        |         ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id) AS BIGINT) rn
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 5) t
        |WHERE rn <= 3 ORDER BY q, rn""".stripMargin) { (s, d) =>
      // A 5-vector query side is below annTopK's exact-dispatch threshold,
      // so this plans the broadcast exact scan (q·N codegen'd cosines, no
      // LSH fit/explode/bucket-join overhead) — the honest plan for tiny
      // query sides at any corpus size. The LSH branch (large query sides)
      // runs with a calibrated radius and is covered in OpsSuite.
      Similarity.annTopK(Tables.table(s, d, "embeddings"), "vec_id",
        "embedding", _.filter(col("vec_id") < 5), k = 3)
        .withColumn("sim", round(col("sim"), 6))
        .withColumn("rn", col("rn").cast("bigint"))
        .orderBy("q", "rn")
    },

    sparkOnly("q73_simhash_pairs") { (s, d) =>
      Dedup.simHashNearDupPairs(
        Tables.table(s, d, "documents").filter(col("doc_id") < 150),
        "doc_id", "text", maxDist = 3)
        .orderBy("a", "b")
    },

    // The SimHash OPERATOR under a hash oracle (the q129b move: q73's
    // xxhash64 family is Spark-only, so q73 stays rows-only — but the
    // operator is hash-family agnostic, and with the token hash set to
    // the low 32 bits of md5 BOTH engines can compute every vote).
    // DuckDB replays the full algorithm: per-occurrence ±1 votes on 32
    // bit positions, strict-positive sign → signature, the same 4×8-bit
    // pigeonhole bands, Hamming ≤ 3 confirm via bit_count(xor). Any
    // change to the vote rule, banding, or confirm logic breaks the
    // hash. Spark runs the REAL Dedup.simHashNearDupPairs (one UDAF
    // pass, banded equi-join — never all-pairs); the oracle may go
    // quadratic, it only has 150 docs.
    dfQ("q73b_simhash_md5",
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) w
        |  FROM documents WHERE doc_id < 150),
        |h AS (
        |  SELECT doc_id,
        |         CAST(CONCAT('0x', SUBSTRING(MD5(w), 1, 8)) AS BIGINT) h
        |  FROM tok WHERE w <> ''),
        |votes AS (
        |  SELECT doc_id, j,
        |         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) v
        |  FROM h CROSS JOIN UNNEST(RANGE(0, 32)) t(j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END) s
        |  FROM votes GROUP BY doc_id),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id a, b.doc_id b,
        |         BIT_COUNT(XOR(a.s, b.s)) hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  CROSS JOIN UNNEST(RANGE(0, 4)) t(bd)
        |  WHERE (a.s & (255::BIGINT << (8 * bd)))
        |          = (b.s & (255::BIGINT << (8 * bd)))
        |    AND BIT_COUNT(XOR(a.s, b.s)) <= 3)
        |SELECT a, b, CAST(hamming AS INTEGER) hamming
        |FROM pairs ORDER BY a, b""".stripMargin) { (s, d) =>
      val md5h = (w: org.apache.spark.sql.Column) =>
        conv(substring(md5(w), 1, 8), 16, 10).cast("long")
      Dedup.simHashNearDupPairs(
          Tables.table(s, d, "documents").filter(col("doc_id") < 150),
          "doc_id", "text", maxDist = 3, tokenHash = md5h, bits = 32)
        .orderBy("a", "b")
    },

    // Oracle-promoted (VERDICT r2 item 5): the winnow kernel is exactly
    // SQL-expressible for this operating point. With k=5 and ASCII text the
    // max Karp-Rabin value is ~5.6e11 < 2^63, so the kernel's wrapping
    // 64-bit arithmetic never wraps and plain BIGINT polynomial hashing in
    // DuckDB reproduces the values bit-for-bit; and because ties have equal
    // VALUES, the recorded fingerprint SET equals the set of per-window
    // minima regardless of the rightmost-tie rule — so n_fp/fp_min are
    // windowed-min aggregates. (A general-k oracle would need wrapping
    // arithmetic DuckDB doesn't have; the kernel itself stays covered by
    // the OpsSuite guarantee + kernel-agreement properties.)
    dfQ("q74_fingerprints",
      """WITH pos AS (
        |  SELECT doc_id, text, length(text) - 4 AS ng,
        |    unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS i
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, ng, i,
        |    ord(substr(text, i, 1))*4362470401 + ord(substr(text, i+1, 1))*16974593
        |    + ord(substr(text, i+2, 1))*66049 + ord(substr(text, i+3, 1))*257
        |    + ord(substr(text, i+4, 1)) AS h
        |  FROM pos
        |), wins AS (
        |  SELECT doc_id, i, ng,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
        |  FROM grams
        |), fp AS (
        |  SELECT doc_id, count(DISTINCT mh) AS n_fp, min(mh) AS fp_min
        |  FROM wins WHERE i <= greatest(ng - 3, 1) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(fp.n_fp, 0) AS n_fp, fp.fp_min
        |FROM documents d LEFT JOIN fp USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.fingerprints(Tables.table(s, d, "documents"),
        "doc_id", "text", k = 5, w = 4)
        .select(col("doc_id"), size(col("fingerprints")).cast("bigint").as("n_fp"),
          array_min(col("fingerprints")).as("fp_min"))
        .orderBy("doc_id")
    },

    sparkOnly("q75_multimodal_features") { (s, d) =>
      // Real codecs (VERDICT r6 #1): image rows decode through
      // javax.imageio (features(0) = decoded pixel width), audio rows
      // through javax.sound.sampled (features(0) = sample rate); video
      // stays the documented stub (decoded = false, avg_f0 is a histogram
      // share). decoded_n makes the codec/stub split visible per kind.
      val media = Multimodal.mediaFromDocuments(Tables.table(s, d, "documents"))
      val feats = Multimodal.extractFeatures(media, dim = 16)
      feats.toDF()
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          round(avg("n_bytes"), 2).as("avg_bytes"),
          max(size(col("features"))).as("dim"),
          sum(when(col("decoded"), 1L).otherwise(0L)).as("decoded_n"),
          round(avg(element_at(col("features"), 1)), 4).as("avg_f0"))
        .orderBy("kind")
    },

    // Oracle-promoted (VERDICT r1 next-round 3+4a): τ=0.4 is below the LSH
    // operating regime, so embeddingNearDupPairs dispatches to the exact
    // broadcast-nested-loop path — deterministic and exactly SQL-expressible
    // (the q66 formulation). The LSH path stays covered at high τ in
    // OpsSuite.
    dfQ("q77_embedding_neardup",
      """SELECT a.vec_id a, b.vec_id b, ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[],b.embedding::DOUBLE[]),6) sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200 AND b.vec_id < 200
        |  AND LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[],b.embedding::DOUBLE[]) > 0.4
        |ORDER BY a.vec_id, b.vec_id""".stripMargin) { (s, d) =>
      Similarity.embeddingNearDupPairs(
        Tables.table(s, d, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", threshold = 0.4)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("a", "b")
    },

    dfQ("q80_salted_agg",
      // The two-phase salted aggregation must equal the plain GROUP BY.
      """SELECT l_returnflag, ROUND(SUM(l_quantity), 2) s, COUNT(*) n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      graft.ops.Skew.saltedAggregate(
        Tables.table(s, d, "lineitem"), Seq("l_returnflag"), "l_orderkey",
        salts = 8,
        partial = Seq(("l_quantity", "sum", "s"), ("l_quantity", "count", "n")))
        .select(col("l_returnflag"), round(col("s"), 2).as("s"), col("n"))
        .orderBy("l_returnflag")
    },

    dfQ("q81_salted_join",
      // The salt-replicated join must equal the plain equi-join.
      """SELECT c.c_mktsegment, COUNT(*) n, ROUND(SUM(o.o_totalprice), 2) rev
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      val customer = Tables.table(s, d, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
      graft.ops.Skew.saltedJoin(Tables.table(s, d, "orders"), customer,
        "o_custkey", saltFrom = "o_orderkey", salts = 4)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("c_mktsegment")
    },

    // Oracle-promoted (VERDICT r5 #3a) — same licensing as q71; the full
    // corpus at each SF was verified equal to the exact pair set.
    dfQ("q78_minhash_full_corpus",
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) AS s
        |  FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT da a, db b, ROUND(CAST(ix AS DOUBLE) / (ca.n + cb.n - ix), 4) jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.8
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      // the L2 scale path over the ENTIRE documents table (5000 docs at
      // sf0.1) — no id filter; candidate volume is bounded by LSH buckets.
      Dedup.minHashNearDupPairs(Tables.table(s, d, "documents"),
        "doc_id", "text", shingleN = 3, threshold = 0.8)
        .orderBy("a", "b")
    },

    sparkOnly("q79_corpus_prep_report") { (s, d) =>
      val (cleaned, r) = graft.ops.CorpusPrep.prepare(
        Tables.table(s, d, "documents").select("doc_id", "text", "lang"),
        "doc_id", "text",
        graft.ops.CorpusPrep.PrepConfig(minTokens = 10))
      val spark = s
      import spark.implicits._
      // r16: `cleaned_rows` is r.kept BY CONSTRUCTION (dedupCorpus counts
      // the same `cleaned` DataFrame to produce the report); the previous
      // cleaned.count() here recomputed the whole LSH confirm + anti-join
      // a second time for a value already in hand (guide §1.2: don't
      // compute things you throw away). Output identical.
      val _ = cleaned // the corpus itself is the operator's other output
      Seq((r.input, r.afterQuality, r.afterLang, r.afterExact, r.kept,
        r.kept))
        .toDF("input", "after_quality", "after_lang", "after_exact",
          "kept", "cleaned_rows")
    },

    // Oracle-promoted: the fixture vectors are near-random in 64-dim, where
    // cell membership barely correlates with cosine rank — exactness
    // requires exhaustive probing (nprobe = nlist; verified: nprobe=14
    // still missed one rank-3 neighbor at sf0.1). All the IVF machinery
    // (centroid broadcast, probe ranking, cell equi-join) is still
    // exercised; the real ANN trade-off (nprobe << nlist) stays covered by
    // the nprobe=8 recall measurement in OpsSuite. Real embedding corpora
    // cluster, which is what makes partial probing pay off there.
    dfQ("q76_ivf_topk",
      """SELECT q, v, sim, rn FROM (
        |  SELECT a.vec_id q, b.vec_id v,
        |         ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id) AS BIGINT) rn
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 5) t
        |WHERE rn <= 3 ORDER BY q, rn""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val (indexed, centroids) = Similarity.ivfIndex(emb, "vec_id", "embedding",
        nlist = 16)
      Similarity.ivfTopK(indexed, centroids,
        emb.filter(col("vec_id") < 5).select("vec_id"), k = 3, nprobe = 16)
        .withColumn("sim", round(col("sim"), 6))
        .withColumn("rn", col("rn").cast("bigint"))
        .orderBy("q", "rn")
    },

    // Deterministic train/val/test split: the assignment is a pure
    // projection on an MD5 bucket, so DuckDB recomputes the IDENTICAL
    // per-document assignment — the oracle checks the split logic itself,
    // not just aggregate proportions.
    dfQ("q82_hash_split",
      """SELECT split, COUNT(*) n, MIN(doc_id) min_id FROM (
        |  SELECT doc_id,
        |         CASE WHEN b < 8000 THEN 'train'
        |              WHEN b < 9000 THEN 'val' ELSE 'test' END split
        |  FROM (SELECT doc_id,
        |          CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 b
        |        FROM documents) h) t
        |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      graft.ops.Sampling.hashSplit(
          Tables.table(s, d, "documents").select("doc_id"), "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
        .orderBy("split")
    },

    // Duplicate CLUSTERS, not pairs: connected components of the exact
    // n-gram Jaccard graph (the q61 edge set) via alternating
    // large-star/small-star — O(log² n) shuffle rounds independent of
    // component diameter. The oracle recomputes components with a
    // recursive transitive-closure CTE (fine at fixture scale; the Spark
    // side is the one that has to survive 100 TB).
    dfQ("q83_dup_components",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents WHERE doc_id < 500),
        |sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) AS s
        |  FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |edges AS (
        |  SELECT da u, db v
        |  FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |  WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6),
        |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        |reach(n, r) AS (
        |  SELECT u, u FROM sym
        |  UNION
        |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.n)
        |SELECT n AS node, MIN(r) AS component FROM reach
        |GROUP BY n ORDER BY node""".stripMargin) { (s, d) =>
      Tables.register(s, d)
      graft.functions.Registry.registerAll(s)
      val edges = s.sql(
        """WITH sh AS (
          |  SELECT DISTINCT doc_id, shingle AS s
          |  FROM (SELECT doc_id, shingles(text, 3) FROM documents WHERE doc_id < 500)),
          |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT da, db
          |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
          |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6""".stripMargin)
      graft.ops.Components.connectedComponents(edges, "da", "db")
        .orderBy("node")
    },

    // END-TO-END curation pipeline, hash-checked as ONE query: linear
    // classifier gate (raw-sum ≥ 0 ⟺ score ≥ 0.5 — exact, dyadic
    // weights) → registered-domain blocklist → near-dup canonical
    // selection (q83 edge set over the SURVIVORS, best-text-length per
    // component) → per-domain cap by MD5 order. The oracle replays every
    // stage: join-agg classifier, regex domains, recursive transitive
    // closure, the same two window rules. This is the "would a user get
    // the same corpus?" check for the whole curation stack composed.
    dfQ("q142_curation_pipeline",
      """WITH RECURSIVE
        |w(token, weight) AS (VALUES
        |    ('fast',0.75),('slow',-1.25),('big',0.5),('small',-0.5),
        |    ('spark',1.0),('dup',-2.0),('scan',0.25),('merge',-0.25),
        |    ('the',0.125),('data',0.375)),
        |base AS (SELECT doc_id, source, text FROM documents
        |         WHERE doc_id < 500),
        |tkn AS (SELECT doc_id,
        |          UNNEST(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+')) tok
        |        FROM base),
        |sw AS (SELECT t.doc_id, SUM(w.weight) s
        |       FROM tkn t JOIN w ON w.token = t.tok GROUP BY t.doc_id),
        |scored AS (
        |  SELECT b.doc_id, b.source, b.text,
        |         1/(1+EXP(-(-0.5 + COALESCE(sw.s, 0)))) score
        |  FROM base b LEFT JOIN sw ON sw.doc_id = b.doc_id),
        |gated AS (SELECT * FROM scored WHERE score >= 0.5),
        |kept AS (
        |  SELECT *, CONCAT(source, '-', CAST(doc_id % 3 AS VARCHAR),
        |                   '.org') dom
        |  FROM gated
        |  WHERE CONCAT(source, '-', CAST(doc_id % 3 AS VARCHAR), '.org')
        |        NOT IN ('src0-0.org', 'src5-1.org')),
        |toks AS (SELECT doc_id, STRING_SPLIT(text,' ') ws FROM kept),
        |sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) s
        |  FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |edges AS (
        |  SELECT da u, db v
        |  FROM inter JOIN cnt ca ON ca.doc_id = da
        |             JOIN cnt cb ON cb.doc_id = db
        |  WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6),
        |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        |reach(n, r) AS (
        |  SELECT u, u FROM sym
        |  UNION
        |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.n),
        |comp AS (SELECT n AS node, MIN(r) AS component FROM reach
        |         GROUP BY n),
        |asg AS (
        |  SELECT k.doc_id, COALESCE(c.component, k.doc_id) component,
        |         LENGTH(k.text) q, k.score, k.dom
        |  FROM kept k LEFT JOIN comp c ON c.node = k.doc_id),
        |canon AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY component
        |      ORDER BY q DESC, doc_id) rn FROM asg) t0 WHERE rn = 1),
        |capped AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY dom
        |      ORDER BY CAST(CONCAT('0x', SUBSTRING(MD5(
        |          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        % 1073741824, doc_id) rk
        |    FROM canon) t1 WHERE rk <= 3)
        |SELECT doc_id, component,
        |       CAST(ROUND(score, 4) AS DOUBLE) score,
        |       CAST(q AS BIGINT) qscore
        |FROM capped ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.register(s, d)
      graft.functions.Registry.registerAll(s)
      val weights = Map("fast" -> 0.75, "slow" -> -1.25, "big" -> 0.5,
        "small" -> -0.5, "spark" -> 1.0, "dup" -> -2.0, "scan" -> 0.25,
        "merge" -> -0.25, "the" -> 0.125, "data" -> 0.375)
      val docs = Tables.table(s, d, "documents").filter(col("doc_id") < 500)
      val gated = graft.ops.Classifier
        .scoreWithMap(docs, "text", weights, bias = -0.5)
        .filter(col("score") >= 0.5)
        .withColumn("url", concat(lit("https://blog."), col("source"),
          lit("-"), (col("doc_id") % 3).cast("string"), lit(".org/post/"),
          col("doc_id").cast("string")))
      import s.implicits._
      // `kept` feeds three subtrees (shingle-edge SQL via the view, the
      // canonical join, and through it the cap); without a cache the
      // classifier explode + anti-join recompute per subtree.
      val kept = graft.ops.UrlCuration.dropBlockedDomains(gated, "url",
        Seq("src0-0.org", "src5-1.org").toDF("domain")).transform(Cut.rows)
      kept.createOrReplaceTempView("curation_kept")
      val edges = s.sql(
        """WITH sh AS (
          |  SELECT DISTINCT doc_id, shingle AS s
          |  FROM (SELECT doc_id, shingles(text, 3) FROM curation_kept)),
          |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT da, db
          |FROM inter JOIN cnt ca ON ca.doc_id = da
          |           JOIN cnt cb ON cb.doc_id = db
          |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6""".stripMargin)
      val comp = graft.ops.Components.connectedComponents(edges, "da", "db")
      val canon = graft.ops.Dedup.canonicalByQuality(
        kept.withColumn("qscore", length(col("text")).cast("long")),
        "doc_id", comp, "qscore")
      graft.ops.UrlCuration.capPerDomain(canon, "url", "doc_id", cap = 3)
        .select(col("doc_id"), col("component"),
          round(col("score"), 4).cast("double").as("score"),
          col("qscore"))
        .orderBy("doc_id")
    },

    // Recursive CTE (WITH RECURSIVE landed in Spark 4 as UnionLoop):
    // hierarchy traversal — nation keys arranged as an implicit binary
    // tree (children of k are 2k+1, 2k+2), walked from the root with
    // depth and materialized path. Same construct in DuckDB; only the
    // string-cast spelling differs.
    sqlQ("q141_recursive_cte",
      """WITH RECURSIVE h(node, depth, path) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), 0,
        |         CAST(n_nationkey AS STRING)
        |  FROM nation WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT CAST(n.n_nationkey AS BIGINT), h.depth + 1,
        |         CONCAT(h.path, '.', CAST(n.n_nationkey AS STRING))
        |  FROM nation n JOIN h ON n.n_nationkey = h.node * 2 + 1
        |                       OR n.n_nationkey = h.node * 2 + 2)
        |SELECT node, CAST(depth AS BIGINT) depth, path FROM h
        |ORDER BY node""".stripMargin,
      """WITH RECURSIVE h(node, depth, path) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), 0,
        |         CAST(n_nationkey AS VARCHAR)
        |  FROM nation WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT CAST(n.n_nationkey AS BIGINT), h.depth + 1,
        |         CONCAT(h.path, '.', CAST(n.n_nationkey AS VARCHAR))
        |  FROM nation n JOIN h ON n.n_nationkey = h.node * 2 + 1
        |                       OR n.n_nationkey = h.node * 2 + 2)
        |SELECT node, CAST(depth AS BIGINT) depth, path FROM h
        |ORDER BY node""".stripMargin),

    // Bitwise/boolean aggregate breadth: BIT_AND/BIT_OR/BIT_XOR and
    // BOOL_AND/BOOL_OR group aggregates plus interpolating MEDIAN —
    // identical names and semantics in both engines (results fixed-width
    // cast; median rounded like the other order statistics).
    sameQ("q140_bit_bool_aggs",
      """SELECT l_linenumber,
        |  CAST(BIT_AND(l_orderkey) AS BIGINT) b_and,
        |  CAST(BIT_OR(l_orderkey) AS BIGINT) b_or,
        |  CAST(BIT_XOR(l_orderkey) AS BIGINT) b_xor,
        |  BOOL_AND(l_quantity > 1) all_multi,
        |  BOOL_OR(l_discount > 0.09) any_deep_disc,
        |  CAST(ROUND(MEDIAN(l_extendedprice), 2) AS DOUBLE) med_price
        |FROM lineitem GROUP BY l_linenumber
        |ORDER BY l_linenumber""".stripMargin),

    // Regression-aggregate breadth (A7 family completion): the SQL:2003
    // linear-fit aggregates — identical function names and definitions
    // in both engines; results rounded like the other moment-based
    // stats (q28's convention).
    sameQ("q139_regr_aggs",
      """SELECT l_linenumber,
        |  CAST(COUNT(*) AS BIGINT) n,
        |  ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) slope,
        |  ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) icept,
        |  ROUND(REGR_R2(l_extendedprice, l_quantity), 4) r2,
        |  ROUND(REGR_AVGX(l_extendedprice, l_quantity), 4) ax,
        |  ROUND(REGR_AVGY(l_extendedprice, l_quantity), 2) ay
        |FROM lineitem GROUP BY l_linenumber
        |ORDER BY l_linenumber""".stripMargin),

    // Linear quality classifier (ops/Classifier — the fasttext-style
    // filtering stage of modern pretraining pipelines): a fixed
    // bag-of-words weight vector scores every document as
    // sigmoid(bias + Σ weight(token)) with term-frequency weighting.
    // Spark runs the ZERO-shuffle map-literal projection; the oracle is
    // the independent explode + join + re-aggregate formulation. All
    // weights are dyadic so the raw sums are exact in double — only the
    // sigmoid needs rounding.
    dfQ("q138_linear_classifier",
      """WITH w(token, weight) AS (VALUES
        |    ('fast',0.75),('slow',-1.25),('big',0.5),('small',-0.5),
        |    ('spark',1.0),('dup',-2.0),('scan',0.25),('merge',-0.25),
        |    ('the',0.125),('data',0.375)),
        |t AS (SELECT doc_id,
        |        UNNEST(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+')) tok
        |      FROM documents),
        |s AS (SELECT t.doc_id, SUM(w.weight) sw
        |      FROM t JOIN w ON w.token = t.tok GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  CAST(ROUND(1/(1+EXP(-(-0.5 + COALESCE(s.sw, 0)))), 4) AS DOUBLE)
        |    score,
        |  (1/(1+EXP(-(-0.5 + COALESCE(s.sw, 0)))) >= 0.5) kept
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val weights = Map("fast" -> 0.75, "slow" -> -1.25, "big" -> 0.5,
        "small" -> -0.5, "spark" -> 1.0, "dup" -> -2.0, "scan" -> 0.25,
        "merge" -> -0.25, "the" -> 0.125, "data" -> 0.375)
      graft.ops.Classifier.scoreWithMap(
          Tables.table(s, d, "documents"), "text", weights, bias = -0.5)
        .select(col("doc_id"),
          round(col("score"), 4).cast("double").as("score"),
          (col("score") >= 0.5).as("kept"))
        .orderBy("doc_id")
    },

    // Canonical-document selection (Dedup.canonicalByQuality): the q83
    // component set resolved to ONE kept doc per near-dup cluster — the
    // longest text wins, ties to the lowest id — plus every
    // out-of-cluster doc as its own canonical. The oracle replays the
    // transitive closure recursively, then picks survivors with the
    // same window rule.
    dfQ("q137_canonical_select",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents WHERE doc_id < 500),
        |sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) AS s
        |  FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |edges AS (
        |  SELECT da u, db v
        |  FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |  WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6),
        |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        |reach(n, r) AS (
        |  SELECT u, u FROM sym
        |  UNION
        |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.n),
        |comp AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n),
        |asg AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) component,
        |         LENGTH(d.text) score
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |  WHERE d.doc_id < 500),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY component
        |    ORDER BY score DESC, doc_id) rn FROM asg)
        |SELECT doc_id, component, CAST(score AS BIGINT) score
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.register(s, d)
      graft.functions.Registry.registerAll(s)
      val edges = s.sql(
        """WITH sh AS (
          |  SELECT DISTINCT doc_id, shingle AS s
          |  FROM (SELECT doc_id, shingles(text, 3) FROM documents WHERE doc_id < 500)),
          |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT da, db
          |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
          |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6""".stripMargin)
      val comp = graft.ops.Components.connectedComponents(edges, "da", "db")
      val docs = Tables.table(s, d, "documents").filter(col("doc_id") < 500)
        .withColumn("score", length(col("text")).cast("long"))
      graft.ops.Dedup.canonicalByQuality(docs, "doc_id", comp, "score")
        .select("doc_id", "component", "score").orderBy("doc_id")
    },

    // Gap-based sessionization (30-minute inactivity breaks the session):
    // both engines express the identical lag + cumulative-boundary-sum
    // plan; one shuffle on the user key.
    dfQ("q84_sessionize",
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
        |  FROM events WHERE user_id < 50),
        |s AS (
        |  SELECT *, CAST(SUM(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 1800 SECOND
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) session_seq
        |  FROM o)
        |SELECT user_id, session_seq, COUNT(*) n,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') start_s,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') end_s,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) sum_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin) { (s, d) =>
      // The per-session value sum goes through an exact DECIMAL accumulator
      // on both engines: double addition is order-sensitive at the last ulp,
      // so a shuffle-order change could flip ROUND at a .xx5 boundary.
      graft.ops.Sessionize.sessionStats(
          Tables.table(s, d, "events").filter(col("user_id") < 50)
            .withColumn("value", col("value").cast("decimal(18,4)")),
          "user_id", "ts", "event_id", gapSeconds = 1800, valueCol = "value")
        .select(col("user_id"), col("session_seq"), col("n"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("start_s"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("end_s"),
          round(col("sum_value"), 2).cast("double").as("sum_value"))
        .orderBy("user_id", "session_seq")
    },

    // TPC-H Q13 shape: outer join with a join-side filter, per-customer
    // order counts, then the count-of-counts distribution. The
    // LEFT-JOIN-then-double-GROUP-BY is the canonical "distribution of
    // activity" plan: both aggregations shuffle on their own key, the
    // second one tiny.
    sameQ("q85_custdist",
      """SELECT c_count, COUNT(*) custdist FROM (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q14 shape: conditional-aggregate share over a fact-dim join
    // restricted to one month — the filter prunes at the parquet scan and
    // the part side broadcasts.
    sameQ("q86_promo_share",
      """SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
        |    THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
        |  / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1996-04-01'""".stripMargin),

    // TPC-H Q15 shape: aggregate view + scalar-subquery MAX selection.
    // Revenue is rounded BEFORE the max comparison so cross-engine
    // float-summation order cannot flip the winner.
    sameQ("q87_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin),

    // TPC-H Q17 shape: per-part correlated scalar AVG subquery gating the
    // fact rows — Catalyst decorrelates it into an aggregate + join, the
    // plan that survives scale (never a per-row subquery execution).
    sameQ("q88_small_qty_revenue",
      """SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1'
        |  AND l.l_quantity < (
        |    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin),

    // TPC-H Q9 shape: five-way snowflake join with a LIKE filter on the
    // part dim, grouped by nation and order year. Dims broadcast; the
    // fact shuffles once for the aggregation.
    sameQ("q89_profit_by_nation",
      """SELECT n.n_name AS nation,
        |       CAST(YEAR(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // int8 embedding quantization: the oracle recomputes the identical
    // integer codes (float→double cast, IEEE division, floor — all
    // bit-reproducible cross-engine; that is why the quantizer is defined
    // with floor(x/s + 0.5) instead of an engine round()), so the check
    // covers the per-element quantization itself via integer aggregates.
    dfQ("q90_quantize_int8",
      """SELECT vec_id,
        |  CAST(list_sum(qv) AS BIGINT) q_sum,
        |  CAST(list_min(qv) AS BIGINT) q_min,
        |  CAST(list_max(qv) AS BIGINT) q_max
        |FROM (
        |  SELECT vec_id,
        |    CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding, x ->
        |           GREATEST(-127, LEAST(127,
        |             CAST(FLOOR(CAST(x AS DOUBLE) / sc + 0.5) AS BIGINT)))) END qv
        |  FROM (
        |    SELECT vec_id, embedding,
        |      list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0 sc
        |    FROM embeddings) t) u
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      graft.ops.Quantize.quantizeInt8(
          Tables.table(s, d, "embeddings"), "embedding")
        .select(col("vec_id"),
          aggregate(col("q_vec"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
          array_min(col("q_vec")).cast("bigint").as("q_min"),
          array_max(col("q_vec")).cast("bigint").as("q_max"))
        .orderBy("vec_id")
    },

    // PII redaction end-to-end: the fixture text carries no PII, so the
    // query deterministically INJECTS one email/phone/IP/SSN per doc and
    // the oracle replays the identical injection + the identical ordered
    // redaction chain (RE2/Java-regex common-subset patterns; DuckDB needs
    // the 'g' flag for replace-all parity). The hash of the redacted text
    // checks the actual span boundaries, not just the counts.
    dfQ("q91_redact_pii",
      """WITH inj AS (
        |  SELECT doc_id,
        |    CONCAT(text, ' contact user', doc_id, '@example.com ip 10.0.',
        |           doc_id % 256, '.7 call +1-555-123-4567 ssn 123-45-6789') t
        |  FROM documents),
        |r1 AS (SELECT doc_id, t,
        |  REGEXP_REPLACE(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g') u FROM inj),
        |r2 AS (SELECT doc_id, t, u,
        |  REGEXP_REPLACE(u, '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?', '[PII]', 'g') v FROM r1),
        |r3 AS (SELECT doc_id, t, u, v,
        |  REGEXP_REPLACE(v, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[PII]', 'g') w FROM r2),
        |r4 AS (SELECT doc_id, t, u, v, w,
        |  REGEXP_REPLACE(w, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[PII]', 'g') x FROM r3)
        |SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + LEN(REGEXP_EXTRACT_ALL(u, '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?'))
        |     + LEN(REGEXP_EXTRACT_ALL(v, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |     + LEN(REGEXP_EXTRACT_ALL(w, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) n_redactions,
        |  SHA256(x) redacted_sha
        |FROM r4 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val injected = Tables.table(s, d, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com ip 10.0."),
          col("doc_id") % 256, lit(".7 call +1-555-123-4567 ssn 123-45-6789"))
          .as("t"))
      graft.ops.TextAnalysis.redactPii(injected, "doc_id", "t")
        .select(col("doc_id"), col("n_redactions"),
          sha2(col("text_redacted"), 256).as("redacted_sha"))
        .orderBy("doc_id")
    },

    // Intra-document repetition (Gopher-style quality signal): duplicate
    // n-gram occurrence fraction + top-gram share, from one shingle
    // explode and a per-doc aggregation.
    dfQ("q92_repetition",
      """WITH toks AS (SELECT doc_id, STRING_SPLIT(text,' ') ws FROM documents),
        |grams AS (SELECT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) s
        |          FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, s, COUNT(*) c FROM grams GROUP BY doc_id, s)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) n_grams,
        |  ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) dup_frac,
        |  ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) top_gram_share
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.repetitionScore(
          Tables.table(s, d, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // Benchmark decontamination: fraction of each training doc's distinct
    // 5-grams appearing anywhere in the "eval set" (a disjoint fixture
    // slice). Shuffle is by n-gram; the bench side broadcasts under AQE.
    dfQ("q93_contamination",
      """WITH dt AS (SELECT doc_id, STRING_SPLIT(text,' ') ws FROM documents WHERE doc_id < 200),
        |d AS (SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2],' ',ws[i+3],' ',ws[i+4]) s
        |      FROM dt CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(ws)-3, 1))) t(i)),
        |bt AS (SELECT doc_id, STRING_SPLIT(text,' ') ws FROM documents WHERE doc_id >= 400),
        |b AS (SELECT DISTINCT CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2],' ',ws[i+3],' ',ws[i+4]) s
        |      FROM bt CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(ws)-3, 1))) t(i)),
        |hits AS (SELECT d.doc_id, COUNT(*) hit FROM d JOIN b ON d.s = b.s GROUP BY d.doc_id),
        |tot AS (SELECT doc_id, COUNT(*) total FROM d GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.total AS BIGINT) n_shingles,
        |  CAST(COALESCE(hits.hit, 0) AS BIGINT) n_contaminated,
        |  ROUND(COALESCE(hits.hit, 0) / CAST(tot.total AS DOUBLE), 6) contamination
        |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
        |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      graft.ops.TextAnalysis.contaminationScore(
          docs.filter(col("doc_id") < 200),
          docs.filter(col("doc_id") >= 400), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },

    // Sequence packing: cut the doc_id-ordered BPE-token stream into
    // 512-token context windows. The engine side computes the global
    // offset with a distributed prefix sum (range partition + broadcast
    // partition bases — NO single-task global window); the oracle is the
    // direct single-window formulation, so the check also proves the
    // distributed prefix sum equals the sequential one.
    dfQ("q94_context_pack",
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) toks
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, toks,
        |    CAST(SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - toks
        |         AS BIGINT) AS off
        |  FROM t)
        |SELECT doc_id, toks, off AS token_offset,
        |  off // 512 AS pack_first,
        |  GREATEST(off // 512, (off + toks - 1) // 512) AS pack_last,
        |  GREATEST(off // 512, (off + toks - 1) // 512) - off // 512 AS n_cuts
        |FROM o ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = graft.ops.TextAnalysis.tokenCounts(
          Tables.table(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("bpe_tokens").as("toks"))
      graft.ops.Packing.contextPack(toks, "doc_id", "toks", budget = 512L)
        .select("doc_id", "toks", "token_offset", "pack_first", "pack_last",
          "n_cuts")
        .orderBy("doc_id")
    },

    // Upsert landing semantics (MERGE INTO on plain parquet): updated
    // keys replaced, unknown keys inserted. The oracle is the direct
    // NOT-IN + UNION formulation.
    dfQ("q95_upsert",
      """WITH target AS (
        |  SELECT c_custkey k, c_mktsegment seg, ROUND(c_acctbal, 2) bal,
        |         CAST(1 AS BIGINT) ver FROM customer),
        |upd AS (
        |  SELECT c_custkey k, c_mktsegment seg, ROUND(c_acctbal + 1000, 2) bal,
        |         CAST(2 AS BIGINT) ver FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEW', 0.0, CAST(2 AS BIGINT)
        |  FROM customer WHERE c_custkey < 5)
        |SELECT k, seg, bal, ver FROM (
        |  SELECT * FROM target WHERE k NOT IN (SELECT k FROM upd)
        |  UNION ALL SELECT * FROM upd) m
        |ORDER BY k""".stripMargin) { (s, d) =>
      val c = Tables.table(s, d, "customer")
      val target = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), round(col("c_acctbal"), 2).as("bal"),
        lit(1L).as("ver"))
      val upd = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal") + 1000, 2).as("bal"), lit(2L).as("ver"))
        .unionByName(c.filter(col("c_custkey") < 5)
          .select((col("c_custkey") + 1000000).as("k"), lit("NEW").as("seg"),
            lit(0.0).as("bal"), lit(2L).as("ver")))
      graft.ops.Merge.upsert(target, upd, "k", "ver").orderBy("k")
    },

    // SCD Type-2 apply over the customer dimension: every fifth key moves
    // segment (close the open row at ts 100, open a new one), every
    // eleventh key gets an identical update (must be a no-op — the
    // idempotent-reload property).
    dfQ("q96_scd2",
      """WITH cur AS (
        |  SELECT c_custkey k, c_mktsegment seg, CAST(0 AS BIGINT) valid_from,
        |         CAST(NULL AS BIGINT) valid_to FROM customer),
        |changed AS (
        |  SELECT c.k FROM cur c WHERE c.k % 5 = 0 AND c.seg <> 'MOVED')
        |SELECT k, seg, valid_from, valid_to FROM (
        |  SELECT c.k, c.seg, c.valid_from, c.valid_to FROM cur c
        |  WHERE c.k NOT IN (SELECT k FROM changed)
        |  UNION ALL
        |  SELECT c.k, c.seg, c.valid_from, CAST(100 AS BIGINT)
        |  FROM cur c JOIN changed ch ON c.k = ch.k
        |  UNION ALL
        |  SELECT ch.k, 'MOVED', CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM changed ch) m
        |ORDER BY k, valid_from""".stripMargin) { (s, d) =>
      val c = Tables.table(s, d, "customer")
      val current = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), lit(0L).as("valid_from"),
        lit(null).cast("bigint").as("valid_to"))
      val updates = c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("k"), lit("MOVED").as("seg"),
          lit(100L).as("ts"))
        .unionByName(c.filter(col("c_custkey") % 11 === 0
            && col("c_custkey") % 5 =!= 0)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            lit(100L).as("ts")))
      graft.ops.Merge.scd2Apply(current, updates, "k", "ts", Seq("seg"))
        .orderBy("k", "valid_from")
    },

    // Mixture sampling: per-language keep rates on the documents table,
    // MD5-bucket rule — the oracle recomputes the per-row decision, so
    // the mixture is verified row-by-row, not by proportions.
    dfQ("q97_mixture_sample",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 b
        |  FROM documents) t
        |WHERE b < (CASE lang WHEN 'en' THEN 10000.0 WHEN 'de' THEN 5000.0
        |                     WHEN 'fr' THEN 2500.0 ELSE 0.0 END)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Sampling.mixtureSample(
          Tables.table(s, d, "documents"), "lang", "doc_id",
          Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25))
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Per-language diversity cap: at most 40 docs per language, kept by
    // smallest MD5 bucket (stable pseudo-random survivors). The oracle
    // replays the identical window rule.
    dfQ("q98_group_cap",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1073741824, doc_id) rk
        |  FROM documents) t
        |WHERE rk <= 40 ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Sampling.groupCap(
          Tables.table(s, d, "documents"), "lang", "doc_id", cap = 40)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Single-pass column profiler (count/nulls/exact-distinct/min/max per
    // column from ONE aggregation over one scan). Oracle restricted to
    // integer/string columns, where the min/max string casts are
    // lexically identical across engines.
    dfQ("q99_profile",
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS "column", COUNT(*) n_rows,
        |    COUNT(*) - COUNT(o_orderkey) n_nulls,
        |    COUNT(DISTINCT o_orderkey) n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) min_s, CAST(MAX(o_orderkey) AS VARCHAR) max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
        |  FROM orders) t
        |ORDER BY "column"""".stripMargin) { (s, d) =>
      graft.ops.Quality.profile(Tables.table(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority"))
        .orderBy("column")
    },

    // Declarative expectations (the per-batch validation an ETL framework
    // runs): violations are INJECTED deterministically — three rows with
    // a NULL FK + bad status + duplicated key, two rows with an orphan
    // FK — and the oracle recomputes every violation count.
    dfQ("q100_expectations",
      """WITH top3 AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 3),
        |top2 AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 2),
        |t AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS BIGINT), 'X' FROM top3
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, CAST(-12345 AS BIGINT), o_orderstatus FROM top2)
        |SELECT * FROM (
        |  SELECT 'accepted_values(o_orderstatus)' expectation,
        |    CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F','O','P') THEN 1 END) AS BIGINT) violations
        |  FROM t
        |  UNION ALL
        |  SELECT 'not_null(o_custkey)',
        |    CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) FROM t
        |  UNION ALL
        |  SELECT 'ref_integrity(o_custkey)',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM t
        |     LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |       ON t.o_custkey = c.c_custkey
        |     WHERE t.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM (
        |       SELECT o_orderkey, COUNT(*) n FROM t GROUP BY o_orderkey
        |       HAVING COUNT(*) > 1) d)) v
        |ORDER BY expectation""".stripMargin) { (s, d) =>
      import graft.ops.Quality._
      val o = Tables.table(s, d, "orders")
      val top3 = o.orderBy("o_orderkey").limit(3)
      val top2 = o.orderBy("o_orderkey").limit(2)
      val target = o.select("o_orderkey", "o_custkey", "o_orderstatus")
        .unionByName(top3.select(col("o_orderkey"),
          lit(null).cast("bigint").as("o_custkey"),
          lit("X").as("o_orderstatus")))
        .unionByName(top2.select((col("o_orderkey") + 5000000).as("o_orderkey"),
          lit(-12345L).as("o_custkey"), col("o_orderstatus")))
      expect(target, Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        RefIntegrity("o_custkey", Tables.table(s, d, "customer"), "c_custkey")))
        .orderBy("expectation")
    },

    // Snapshot diff (CDC between table versions): deletions, updates,
    // and inserts injected deterministically; the oracle is the direct
    // full-outer-join formulation with IS DISTINCT FROM.
    dfQ("q101_snapshot_diff",
      """WITH old AS (SELECT c_custkey k, c_mktsegment seg FROM customer),
        |new AS (
        |  SELECT c_custkey k,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END seg
        |  FROM customer WHERE c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 9000000, 'FRESH' FROM customer WHERE c_custkey < 5)
        |SELECT k, change_type, old_seg, new_seg FROM (
        |  SELECT COALESCE(o.k, n.k) k,
        |    CASE WHEN o.k IS NULL THEN 'insert'
        |         WHEN n.k IS NULL THEN 'delete'
        |         WHEN o.seg IS DISTINCT FROM n.seg THEN 'update' END change_type,
        |    o.seg old_seg, n.seg new_seg
        |  FROM old o FULL OUTER JOIN new n ON o.k = n.k) t
        |WHERE change_type IS NOT NULL ORDER BY k""".stripMargin) { (s, d) =>
      val c = Tables.table(s, d, "customer")
      val oldDf = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"))
      val newDf = c.filter(col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 7 === 0, lit("CHANGED"))
            .otherwise(col("c_mktsegment")).as("seg"))
        .unionByName(c.filter(col("c_custkey") < 5)
          .select((col("c_custkey") + 9000000).as("k"), lit("FRESH").as("seg")))
      graft.ops.Merge.snapshotDiff(oldDf, newDf, "k", Seq("seg"))
        .orderBy("k")
    },

    // Deterministic weight-proportional sampling (Efraimidis–Spirakis
    // priorities on the MD5-derived uniform): longer documents win more
    // often; the oracle recomputes the identical priorities and top-k.
    dfQ("q102_weighted_sample",
      """WITH w AS (
        |  SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) wt,
        |    (CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |       % 1048576 + 1) / 1048576.0 u
        |  FROM documents)
        |SELECT doc_id FROM (
        |  SELECT doc_id, (FLOOR(LN(u) * 67108864.0) / 67108864.0) / wt AS p FROM w
        |  ORDER BY p DESC, doc_id LIMIT 50) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
        .withColumn("wt", length(col("text")).cast("double"))
      graft.ops.Sampling.weightedSample(docs, "doc_id", "wt", k = 50)
        .select("doc_id").orderBy("doc_id")
    },

    // Canonical text normalization (the stage exact dedup depends on):
    // messy whitespace/control chars injected deterministically, the
    // oracle replays the identical normalization chain and hashes the
    // canonical form — byte-for-byte cross-engine.
    dfQ("q103_normalize",
      """SELECT doc_id,
        |  SHA256(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
        |    LOWER(CONCAT(text, CHR(9), 'MIXED  Case', CHR(10), '  tail  ')),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g'))) norm_sha,
        |  CAST(LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
        |    LOWER(CONCAT(text, CHR(9), 'MIXED  Case', CHR(10), '  tail  ')),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g'))) AS BIGINT) norm_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val messy = Tables.table(s, d, "documents")
        .withColumn("t", concat(col("text"), lit("\tMIXED  Case\n  tail  ")))
      graft.ops.TextAnalysis.normalizeDocs(messy, "doc_id", "t")
        .select(col("doc_id"), sha2(col("text_norm"), 256).as("norm_sha"),
          length(col("text_norm")).cast("bigint").as("norm_len"))
        .orderBy("doc_id")
    },

    // TPC-H Q6 shape: the forecast-revenue filter aggregate — every
    // predicate reaches the parquet scan (PushedFilters), one partial+
    // final aggregation, no shuffle of data rows.
    sameQ("q104_forecast_revenue",
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q8 shape: eight-way snowflake (part, lineitem, supplier,
    // orders, customer, nation x2, region) with a conditional market
    // share per year. All dims broadcast; the fact shuffles once.
    sameQ("q105_market_share",
      """SELECT o_year,
        |  ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
        |        / SUM(volume), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(YEAR(CAST(o.o_orderdate AS DATE)) AS BIGINT) o_year,
        |         l.l_extendedprice * (1 - l.l_discount) volume,
        |         n2.n_name nation
        |  FROM part p
        |  JOIN lineitem l ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n1.n_regionkey
        |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // RAG chunking: overlapping 256-char windows every 192 chars, with
    // provenance offsets. Pure generator + substring projection — the
    // oracle re-derives the identical windows, so the chunk-count
    // formula, offsets, and boundary behavior are all hash-checked.
    dfQ("q106_char_chunks",
      """WITH t AS (
        |  SELECT doc_id, text, LENGTH(text) len FROM documents),
        |n AS (
        |  SELECT doc_id, text, len,
        |         GREATEST(1, (len - 64 + 191) // 192) nc FROM t),
        |c AS (
        |  SELECT doc_id, text, len, UNNEST(RANGE(0, nc)) ci FROM n)
        |SELECT doc_id, CAST(ci AS BIGINT) chunk_seq,
        |  CAST(ci * 192 AS BIGINT) chunk_start,
        |  CAST(LEAST(256, len - ci * 192) AS BIGINT) chunk_len,
        |  SUBSTRING(text, CAST(ci * 192 + 1 AS INT), 256) chunk_text
        |FROM c ORDER BY doc_id, chunk_seq""".stripMargin) { (s, d) =>
      graft.ops.Chunking.charChunks(
          Tables.table(s, d, "documents"), "doc_id", "text",
          size = 256, overlap = 64)
        .orderBy("doc_id", "chunk_seq")
    },

    // DSIR importance weights: score every document against the German
    // subcorpus as the target domain. The oracle recomputes the full
    // smoothed log-likelihood-ratio pipeline (two vocab counts, joint
    // smoothing, per-occurrence sum), so the weights themselves are
    // hash-checked, not just the plumbing.
    dfQ("q107_importance",
      """WITH swf AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) w
        |        FROM documents) WHERE w <> ''),
        |twf AS (
        |  SELECT w
        |  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) w
        |        FROM documents WHERE lang = 'de') WHERE w <> ''),
        |sv AS (SELECT w, COUNT(*) cs FROM swf GROUP BY w),
        |tv AS (SELECT w, COUNT(*) ct FROM twf GROUP BY w),
        |voc AS (
        |  SELECT COALESCE(sv.w, tv.w) w, COALESCE(cs, 0) cs, COALESCE(ct, 0) ct
        |  FROM sv FULL OUTER JOIN tv ON sv.w = tv.w),
        |tot AS (SELECT CAST(SUM(cs) AS BIGINT) ts, CAST(SUM(ct) AS BIGINT) tt,
        |               COUNT(*) v FROM voc),
        |wt AS (SELECT w,
        |    FLOOR(LN((ct + 1.0) / (tt + v)) * 67108864.0) / 67108864.0
        |    - FLOOR(LN((cs + 1.0) / (ts + v)) * 67108864.0) / 67108864.0 AS wt
        |       FROM voc CROSS JOIN tot)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) n_tokens,
        |       ROUND(SUM(wt.wt), 6) score
        |FROM swf s JOIN wt ON s.w = wt.w
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      graft.ops.Importance.importanceWeights(
          docs, docs.filter(col("lang") === "de"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    },

    // Schema conformance: the landing-zone stage that coerces a drifting
    // input schema onto the contract DDL — casts, typed NULLs for
    // missing columns, extras dropped. The operator still casts to
    // DECIMAL(12,2)/SMALLINT internally; the driver-facing projection
    // canonicalizes those two to STRING/INT because the driver's typed
    // hasher distinguishes decimal/int16 physical encodings between the
    // engines (round-2 q49 and round-4 q113 both tripped on this) —
    // the cast semantics stay fully hash-checked through the canonical
    // forms ("17.00" proves scale-2 decimal; the INT value proves the
    // SMALLINT narrowing happened without overflow).
    dfQ("q113_schema_conform",
      """SELECT CAST(l_orderkey AS INT) l_orderkey,
        |       CAST(CAST(l_linenumber AS SMALLINT) AS INTEGER) l_linenumber,
        |       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) l_quantity,
        |       CAST(l_shipdate AS DATE) l_shipdate,
        |       CAST(NULL AS VARCHAR) l_ghost
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin) { (s, d) =>
      graft.ops.Schema.conform(
          Tables.table(s, d, "lineitem").filter(col("l_orderkey") < 100),
          "l_orderkey INT, l_linenumber SMALLINT, " +
            "l_quantity DECIMAL(12,2), l_shipdate DATE, l_ghost STRING")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_quantity").cast("string").as("l_quantity"),
          col("l_shipdate"), col("l_ghost"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    },

    // Struct flattening: nested → parent_child leaf columns, a pure
    // projection. The Spark side BUILDS the nested struct then flattens
    // it; the oracle selects the leaves directly — equality proves the
    // flattener's naming and field routing.
    dfQ("q114_flatten",
      """SELECT l_orderkey, l_linenumber,
        |       l_quantity meta_qty,
        |       l_tax meta_rates_tax,
        |       l_discount meta_rates_disc
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber, meta_qty, meta_rates_tax,
        |  meta_rates_disc""".stripMargin) { (s, d) =>
      val nested = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          struct(col("l_quantity").as("qty"),
            struct(col("l_tax").as("tax"),
              col("l_discount").as("disc")).as("rates")).as("meta"))
      graft.ops.Schema.flatten(nested)
        .orderBy("l_orderkey", "l_linenumber", "meta_qty",
          "meta_rates_tax", "meta_rates_disc")
    },

    // Bigram-LM quality gate (CCNet shape): every document scored by its
    // mean bigram log-likelihood under an add-one-smoothed LM trained on
    // the German subcorpus. The oracle rebuilds the LM and the smoothed
    // probabilities from scratch, so counts, smoothing, OOV handling,
    // and the per-doc average are all hash-checked.
    dfQ("q112_bigram_lm",
      """WITH tw AS (
        |  SELECT LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') ws
        |  FROM documents WHERE lang = 'de'),
        |tb AS (
        |  SELECT ws[i] p, ws[i+1] w
        |  FROM tw CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(ws), 1))) t(i)),
        |c2 AS (SELECT p, w, COUNT(*) n2 FROM tb GROUP BY p, w),
        |c1 AS (SELECT p, COUNT(*) n1 FROM tb GROUP BY p),
        |v AS (SELECT COUNT(DISTINCT u) nv
        |      FROM (SELECT UNNEST(ws) u FROM tw)),
        |sw AS (
        |  SELECT doc_id,
        |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') ws
        |  FROM documents),
        |sb AS (
        |  SELECT doc_id, ws[i] p, ws[i+1] w
        |  FROM sw CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(ws), 1))) t(i)),
        |j AS (
        |  SELECT doc_id,
        |    FLOOR(LN((COALESCE(n2, 0) + 1.0) / (COALESCE(n1, 0) + nv))
        |      * 67108864.0) / 67108864.0 AS lp
        |  FROM sb
        |  LEFT JOIN c2 ON sb.p = c2.p AND sb.w = c2.w
        |  LEFT JOIN c1 ON sb.p = c1.p
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_bigrams,
        |       ROUND(AVG(lp), 6) score
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      graft.ops.Lm.bigramScore(docs, docs.filter(col("lang") === "de"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    },

    // Inverted index over the document corpus: term → sorted posting
    // list. Postings canonicalize to a comma-joined string for the
    // cross-engine hash (typed-array dumps are driver-serialization-
    // fragile — the q53 lesson); the list CONTENT and ORDER are still
    // fully checked.
    dfQ("q111_inverted_index",
      """WITH sw AS (
        |  SELECT DISTINCT doc_id, w
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) w
        |        FROM documents) WHERE w <> '')
        |SELECT w term, CAST(COUNT(*) AS BIGINT) df,
        |  STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) postings
        |FROM sw GROUP BY w HAVING COUNT(*) >= 25
        |ORDER BY term""".stripMargin) { (s, d) =>
      graft.ops.Indexing.invertedIndex(
          Tables.table(s, d, "documents"), "doc_id", "text", minDf = 25L)
        .select(col("term"), col("df"),
          array_join(transform(col("postings"), _.cast("string")), ",")
            .as("postings"))
        .orderBy("term")
    },

    // Product-quantization top-k: 8-byte codes (32× compression), ADC
    // candidate ranking from the codes alone, exact-cosine re-rank of
    // the survivors. Approximate by design → rows-only driver check;
    // recall/determinism properties live in OpsSuite.
    sparkOnly("q110_pq_topk") { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val (encoded, cb) = Similarity.pqIndex(emb, "vec_id", "embedding",
        m = 8, kCent = 64)
      Similarity.pqTopK(encoded, cb,
          emb.filter(col("vec_id") < 5).select("vec_id"), k = 3,
          rerankFactor = 16)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("q", "rn")
    },

    // PSI drift gate between two halves of the event log: equal-width
    // buckets anchored at the REFERENCE half's exact min/max, ε-floored
    // shares. The oracle recomputes the full pipeline, so bucket edges,
    // clamping, smoothing, and the PSI sum itself are all hash-checked.
    dfQ("q109_psi_drift",
      """WITH ref AS (SELECT value x FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |cur AS (SELECT value x FROM events WHERE user_id % 2 <> 0 AND value IS NOT NULL),
        |bounds AS (SELECT MIN(x) lo, MAX(x) hi FROM ref),
        |rb AS (
        |  SELECT LEAST(9, GREATEST(0, CASE WHEN hi = lo THEN 0
        |    ELSE CAST(FLOOR((x - lo) * 10 / (hi - lo)) AS INT) END)) b,
        |    COUNT(*) nr
        |  FROM ref CROSS JOIN bounds GROUP BY 1),
        |cb AS (
        |  SELECT LEAST(9, GREATEST(0, CASE WHEN hi = lo THEN 0
        |    ELSE CAST(FLOOR((x - lo) * 10 / (hi - lo)) AS INT) END)) b,
        |    COUNT(*) nc
        |  FROM cur CROSS JOIN bounds GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(nr, 0) nr, COALESCE(nc, 0) nc
        |  FROM rb FULL OUTER JOIN cb ON rb.b = cb.b),
        |t AS (
        |  SELECT nr, nc,
        |    GREATEST(CAST(nc AS DOUBLE) / GREATEST(SUM(nc) OVER (), 1), 1e-6) pc,
        |    GREATEST(CAST(nr AS DOUBLE) / GREATEST(SUM(nr) OVER (), 1), 1e-6) pr
        |  FROM j)
        |SELECT 'value' AS "column", ROUND(SUM((pc - pr) * LN(pc / pr)), 6) psi,
        |  CAST(SUM(nr) AS BIGINT) n_ref, CAST(SUM(nc) AS BIGINT) n_cur
        |FROM t""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events")
      graft.ops.Drift.psi(ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 =!= 0), Seq("value"), buckets = 10)
        .withColumn("psi", round(col("psi"), 6))
    },

    // SemDeDup over the embeddings table: within-cell cosine >= 0.45
    // (the fixture's planted near-dups sit just above 0.4 — see q77),
    // keep-lowest-id. PROMOTED to a real oracle (VERDICT r4 #3) via the
    // standing-index path: the coarse cells are the first 16 embedding
    // vectors (data, not a trained quantizer), so ivfAssign's argmin
    // rule — d² = 1 + |c|² − 2·|c|·cos(x, c), ties → lowest cell — is
    // re-derived verbatim in SQL, and the whole cell-restricted
    // pipeline (assignment arithmetic, within-cell pair join,
    // threshold, rounding) is hash-checked. The TRAINED-quantizer path
    // stays covered by OpsSuite's containment/recall properties.
    dfQ("q108_semdedup",
      """WITH c AS (
        |  SELECT CAST(vec_id AS INTEGER) cell, embedding::DOUBLE[] cv,
        |         LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)) c2
        |  FROM embeddings WHERE vec_id < 16),
        |e AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
        |d AS (
        |  SELECT e.id, c.cell, e.v,
        |    1 + c.c2 - 2 * SQRT(c.c2) * COALESCE(LIST_COSINE_SIMILARITY(e.v, c.cv), 0) d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT id, cell, v,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d),
        |p AS (
        |  SELECT x.cell, x.id a, y.id b, LIST_COSINE_SIMILARITY(x.v, y.v) sim
        |  FROM (SELECT * FROM a WHERE rn = 1) x
        |  JOIN (SELECT * FROM a WHERE rn = 1) y
        |    ON x.cell = y.cell AND x.id < y.id)
        |SELECT cell, a, b, ROUND(sim, 6) sim FROM p
        |WHERE sim >= 0.45 ORDER BY a, b""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      val (_, pairs) = Similarity.semDedupWithCentroids(
        emb, "vec_id", "embedding", threshold = 0.45, centroids = cents)
      pairs.select(col("cell"), col("a"), col("b"),
          round(col("sim"), 6).as("sim"))
        .orderBy("a", "b")
    },

    // Column profiling in the 100 TB configuration: same single-pass
    // profiler as q99 but with approx_count_distinct (HLL) instead of
    // the exact multi-distinct Expand — the switch Quality.profile
    // documents for wide tables at scale. Sketch estimates are
    // engine-specific → rows-only driver check; the ±5% accuracy
    // property lives in OpsSuite. Benched over lineitem (the biggest
    // fixture table) so the driver's bench measures the plan you'd
    // actually ship (VERDICT r4 #4: the exact q99 Expand kept
    // masquerading as a regression under host load).
    sparkOnly("q99b_profile_approx") { (s, d) =>
      graft.ops.Quality.profile(Tables.table(s, d, "lineitem"),
          exact = false)
        .orderBy("column")
    },

    // Gopher quality rules (Rae et al. 2021 §A1.1): word-count band,
    // mean-word-length band, alphabetic-word share, required-stopword
    // hits, composite keep. The oracle recomputes every metric AND the
    // verdict, so the thresholds and the rounded-before-compare
    // semantics are hash-checked. minWords/minStopHits chosen so the
    // fixture yields a mixed keep column.
    dfQ("q115_gopher_rules",
      """WITH t AS (
        |  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(LEN(ws) AS BIGINT) n_words,
        |    ROUND(CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(ws, w -> LEN(w))), 0) AS DOUBLE)
        |      / GREATEST(LEN(ws), 1), 4) mean_word_len,
        |    ROUND(CAST(LEN(LIST_FILTER(ws, w -> REGEXP_MATCHES(w, '[A-Za-z]'))) AS DOUBLE)
        |      / GREATEST(LEN(ws), 1), 6) alpha_frac,
        |    CAST((CASE WHEN LIST_CONTAINS(ws, 'the') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'be') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'to') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'of') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'and') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'that') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'have') THEN 1 ELSE 0 END)
        |       + (CASE WHEN LIST_CONTAINS(ws, 'with') THEN 1 ELSE 0 END) AS BIGINT) stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
        |  ((n_words BETWEEN 55 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND stop_hits >= 1) keep
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.gopherRules(
          Tables.table(s, d, "documents"), "doc_id", "text",
          minWords = 55, minStopHits = 1)
        .orderBy("doc_id")
    },

    // C4 line filters (Raffel et al. 2020 §2.2) over a synthetic
    // multi-line view of the corpus (the fixture docs are single-line):
    // line 1 = the doc text with terminal punctuation (kept), line 2 =
    // the one-word source field (dropped: too short, no punctuation),
    // line 3 = a lorem-ipsum marker line (dropped), line 4 = a 5-word
    // closing line (kept). The oracle recomputes the per-line predicate,
    // the kept-line re-join, and the verdict.
    dfQ("q116_c4_filters",
      """WITH t AS (
        |  SELECT doc_id,
        |    CONCAT_WS(CHR(10), CONCAT(text, ' end.'), source,
        |      'lorem ipsum dolor sit amet.',
        |      CONCAT('count words ', lang, ' here ok.')) txt
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, STRING_SPLIT(txt, CHR(10)) lines,
        |    LIST_FILTER(STRING_SPLIT(txt, CHR(10)), ln ->
        |      REGEXP_MATCHES(ln, '[.!?"]$')
        |      AND LEN(LIST_FILTER(STRING_SPLIT(ln, ' '), w -> w <> '')) >= 5
        |      AND NOT CONTAINS(LOWER(ln), 'lorem ipsum')
        |      AND NOT CONTAINS(ln, '{')
        |      AND NOT CONTAINS(LOWER(ln), 'javascript')) kept
        |  FROM t)
        |SELECT doc_id, CAST(LEN(lines) AS BIGINT) n_lines,
        |  CAST(LEN(kept) AS BIGINT) n_kept,
        |  ARRAY_TO_STRING(kept, CHR(10)) text_clean,
        |  LEN(kept) >= 1 keep
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val multiline = Tables.table(s, d, "documents")
        .select(col("doc_id"), concat_ws("\n",
          concat(col("text"), lit(" end.")), col("source"),
          lit("lorem ipsum dolor sit amet."),
          concat(lit("count words "), col("lang"), lit(" here ok.")))
          .as("txt"))
      graft.ops.TextAnalysis.c4Filters(multiline, "doc_id", "txt")
        .orderBy("doc_id")
    },

    // Z-order (Morton) codes over (l_partkey, l_suppkey): the layout
    // key behind multi-column data skipping. The oracle recomputes the
    // exact integer rank scaling and the full bit interleave, so the
    // clustering key a 100 TB OPTIMIZE-ZORDER would sort by is
    // hash-checked value-for-value. (The file-level range-shrink effect
    // of zorderBy itself is asserted in the test suite.)
    dfQ("q117_zorder",
      s"""WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 200),
         |b AS (SELECT MIN(l_partkey) xlo, MAX(l_partkey) xhi,
         |             MIN(l_suppkey) ylo, MAX(l_suppkey) yhi FROM src),
         |s AS (
         |  SELECT l_orderkey, l_linenumber,
         |    ((l_partkey - xlo) * 255) // GREATEST(xhi - xlo, 1) xi,
         |    ((l_suppkey - ylo) * 255) // GREATEST(yhi - ylo, 1) yi
         |  FROM src CROSS JOIN b)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(${(0 until 8).flatMap(i => Seq(
              s"(((xi >> $i) & 1) << ${2 * i})",
              s"(((yi >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")} AS BIGINT) z
         |FROM s ORDER BY l_orderkey, l_linenumber, z""".stripMargin) { (s, d) =>
      graft.ops.Layout.withZ(
          Tables.table(s, d, "lineitem").filter(col("l_orderkey") < 200),
          "l_partkey", "l_suppkey", bits = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("z"))
        .orderBy("l_orderkey", "l_linenumber", "z")
    },

    // CCNet perplexity buckets (Wenzek et al. 2020): head/middle/tail
    // by score terciles under the q112 bigram LM. The oracle rebuilds
    // the LM, the per-doc scores, AND the percentile thresholds, so the
    // bucketing rule (interpolated terciles over rounded scores,
    // inclusive upper edges) is hash-checked end to end.
    dfQ("q118_ccnet_buckets",
      """WITH tw AS (
        |  SELECT LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') ws
        |  FROM documents WHERE lang = 'de'),
        |tb AS (
        |  SELECT ws[i] p, ws[i+1] w
        |  FROM tw CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(ws), 1))) t(i)),
        |c2 AS (SELECT p, w, COUNT(*) n2 FROM tb GROUP BY p, w),
        |c1 AS (SELECT p, COUNT(*) n1 FROM tb GROUP BY p),
        |v AS (SELECT COUNT(DISTINCT u) nv
        |      FROM (SELECT UNNEST(ws) u FROM tw)),
        |sw AS (
        |  SELECT doc_id,
        |         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') ws
        |  FROM documents),
        |sb AS (
        |  SELECT doc_id, ws[i] p, ws[i+1] w
        |  FROM sw CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(ws), 1))) t(i)),
        |j AS (
        |  SELECT doc_id,
        |    FLOOR(LN((COALESCE(n2, 0) + 1.0) / (COALESCE(n1, 0) + nv))
        |      * 67108864.0) / 67108864.0 AS lp
        |  FROM sb
        |  LEFT JOIN c2 ON sb.p = c2.p AND sb.w = c2.w
        |  LEFT JOIN c1 ON sb.p = c1.p
        |  CROSS JOIN v),
        |sc AS (SELECT doc_id, ROUND(AVG(lp), 6) score FROM j GROUP BY doc_id),
        |th AS (
        |  SELECT PERCENTILE_CONT(1.0/3) WITHIN GROUP (ORDER BY score) t1,
        |         PERCENTILE_CONT(2.0/3) WITHIN GROUP (ORDER BY score) t2
        |  FROM sc)
        |SELECT doc_id, score,
        |  CASE WHEN score <= t1 THEN 'tail'
        |       WHEN score <= t2 THEN 'middle' ELSE 'head' END bucket
        |FROM sc CROSS JOIN th ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      val scored = graft.ops.Lm.bigramScore(docs,
        docs.filter(col("lang") === "de"), "doc_id", "text")
      graft.ops.Lm.perplexityBuckets(scored, "score")
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"),
          col("bucket"))
        .orderBy("doc_id")
    },

    // Fused IVF+PQ (the faiss IVFPQ composition): coarse cells prune
    // WHICH codes are scanned, PQ codes prune HOW MUCH is read per row,
    // exact re-rank restores precision on the survivors. Approximate by
    // design → rows-only driver check; the nprobe=nlist ≡ flat-PQ
    // equality and partial-probe recall live in OpsSuite.
    sparkOnly("q119_ivfpq_topk") { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      // r16: ONE sampling pass trains both the coarse quantizer and the
      // codebooks (bit-identical to the two separate trains — see
      // Similarity.ivfPqTrain)
      val (centroids, cb) = Similarity.ivfPqTrain(emb, "vec_id",
        "embedding", nlist = 16, m = 8, kCent = 64)
      val encoded = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        centroids, cb)
      Similarity.ivfPqTopK(encoded, centroids, cb,
          emb.filter(col("vec_id") < 5).select("vec_id"), k = 3,
          nprobe = 8, rerankFactor = 16)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("q", "rn")
    },

    // Robust outlier gate: modified z-score on the median/MAD scale over
    // the event values. The oracle recomputes both exact percentiles and
    // the Iglewicz–Hoaglin cutoff, so the medians, MADs, and outlier
    // counts are hash-checked cross-engine.
    dfQ("q120_mad_outliers",
      """WITH e AS (SELECT CAST(value AS DOUBLE) v, CAST(user_id AS DOUBLE) u
        |           FROM events),
        |med AS (
        |  SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) mv,
        |         PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY u) mu FROM e),
        |mad AS (
        |  SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY ABS(v - mv)) dv,
        |         PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY ABS(u - mu)) du
        |  FROM e CROSS JOIN med)
        |SELECT "column", median, mad, n, n_outliers FROM (
        |  SELECT 'value' AS "column", ROUND(mv, 6) median, ROUND(dv, 6) mad,
        |    CAST(COUNT(v) AS BIGINT) n,
        |    CAST(SUM(CASE WHEN ABS(v - mv) > 3.5 * 1.4826 * dv
        |         THEN 1 ELSE 0 END) AS BIGINT) n_outliers,
        |    0 AS ord
        |  FROM e CROSS JOIN med CROSS JOIN mad GROUP BY mv, dv
        |  UNION ALL
        |  SELECT 'user_id', ROUND(mu, 6), ROUND(du, 6),
        |    CAST(COUNT(u) AS BIGINT),
        |    CAST(SUM(CASE WHEN ABS(u - mu) > 3.5 * 1.4826 * du
        |         THEN 1 ELSE 0 END) AS BIGINT),
        |    1
        |  FROM e CROSS JOIN med CROSS JOIN mad GROUP BY mu, du) t
        |ORDER BY ord""".stripMargin) { (s, d) =>
      graft.ops.Quality.madOutliers(Tables.table(s, d, "events"),
        Seq("value", "user_id"))
    },

    // Incremental SemDeDup (admit-a-batch): standing corpus = vectors
    // < 300, batch = the rest; same supplied-centroid assignment rule
    // as q108, so the oracle re-derives the standing×batch and
    // within-batch cell-restricted pair sets exactly — the dominance
    // asymmetry (standing never drops) is checked through the pair
    // direction (a = standing or lower batch id, b = batch victim).
    dfQ("q131_incremental_semdedup",
      """WITH c AS (
        |  SELECT CAST(vec_id AS INTEGER) cell, embedding::DOUBLE[] cv,
        |         LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)) c2
        |  FROM embeddings WHERE vec_id < 16),
        |e AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
        |d AS (
        |  SELECT e.id, c.cell, e.v,
        |    1 + c.c2 - 2 * SQRT(c.c2) * COALESCE(LIST_COSINE_SIMILARITY(e.v, c.cv), 0) d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT id, cell, v,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d),
        |asn AS (SELECT id, cell, v FROM a WHERE rn = 1),
        |standing AS (SELECT * FROM asn WHERE id < 300),
        |batch AS (SELECT * FROM asn WHERE id >= 300),
        |p AS (
        |  SELECT s.cell, s.id a, b.id b,
        |         LIST_COSINE_SIMILARITY(s.v, b.v) sim
        |  FROM standing s JOIN batch b ON s.cell = b.cell
        |  UNION ALL
        |  SELECT x.cell, x.id, y.id, LIST_COSINE_SIMILARITY(x.v, y.v)
        |  FROM batch x JOIN batch y ON x.cell = y.cell AND x.id < y.id)
        |SELECT cell, a, b, ROUND(sim, 6) sim FROM p
        |WHERE sim >= 0.45 ORDER BY a, b""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      val standing = Similarity.ivfAssign(
        emb.filter(col("vec_id") < 300).select("vec_id", "embedding"),
        "vec_id", "embedding", cents)
      val (_, pairs) = Similarity.incrementalSemDedup(
        emb.filter(col("vec_id") >= 300).select("vec_id", "embedding"),
        standing, "vec_id", "embedding", threshold = 0.45,
        centroids = cents)
      pairs.select(col("cell"), col("a"), col("b"),
          round(col("sim"), 6).as("sim"))
        .orderBy("a", "b")
    },

    // Categorical PSI: language-mix drift between the two halves of the
    // document corpus — categories are their own buckets (the variant
    // that also monitors IVF-cell occupancy of a standing similarity
    // index). The oracle recomputes counts, ε-floored shares, and the
    // PSI sum.
    dfQ("q130_psi_categorical",
      """WITH t AS (
        |  SELECT CAST(lang AS VARCHAR) category,
        |         CASE WHEN doc_id % 2 = 0 THEN 'r' ELSE 'c' END side
        |  FROM documents),
        |cnt AS (
        |  SELECT category,
        |    SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) nr,
        |    SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) nc
        |  FROM t GROUP BY category),
        |p AS (
        |  SELECT nr, nc,
        |    GREATEST(CAST(nc AS DOUBLE) / GREATEST(SUM(nc) OVER (), 1), 1e-6) pc,
        |    GREATEST(CAST(nr AS DOUBLE) / GREATEST(SUM(nr) OVER (), 1), 1e-6) pr
        |  FROM cnt)
        |SELECT 'lang' AS "column", ROUND(SUM((pc - pr) * LN(pc / pr)), 6) psi,
        |  CAST(SUM(nr) AS BIGINT) n_ref, CAST(SUM(nc) AS BIGINT) n_cur,
        |  CAST(COUNT(*) AS BIGINT) n_categories
        |FROM p""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      graft.ops.Drift.psiCategorical(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0), "lang")
        .withColumn("psi", round(col("psi"), 6))
    },

    // BPE tokenizer induction: merges learned driver-side from the
    // bounded word-frequency table (the IVF/PQ training discipline),
    // vocabulary applied back through the codegen'd bpe_segment kernel.
    // The merge sequence is data-derived and iterative → no SQL oracle
    // (rows-only); known-answer merges, kernel-vs-replay equivalence,
    // losslessness, and mass conservation live in OpsSuite.
    sparkOnly("q129_bpe_vocab") { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      val merges = graft.ops.Bpe.train(docs, "doc_id", "text",
        numMerges = 50)
      graft.ops.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy(desc("n"), col("token")).limit(50)
    },

    // q129b (VERDICT r6 #4): induction (q129) is rows-only, but APPLYING a
    // FIXED merge table is deterministic and exactly SQL-replayable, so the
    // segmentation kernel itself gets a hash oracle. The DuckDB side
    // replays the merges in rank order over a space-separated symbol
    // string (' c h a r s </w> '): one merge = REPLACE(' l r ' -> ' lr ')
    // iterated to fixpoint — 5 unrolled passes suffice because fixture
    // words are <= 8 chars (<= 10 symbols) and one non-overlapping
    // left-to-right pass merges at least every other occurrence. Greedy
    // lowest-rank application (the kernel) equals rank-order replay
    // because the table is well-formed — every operand is a base char or
    // an earlier merge's output (the OpsSuite fixed-table property
    // asserts this on the full fixture vocabulary).
    dfQ("q129b_bpe_segment_fixed", {
      val symExpr = "' ' || REGEXP_REPLACE(word, '(.)', '\\1 ', 'g') || '</w> '"
      val replayed = q129bMerges.foldLeft(symExpr) { case (e, (l, r)) =>
        (1 to 5).foldLeft(e)((acc, _) => s"REPLACE($acc, ' $l $r ', ' $l$r ')")
      }
      s"""WITH words AS (
         |  SELECT w AS word, COUNT(*) AS freq FROM (
         |    SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents) t
         |  WHERE w <> '' GROUP BY w),
         |seg AS (SELECT $replayed AS s, freq FROM words),
         |tok AS (SELECT UNNEST(STRING_SPLIT(TRIM(s), ' ')) AS token, freq FROM seg)
         |SELECT token, CAST(SUM(freq) AS BIGINT) AS n FROM tok
         |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin
    }) { (s, d) =>
      graft.ops.Bpe.tokenCounts(Tables.table(s, d, "documents"),
          "doc_id", "text", q129bMerges)
        .orderBy(desc("n"), col("token")).limit(100)
    },

    // URL function family (F1 breadth): deterministic URLs synthesized
    // from the documents fixture, parsed with Spark's parse_url; the
    // oracle re-derives host/path/query-param/protocol with anchored
    // regexes (DuckDB has no parse_url).
    sqlQ("q132_url_funcs",
      """WITH u AS (
        |  SELECT doc_id, CONCAT('https://', source, '.example.com/', lang,
        |    '/doc/', CAST(doc_id AS STRING), '?ref=r',
        |    CAST(doc_id % 7 AS STRING), '&page=',
        |    CAST(doc_id % 3 AS STRING)) url
        |  FROM documents)
        |SELECT doc_id, parse_url(url, 'HOST') host,
        |       parse_url(url, 'PATH') path,
        |       parse_url(url, 'QUERY', 'ref') refparam,
        |       parse_url(url, 'PROTOCOL') proto
        |FROM u ORDER BY doc_id""".stripMargin,
      """WITH u AS (
        |  SELECT doc_id, CONCAT('https://', source, '.example.com/', lang,
        |    '/doc/', CAST(doc_id AS VARCHAR), '?ref=r',
        |    CAST(doc_id % 7 AS VARCHAR), '&page=',
        |    CAST(doc_id % 3 AS VARCHAR)) url
        |  FROM documents)
        |SELECT doc_id, REGEXP_EXTRACT(url, 'https?://([^/]+)', 1) host,
        |       REGEXP_EXTRACT(url, 'https?://[^/]+(/[^?]*)', 1) path,
        |       REGEXP_EXTRACT(url, '[?&]ref=([^&]*)', 1) refparam,
        |       REGEXP_EXTRACT(url, '^([a-z]+):', 1) proto
        |FROM u ORDER BY doc_id""".stripMargin),

    // Edit distance (F1 breadth; identical function in both engines):
    // consecutive-doc text prefixes — the cheap fuzzy-similarity kernel
    // curation pipelines use for titles/URLs where shingling is overkill.
    sameQ("q133_edit_distance",
      """SELECT a.doc_id da, b.doc_id db,
        |       CAST(LEVENSHTEIN(SUBSTRING(a.text, 1, 30),
        |                        SUBSTRING(b.text, 1, 30)) AS BIGINT) dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id < 100 ORDER BY da""".stripMargin),

    // The fuzzy JOIN as an operator (q133 above is the scalar): all
    // pairs within edit distance 5 on 40-char prefixes, found by the
    // lossless length-band equi-join (|len diff| <= k ⟹ same/adjacent
    // floor(len/(k+1)) bucket; 3x probe replication) + thresholded
    // levenshtein confirm — never a cross product. The oracle is the
    // quadratic definition; it only has 300 docs. OpsSuite separately
    // asserts banded == naive on Spark and that the plan has no
    // Cartesian/BNLJ node.
    dfQ("q143_fuzzy_join",
      """WITH p AS (
        |  SELECT doc_id, SUBSTRING(text, 1, 40) s
        |  FROM documents WHERE doc_id < 1000)
        |SELECT a.doc_id a, b.doc_id b,
        |       CAST(LEVENSHTEIN(a.s, b.s) AS INTEGER) dist
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE LEVENSHTEIN(a.s, b.s) <= 5
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      graft.ops.FuzzyJoin.editDistancePairs(
          Tables.table(s, d, "documents").filter(col("doc_id") < 1000)
            .select(col("doc_id"), substring(col("text"), 1, 40).as("s")),
          "doc_id", "s", maxDist = 5)
        .orderBy("a", "b")
    },

    // Leakage-safe GROUPED split (q82 splits rows; this splits GROUPS):
    // every (source, lang) group lands atomically in one split — the
    // hash key is the group, not the row. The oracle replays the same
    // CHR(1)-joined MD5 assignment; atomicity is load-bearing in the
    // hash compare, because a leaky per-row assignment would emit
    // multiple rows per group (different splits) and change the row
    // count. One row per group, ORDER BY the group key → deterministic.
    dfQ("q144_grouped_split",
      """WITH g AS (
        |  SELECT source, lang, doc_id,
        |    CAST(CONCAT('0x', SUBSTRING(MD5(
        |        CONCAT_WS(CHR(1), source, lang)), 1, 8)) AS BIGINT)
        |      % 10000 b
        |  FROM documents),
        |a AS (
        |  SELECT source, lang, doc_id,
        |    CASE WHEN b < 8000 THEN 'train'
        |         WHEN b < 9000 THEN 'val' ELSE 'test' END split
        |  FROM g)
        |SELECT source, lang, split, COUNT(*) n_docs, MIN(doc_id) min_id
        |FROM a GROUP BY source, lang, split
        |ORDER BY source, lang""".stripMargin) { (s, d) =>
      graft.ops.Sampling.groupedHashSplit(
          Tables.table(s, d, "documents"), Seq("source", "lang"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy("source", "lang", "split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
        .orderBy("source", "lang")
    },

    // Vocabulary pruning / OOV gate: induce the corpus top-1000 token
    // vocabulary (ties at the cut → lexicographically smaller token;
    // total order, so both engines derive the identical set), score
    // every document's out-of-vocabulary share, gate at 20%, report
    // per language. All rates are ONE double division of exact integer
    // counts — no cross-engine float accumulation; the per-language
    // micro-average divides the SUMMED counts for the same reason.
    dfQ("q145_oov_gate",
      """WITH tk AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) token
        |  FROM documents),
        |tok AS (SELECT doc_id, token FROM tk WHERE token <> ''),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) freq FROM tok GROUP BY token
        |    ORDER BY freq DESC, token LIMIT 1000)),
        |st AS (
        |  SELECT t.doc_id, COUNT(*) n_tokens,
        |         SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) oov
        |  FROM tok t LEFT JOIN vocab v ON t.token = v.token
        |  GROUP BY t.doc_id),
        |r AS (
        |  SELECT d.lang,
        |         COALESCE(s.n_tokens, 0) n_tokens,
        |         COALESCE(s.oov, 0) oov,
        |         ROUND(CAST(COALESCE(s.oov, 0) AS DOUBLE)
        |               / GREATEST(COALESCE(s.n_tokens, 0), 1), 6) rate
        |  FROM documents d LEFT JOIN st s ON d.doc_id = s.doc_id)
        |SELECT lang, COUNT(*) n_docs,
        |       CAST(SUM(CASE WHEN rate <= 0.2 THEN 1 ELSE 0 END)
        |            AS BIGINT) n_pass,
        |       ROUND(CAST(SUM(oov) AS DOUBLE)
        |             / GREATEST(SUM(n_tokens), 1), 6) micro_oov
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      val vocab = graft.ops.Vocab.induceVocab(docs, "text", 1000)
      // lang rides oovRate's explode (carryCols) — TWO corpus scans
      // total (vocab induction + scoring), no join-back for lang
      graft.ops.Vocab.oovRate(docs, "doc_id", "text", vocab, Seq("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("oov_rate") <= 0.2, 1L).otherwise(0L)).as("n_pass"),
          round(sum("oov_tokens").cast("double") /
            greatest(sum("n_tokens"), lit(1L)), 6).as("micro_oov"))
        .orderBy("lang")
    },

    // Cross-document boilerplate SPAN removal (the sub-line sibling of
    // q128's line dedup): 5-grams occurring in >= 3 distinct documents
    // are template noise; every covered token position is excised and
    // documents reassemble from survivors in order. The oracle
    // re-derives the whole rule — positional tokenization, n-gram
    // document frequency, cover expansion, anti-join, ordered
    // reassembly — so the operator is hash-checked end to end,
    // including the untouched documents passing through verbatim.
    dfQ("q146_boilerplate_spans",
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') tk FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) pos, tk[i] token
        |  FROM t CROSS JOIN UNNEST(RANGE(1, LEN(tk) + 1)) u(i)),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) pos,
        |         ARRAY_TO_STRING(tk[i:i+4], ' ') gram
        |  FROM t CROSS JOIN UNNEST(RANGE(1, GREATEST(LEN(tk) - 3, 1))) u(i)),
        |bp AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING COUNT(DISTINCT doc_id) >= 3),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + o.off cpos
        |  FROM g JOIN bp USING (gram)
        |  CROSS JOIN UNNEST(RANGE(0, 5)) o(off)),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.token
        |  FROM tok k LEFT JOIN cov c
        |    ON k.doc_id = c.doc_id AND k.pos = c.cpos
        |  WHERE c.cpos IS NULL),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_kept,
        |         STRING_AGG(token, ' ' ORDER BY pos) text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(LEN(t.tk) AS BIGINT) n_tokens,
        |       COALESCE(a.n_kept, 0) n_kept,
        |       COALESCE(a.text_clean, '') text_clean
        |FROM t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      graft.ops.Dedup.boilerplateNgramRemoval(
          Tables.table(s, d, "documents"), "doc_id", "text",
          n = 5, minDf = 3)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_kept"), col("text_clean"))
        .orderBy("doc_id")
    },

    // Higher statistical moments (A7 breadth): Spark's skewness /
    // kurtosis are the POPULATION moments (g1, excess g2); DuckDB's
    // are the sample-adjusted estimators (G1, G2), so the Spark text
    // applies the standard conversion explicitly — the same value two
    // textbooks would print. Sample sizes here are thousands per
    // group, so the adjustment is small but exact.
    // + 0.0 normalizes IEEE negative zero on both engines: at sf0.001
    // the 'A' flag's sample skew rounds to -0.0 in DuckDB but Spark's
    // BigDecimal round drops the sign — the q156 divergence class,
    // caught by the strict OracleSuite canon (r10).
    sqlQ("q149_skew_kurtosis",
      """SELECT l_returnflag,
        |  ROUND(sk * SQRT(n * (n-1)) / (n-2), 4) + 0.0 skew,
        |  ROUND(((n-1) / ((n-2) * (n-3))) * ((n+1) * ku + 6), 4) + 0.0 kurt
        |FROM (SELECT l_returnflag, skewness(l_quantity) sk,
        |             kurtosis(l_quantity) ku,
        |             CAST(COUNT(*) AS DOUBLE) n
        |      FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,
      """SELECT l_returnflag,
        |  ROUND(skewness(l_quantity), 4) + 0.0 skew,
        |  ROUND(kurtosis(l_quantity), 4) + 0.0 kurt
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // TRY_CAST (F6 breadth): null-on-failure casting — identical
    // syntax and semantics on both engines, exercised over strings
    // that alternate between parseable and garbage.
    sameQ("q150_try_cast",
      """SELECT l_orderkey, l_linenumber,
        |  TRY_CAST(CASE WHEN l_linenumber % 2 = 0
        |                THEN CAST(l_orderkey AS STRING)
        |                ELSE CONCAT(CAST(l_orderkey AS STRING), 'x')
        |           END AS BIGINT) maybe_key,
        |  TRY_CAST(CONCAT('20', CAST(10 + l_linenumber AS STRING),
        |                  '-01-01') AS DATE) maybe_date,
        |  TRY_CAST('nope' AS DOUBLE) always_null
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Token-budget sampling: per source, documents are taken in
    // deterministic MD5 order while the running whitespace-token total
    // stays within 2000 — mixture weights in TOKENS, not documents.
    // The oracle replays the identical hash order and cumulative-sum
    // prefix rule, so the hash compare pins the selection itself (the
    // survivor id set), not just its size.
    dfQ("q148_token_budget",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) nt,
        |    CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 1073741824 h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, nt,
        |    SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
        |                  ROWS UNBOUNDED PRECEDING) cum
        |  FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) n_docs,
        |       CAST(SUM(nt) AS BIGINT) total_tokens,
        |       MIN(doc_id) min_id, MAX(doc_id) max_id,
        |       CAST(SUM(doc_id) AS BIGINT) id_sum
        |FROM r WHERE cum <= 2000
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
      graft.ops.Sampling.tokenBudgetSample(docs, "source", "doc_id",
          "nt", 2000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("total_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"),
          sum("doc_id").as("id_sum"))
        .orderBy("source")
    },

    // Ordered string aggregation (SQL:2023 LISTAGG, new in Spark 4):
    // the WITHIN GROUP (ORDER BY) form — the in-group order is part of
    // the result, so the hash compare checks it; DuckDB spells the
    // same thing STRING_AGG(x, sep ORDER BY x).
    sqlQ("q147_listagg",
      """SELECT n.n_name,
        |  listagg(c.c_name, ',') WITHIN GROUP (ORDER BY c.c_name) names,
        |  CAST(COUNT(*) AS BIGINT) n
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_custkey < 120
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
      """SELECT n.n_name,
        |  STRING_AGG(c.c_name, ',' ORDER BY c.c_name) AS names,
        |  CAST(COUNT(*) AS BIGINT) n
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_custkey < 120
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),

    // Bitwise family (F4 breadth): &, |, xor, shifts, bit_count, NOT —
    // the DuckDB dialect spells xor/shifts differently (^ is POWER
    // there), so both texts are explicit and every output is cast to a
    // fixed width.
    sqlQ("q134_bitwise",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey & 255 AS BIGINT) band,
        |  CAST(l_orderkey | 16 AS BIGINT) bor,
        |  CAST(l_orderkey ^ l_partkey AS BIGINT) bxor,
        |  CAST(shiftleft(l_linenumber, 3) AS BIGINT) shl,
        |  CAST(shiftright(l_orderkey, 2) AS BIGINT) shr,
        |  CAST(bit_count(l_orderkey) AS INT) bc,
        |  CAST(~l_linenumber AS BIGINT) neg
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber, bxor""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey & 255 AS BIGINT) band,
        |  CAST(l_orderkey | 16 AS BIGINT) bor,
        |  CAST(xor(l_orderkey, l_partkey) AS BIGINT) bxor,
        |  CAST(l_linenumber << 3 AS BIGINT) shl,
        |  CAST(l_orderkey >> 2 AS BIGINT) shr,
        |  CAST(bit_count(l_orderkey) AS INT) bc,
        |  CAST(~l_linenumber AS BIGINT) neg
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber, bxor""".stripMargin),

    // Time-series resample + gap fill + locf (ops/Resample): hourly
    // buckets per user densified onto each user's [min,max] grid, with
    // the value sum forward-filled across gaps. DuckDB has no IGNORE
    // NULLS, so the oracle's locf is the independent running-count-of-
    // observations + join formulation (same cross-check style as q36b);
    // its grid comes from lateral generate_series. Sums go through an
    // exact DECIMAL accumulator on both engines (q84's convention).
    dfQ("q135_resample_locf",
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) bucket,
        |         COUNT(*) n,
        |         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) sv
        |  FROM events WHERE user_id < 6 GROUP BY 1, 2),
        |s AS (SELECT user_id, MIN(bucket) lo, MAX(bucket) hi FROM b GROUP BY 1),
        |g AS (SELECT s.user_id, gs.bucket
        |      FROM s, LATERAL (SELECT unnest(generate_series(s.lo, s.hi,
        |                         INTERVAL 1 HOUR)) bucket) gs),
        |j AS (
        |  SELECT g.user_id, g.bucket, COALESCE(b.n, 0) n,
        |         COUNT(b.sv) OVER (PARTITION BY g.user_id ORDER BY g.bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) obs_n
        |  FROM g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket),
        |o AS (
        |  SELECT user_id, sv,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket) pn
        |  FROM b)
        |SELECT j.user_id, strftime(j.bucket, '%Y-%m-%d %H:%M:%S') bucket_s,
        |       j.n, o.sv filled_sv
        |FROM j LEFT JOIN o ON o.user_id = j.user_id AND o.pn = j.obs_n
        |ORDER BY j.user_id, bucket_s""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events").filter(col("user_id") < 6)
        .withColumn("value", col("value").cast("decimal(18,4)"))
      val sparse = graft.ops.Resample.bucketAgg(ev, "user_id", "ts", "hour",
        Seq("n" -> count(lit(1)),
            "sv" -> round(sum(col("value")), 2).cast("double")))
      val dense = graft.ops.Resample.gapFill(sparse, "user_id", 3600L)
      graft.ops.Resample.forwardFill(dense, "user_id", Seq("sv"))
        .select(col("user_id"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket_s"),
          coalesce(col("n"), lit(0L)).as("n"), col("sv").as("filled_sv"))
        .orderBy("user_id", "bucket_s")
    },

    // URL curation stage (ops/UrlCuration — the C4/RefinedWeb stage-1
    // recipe): deterministic URLs synthesized over documents with
    // IP-literal hosts, binary-download extensions, tracking-spam query
    // strings, and blocklisted tokens mixed in; registered domains
    // extracted, two domains blocklisted away, and the per-domain review
    // stats aggregated. Spark resolves hosts/paths with parse_url; the
    // oracle re-derives everything with anchored regexes — independent
    // mechanisms, same semantics.
    dfQ("q136_url_curation",
      """WITH u AS (
        |  SELECT doc_id, source, LENGTH(text) score,
        |    CASE
        |      WHEN doc_id % 17 = 0 THEN CONCAT('http://10.0.',
        |        CAST(doc_id % 256 AS VARCHAR), '.1/dl/file',
        |        CAST(doc_id AS VARCHAR), '.zip')
        |      WHEN doc_id % 13 = 0 THEN CONCAT('https://www.', source, '-',
        |        CAST(doc_id % 3 AS VARCHAR), '.org/get/tool',
        |        CAST(doc_id AS VARCHAR), '.exe')
        |      WHEN doc_id % 23 = 0 THEN CONCAT('https://', source, '-',
        |        CAST(doc_id % 3 AS VARCHAR), '.org/casino/page',
        |        CAST(doc_id AS VARCHAR))
        |      WHEN doc_id % 19 = 0 THEN CONCAT('https://', source, '-',
        |        CAST(doc_id % 3 AS VARCHAR),
        |        '.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9&j=10')
        |      ELSE CONCAT('https://blog.', source, '-',
        |        CAST(doc_id % 3 AS VARCHAR), '.org/post/',
        |        CAST(doc_id AS VARCHAR))
        |    END url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, score,
        |    LOWER(REGEXP_EXTRACT(url, 'https?://([^/?]+)', 1)) h,
        |    LOWER(COALESCE(REGEXP_EXTRACT(url, 'https?://[^/?]+(/[^?]*)', 1),
        |                   '')) path,
        |    COALESCE(REGEXP_EXTRACT(url, '\?(.*)$', 1), '') q
        |  FROM u),
        |f AS (
        |  SELECT doc_id, score,
        |    CASE WHEN REGEXP_MATCHES(h, '^\d{1,3}(\.\d{1,3}){3}$') THEN h
        |         ELSE REGEXP_EXTRACT(REGEXP_REPLACE(h, '^www\.', ''),
        |                             '([^.]+\.[^.]+)$', 1) END dom,
        |    (REGEXP_MATCHES(h, '^\d{1,3}(\.\d{1,3}){3}$')
        |     OR REGEXP_MATCHES(path, '\.(exe|zip|gz|tar|dmg|apk|iso)$')
        |     OR (CASE WHEN q = '' THEN 0
        |              ELSE LEN(STRING_SPLIT(q, '&')) END) > 8
        |     OR REGEXP_MATCHES(CONCAT(h, '/', path), '(casino|viagra)'))
        |      flagged
        |  FROM p)
        |SELECT dom, COUNT(*) n_docs,
        |       CAST(ROUND(AVG(score), 4) AS DOUBLE) mean_score,
        |       CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
        |         n_flagged
        |FROM f WHERE dom NOT IN ('src0-0.org', 'src5-1.org')
        |GROUP BY dom ORDER BY dom""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.table(s, d, "documents")
        .withColumn("score", length(col("text")))
        .withColumn("url", expr(
          """CASE
            |  WHEN doc_id % 17 = 0 THEN CONCAT('http://10.0.',
            |    CAST(doc_id % 256 AS STRING), '.1/dl/file',
            |    CAST(doc_id AS STRING), '.zip')
            |  WHEN doc_id % 13 = 0 THEN CONCAT('https://www.', source, '-',
            |    CAST(doc_id % 3 AS STRING), '.org/get/tool',
            |    CAST(doc_id AS STRING), '.exe')
            |  WHEN doc_id % 23 = 0 THEN CONCAT('https://', source, '-',
            |    CAST(doc_id % 3 AS STRING), '.org/casino/page',
            |    CAST(doc_id AS STRING))
            |  WHEN doc_id % 19 = 0 THEN CONCAT('https://', source, '-',
            |    CAST(doc_id % 3 AS STRING),
            |    '.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9&j=10')
            |  ELSE CONCAT('https://blog.', source, '-',
            |    CAST(doc_id % 3 AS STRING), '.org/post/',
            |    CAST(doc_id AS STRING))
            |END""".stripMargin))
      val blocked = Seq("src0-0.org", "src5-1.org").toDF("domain")
      val kept = graft.ops.UrlCuration.dropBlockedDomains(docs, "url", blocked)
      graft.ops.UrlCuration.domainStats(kept, "url", "score")
        .select(col("domain").as("dom"), col("n_docs"),
          round(col("mean_score"), 4).cast("double").as("mean_score"),
          col("n_flagged"))
        .orderBy("dom")
    },

    // TPC-H Q2 shape (min-cost supplier per part; the fixtures lack
    // partsupp, so lineitem is the part↔supplier bridge): per-key agg →
    // per-part min → rejoin on the min. Costs are rounded BEFORE the
    // equality so the min-match is cross-engine stable. The decorrelated
    // agg-join-agg-rejoin plan is the one Catalyst produces for the
    // correlated original anyway.
    // Accumulation in EXACT integer cents (per-row conversion is
    // deterministic; BIGINT sums are order-independent), because a
    // double AVG differs across engines in the last ulp and a value on
    // a half-cent boundary then rounds differently (the q84 lesson —
    // caught at sf0.001 in round-5 dev).
    sameQ("q121_min_cost_supplier",
      """WITH ps AS (
        |  SELECT l_partkey pk, l_suppkey sk,
        |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) sc,
        |         COUNT(*) n
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |a AS (SELECT pk, sk,
        |        ROUND(CAST(sc AS DOUBLE) / (100 * n), 2) supply_cost FROM ps),
        |m AS (SELECT pk, MIN(supply_cost) mc FROM a GROUP BY pk)
        |SELECT a.pk p_partkey, a.sk s_suppkey, a.supply_cost
        |FROM a JOIN m ON a.pk = m.pk AND a.supply_cost = m.mc
        |WHERE a.pk < 200
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // TPC-H Q11 shape: per-group value vs a GLOBAL scalar-subquery
    // threshold over the same aggregate — the share-of-total gate
    // (1.5× the mean per-part value, so the selected tail is non-empty
    // at every scale factor). Both sides of the predicate round to
    // cents first (double SUM accumulation order differs per engine).
    sameQ("q122_value_share",
      """WITH pv AS (
        |  SELECT l_partkey pk, SUM(l_extendedprice * l_quantity) v
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT pk, ROUND(v, 2) total_value
        |FROM pv
        |WHERE ROUND(v, 2) > (SELECT ROUND(AVG(v) * 1.5, 2) FROM pv)
        |ORDER BY total_value DESC, pk""".stripMargin),

    // TPC-H Q16 shape: distinct-supplier counts per brand with a NOT IN
    // exclusion subquery (negative-balance suppliers stand in for the
    // comment-matched ones — the fixture supplier table has no comment).
    sameQ("q123_supplier_cnt",
      """SELECT p.p_brand, COUNT(DISTINCT l.l_suppkey) supplier_cnt
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |  AND l.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand
        |ORDER BY supplier_cnt DESC, p.p_brand""".stripMargin),

    // TPC-H Q20 shape: suppliers selected through a nested IN — an IN
    // subquery over a grouped volume CTE gated by another IN plus a
    // scalar-subquery threshold (relative, so the selection is
    // non-empty at every scale factor; quantity sums are
    // integer-valued, so the compare is exact cross-engine).
    sameQ("q124_volume_suppliers",
      """WITH vol AS (
        |  SELECT l_suppkey sk, SUM(l_quantity) q
        |  FROM lineitem
        |  WHERE l_partkey IN (
        |    SELECT p_partkey FROM part WHERE p_name LIKE 's%')
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT sk FROM vol WHERE q > (SELECT AVG(q) * 1.2 FROM vol))
        |ORDER BY s.s_suppkey""".stripMargin),

    // GROUP BY ALL (both engines since Spark 3.4 / DuckDB 0.6): the
    // grouping keys are inferred from the non-aggregate select items —
    // the modern spelling analysts actually write. (QUALIFY was
    // considered and rejected: DuckDB has it, Spark 4.1 does not.)
    sameQ("q125_group_by_all",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) n,
        |       ROUND(SUM(o_totalprice), 2) rev
        |FROM orders WHERE o_custkey < 100
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // Cross-split leakage audit: the q83 exact-Jaccard near-dup pair
    // set joined against the q82 MD5 train/val/test assignment — pairs
    // straddling a split boundary leak eval answers into training. The
    // oracle re-derives the pair mining, the split rule, AND the
    // unordered-pair grouping, so the whole audit is hash-checked.
    dfQ("q127_split_leakage",
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) s
        |  FROM (SELECT doc_id, STRING_SPLIT(text,' ') ws
        |        FROM documents WHERE doc_id < 500)
        |  CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |edges AS (
        |  SELECT da, db
        |  FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |  WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6),
        |spl AS (
        |  SELECT doc_id,
        |    CASE WHEN b < 8000 THEN 'train'
        |         WHEN b < 9000 THEN 'val' ELSE 'test' END split
        |  FROM (SELECT doc_id,
        |          CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 b
        |        FROM documents) h),
        |j AS (
        |  SELECT LEAST(x.split, y.split) split_a,
        |         GREATEST(x.split, y.split) split_b
        |  FROM edges JOIN spl x ON x.doc_id = da JOIN spl y ON y.doc_id = db)
        |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) n_pairs,
        |       split_a <> split_b leaked
        |FROM j GROUP BY split_a, split_b
        |ORDER BY split_a, split_b""".stripMargin) { (s, d) =>
      Tables.register(s, d)
      graft.functions.Registry.registerAll(s)
      val pairs = s.sql(
        """WITH sh AS (
          |  SELECT DISTINCT doc_id, shingle AS s
          |  FROM (SELECT doc_id, shingles(text, 3) FROM documents WHERE doc_id < 500)),
          |cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id da, b.doc_id db, COUNT(*) ix
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT da, db
          |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
          |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.6""".stripMargin)
      val assign = graft.ops.Sampling.hashSplit(
        Tables.table(s, d, "documents").select("doc_id"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      graft.ops.Sampling.splitLeakage(pairs, assign, "doc_id", "da", "db")
        .orderBy("split_a", "split_b")
    },

    // Corpus-level line dedup (RefinedWeb §3.3): every line keeps only
    // its first (doc, position) occurrence — run over the q116
    // synthetic multi-line view, where the boilerplate lines (source
    // names, the lorem marker, the per-lang closer) repeat across
    // docs and the doc text lines do not. The oracle re-derives the
    // first-occurrence rule and the ordered reassembly, so the whole
    // operator is hash-checked.
    dfQ("q128_line_dedup",
      """WITH t AS (
        |  SELECT doc_id,
        |    STRING_SPLIT(CONCAT_WS(CHR(10), CONCAT(text, ' end.'), source,
        |      'lorem ipsum dolor sit amet.',
        |      CONCAT('count words ', lang, ' here ok.')), CHR(10)) ls
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(LEN(ls) AS BIGINT) n_lines,
        |         CAST(i - 1 AS BIGINT) pos, ls[i] line
        |  FROM t CROSS JOIN UNNEST(RANGE(1, LEN(ls) + 1)) u(i)),
        |first AS (
        |  -- lexicographic (doc_id, pos) min encoded as doc_id*4 + pos:
        |  -- the synthetic view always has exactly 4 lines per doc
        |  SELECT line, MIN(doc_id * 4 + pos) k FROM lines GROUP BY line),
        |kept AS (
        |  SELECT l.doc_id, l.n_lines, l.pos, l.line
        |  FROM lines l JOIN first f ON l.line = f.line
        |  WHERE l.doc_id * 4 + l.pos = f.k)
        |SELECT doc_id, ANY_VALUE(n_lines) n_lines,
        |  CAST(COUNT(*) AS BIGINT) n_kept,
        |  STRING_AGG(line, CHR(10) ORDER BY pos) text_dedup
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val multiline = Tables.table(s, d, "documents")
        .select(col("doc_id"), concat_ws("\n",
          concat(col("text"), lit(" end.")), col("source"),
          lit("lorem ipsum dolor sit amet."),
          concat(lit("count words "), col("lang"), lit(" here ok.")))
          .as("txt"))
      graft.ops.Dedup.lineDedupCorpus(multiline, "doc_id", "txt")
        .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
          col("text_dedup"))
        .orderBy("doc_id")
    },

    // LATERAL correlated subquery: per outer row, a dependent top-k
    // scan — the decorrelation path Catalyst must get right (rewritten
    // internally to a window, but the USER writes the lateral form).
    sameQ("q126_lateral_topk",
      """SELECT p.p_partkey, t.l_orderkey, t.l_quantity
        |FROM part p,
        |LATERAL (
        |  SELECT l_orderkey, l_quantity FROM lineitem
        |  WHERE l_partkey = p.p_partkey
        |  ORDER BY l_quantity DESC, l_orderkey LIMIT 2) t
        |WHERE p.p_partkey < 60
        |ORDER BY p.p_partkey, t.l_quantity DESC, t.l_orderkey""".stripMargin),

    // One distributed Lloyd update (ops/Clustering — the full-corpus
    // refinement path behind the sample-trained IVF quantizer). Inputs
    // quantize to an integer grid (FLOOR, not ROUND — no half-way
    // ambiguity cross-engine), so the per-cell sums are exact in doubles
    // and the mean divides ONCE; the oracle re-derives the argmin
    // assignment with exact BIGINT dot products and replays the update
    // per (cell, dim). Spark's float argmin ≡ the exact integer argmin
    // is additionally pinned in OpsSuite at sf0.001/sf0.01.
    dfQ("q151_lloyd_step",
      """WITH e AS (
        |  SELECT vec_id id,
        |    LIST_TRANSFORM(embedding::DOUBLE[],
        |                   x -> CAST(FLOOR(x*1000) AS BIGINT)) v
        |  FROM embeddings),
        |c AS (SELECT CAST(id AS INTEGER) cell, v cv FROM e WHERE id < 8),
        |d AS (
        |  SELECT e.id, c.cell, e.v,
        |    LIST_DOT_PRODUCT(e.v, e.v) + LIST_DOT_PRODUCT(c.cv, c.cv)
        |      - 2 * LIST_DOT_PRODUCT(e.v, c.cv) d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT id, v, cell,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d)
        |SELECT cell, CAST(COUNT(*) AS BIGINT) n, CAST(u.i AS INTEGER) dim,
        |       ROUND(CAST(SUM(v[u.i]) AS DOUBLE) / COUNT(*), 6) m
        |FROM a CROSS JOIN UNNEST(RANGE(1, 65)) u(i)
        |WHERE rn = 1
        |GROUP BY cell, u.i
        |ORDER BY cell, dim""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000)).as("vq"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("vq").as("centroid"))
      Clustering.lloydStep(emb, "vec_id", "vq", cents)
        .select(col("cell"), col("n"),
          posexplode(col("centroid")).as(Seq("dim", "m")))
        .select(col("cell"), col("n"), (col("dim") + 1).cast("int").as("dim"),
          round(col("m"), 6).as("m"))
        .orderBy("cell", "dim")
    },

    // HTML → text extraction (TextAnalysis.stripHtml — web-crawl stage
    // zero). Both engines synthesize the SAME wrapper document (script
    // with a `<` inside it, style block, comment, entities, the doc text
    // as the body) and the oracle replays the exact strip patterns, so
    // the hash pins script/style subtree removal, tag stripping, entity
    // decode ORDER (&amp; last), and whitespace collapse byte-for-byte.
    dfQ("q152_html_strip",
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css">body { color: #333; }</style>' ||
        |    '</head><body><h1>Q&amp;A #' || CAST(doc_id AS VARCHAR) ||
        |    '</h1><script>if (1 < 2) { var x = "y"; }</script><p>' ||
        |    text ||
        |    '</p><!-- id:' || CAST(doc_id AS VARCHAR) ||
        |    ' --><br/>&nbsp;&lt;end&gt;</body></html>' html
        |  FROM documents),
        |s1 AS (SELECT doc_id, REGEXP_REPLACE(html,
        |  '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g') t FROM h),
        |s2 AS (SELECT doc_id, REGEXP_REPLACE(t,
        |  '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g') t FROM s1),
        |s3 AS (SELECT doc_id, REGEXP_REPLACE(t,
        |  '(?s)<!--.*?-->', ' ', 'g') t FROM s2),
        |s4 AS (SELECT doc_id, REGEXP_REPLACE(t,
        |  '(?s)<[^>]*>', ' ', 'g') t FROM s3),
        |s5 AS (SELECT doc_id,
        |  REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(t,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&') t FROM s4)
        |SELECT doc_id, TRIM(REGEXP_REPLACE(t, '\s+', ' ', 'g')) AS text
        |FROM s5 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      val idStr = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), idStr,
        lit("</title><style type=\"text/css\">body { color: #333; }</style>"),
        lit("</head><body><h1>Q&amp;A #"), idStr,
        lit("</h1><script>if (1 < 2) { var x = \"y\"; }</script><p>"),
        col("text"),
        lit("</p><!-- id:"), idStr,
        lit(" --><br/>&nbsp;&lt;end&gt;</body></html>"))
      TextAnalysis.stripHtmlDocs(
          docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .orderBy("doc_id")
    },

    // One distributed Lloyd update of EVERY PQ sub-quantizer in a single
    // job (Clustering.pqLloydStep — the full-corpus refinement path
    // behind the sample-trained pqIndex codebooks). m=8 subspaces of
    // dsub=8 over the 64-dim embeddings, codebooks = the first 4
    // vectors' slices; the same FLOOR integer grid as q151, so per-
    // (subspace, cell) sub-vector sums are exact and the oracle replays
    // the per-subspace argmin with exact BIGINT dot products.
    dfQ("q153_pq_lloyd_step",
      """WITH e AS (
        |  SELECT vec_id id,
        |    LIST_TRANSFORM(embedding::DOUBLE[],
        |                   x -> CAST(FLOOR(x*1000) AS BIGINT)) v
        |  FROM embeddings),
        |sub AS (
        |  SELECT id, CAST(s.s AS INTEGER) subspace,
        |         v[s.s*8+1 : s.s*8+8] sv
        |  FROM e CROSS JOIN (SELECT UNNEST(RANGE(0, 8)) s) s),
        |cb AS (
        |  SELECT subspace, CAST(id AS INTEGER) cell, sv cv
        |  FROM sub WHERE id < 4),
        |d AS (
        |  SELECT t.id, t.subspace, t.sv, c.cell,
        |    LIST_DOT_PRODUCT(t.sv, t.sv) + LIST_DOT_PRODUCT(c.cv, c.cv)
        |      - 2 * LIST_DOT_PRODUCT(t.sv, c.cv) d2
        |  FROM sub t JOIN cb c ON c.subspace = t.subspace),
        |a AS (
        |  SELECT id, subspace, sv, cell,
        |    ROW_NUMBER() OVER (PARTITION BY id, subspace
        |                       ORDER BY d2, cell) rn
        |  FROM d)
        |SELECT subspace, cell, CAST(COUNT(*) AS BIGINT) n,
        |       CAST(u.i AS INTEGER) dim,
        |       ROUND(CAST(SUM(sv[u.i]) AS DOUBLE) / COUNT(*), 6) m
        |FROM a CROSS JOIN UNNEST(RANGE(1, 9)) u(i)
        |WHERE rn = 1
        |GROUP BY subspace, cell, u.i
        |ORDER BY subspace, cell, dim""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000)).as("vq"))
      val cbRows = emb.filter(col("vec_id") < 4).orderBy("vec_id")
        .collect() // 4 rows — the supplied-codebook fixture, like q108
        .map(_.getSeq[Long](1).map(_.toDouble).toArray)
      val codebooks = Array.tabulate(8) { sub =>
        cbRows.map(_.slice(sub * 8, (sub + 1) * 8))
      }
      Clustering.pqLloydStep(emb, "vec_id", "vq", codebooks)
        .select(col("subspace"), col("cell"), col("n"),
          posexplode(col("centroid")).as(Seq("dim", "m")))
        .select(col("subspace"), col("cell"), col("n"),
          (col("dim") + 1).cast("int").as("dim"),
          round(col("m"), 6).as("m"))
        .orderBy("subspace", "cell", "dim")
    },

    // Corpus×corpus approximate top-k join (Similarity.annJoin): every
    // embedding's 3 nearest neighbors through 2-of-8 probed IVF cells —
    // the tier for a 100 TB-class QUERY side where the broadcast-probe
    // tiers (q62/q76) stop applying. Supplied centroids (first 8
    // vectors — the q108 fixture discipline) make assignment, probe
    // ranking, candidate cosine and the top-k rank all exactly
    // replayable in SQL; the d² probe order and the NULL-sim drop
    // mirror cellExpr/probeExpr term for term.
    dfQ("q283_ann_join",
      """WITH c AS (
        |  SELECT CAST(vec_id AS INTEGER) cell, embedding::DOUBLE[] cv,
        |         LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)) c2
        |  FROM embeddings WHERE vec_id < 8),
        |e AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
        |d AS (
        |  SELECT e.id, c.cell, e.v,
        |    1 + c.c2 - 2 * SQRT(c.c2)
        |      * COALESCE(LIST_COSINE_SIMILARITY(e.v, c.cv), 0) d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT id, cell, v,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d),
        |corp AS (SELECT id, cell, v FROM a WHERE rn = 1),
        |probes AS (SELECT id qid, cell, v qv FROM a WHERE rn <= 2),
        |cand AS (
        |  SELECT p.qid, s.id, LIST_COSINE_SIMILARITY(p.qv, s.v) sim
        |  FROM probes p JOIN corp s ON p.cell = s.cell AND p.qid <> s.id
        |  WHERE LIST_COSINE_SIMILARITY(p.qv, s.v) IS NOT NULL),
        |r AS (
        |  SELECT qid, id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) rk
        |  FROM cand)
        |SELECT qid, id, ROUND(sim, 6) AS sim, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      Similarity.annJoin(emb, emb, "vec_id", "embedding", cents,
          k = 3, nprobe = 2)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("rk"))
        .orderBy("qid", "rk")
    },

    // Mutual-kNN pairs (Similarity.mutualKnnPairs): the reciprocity-
    // filtered edges of q283's kNN graph — the standard cleanup before
    // clustering near-dup groups (one-directional edges are density-rim
    // artifacts). The oracle rebuilds the same kNN table and joins it
    // to its own reversal; both endpoints' ranks are checked.
    dfQ("q284_mutual_knn",
      """WITH c AS (
        |  SELECT CAST(vec_id AS INTEGER) cell, embedding::DOUBLE[] cv,
        |         LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)) c2
        |  FROM embeddings WHERE vec_id < 8),
        |e AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
        |d AS (
        |  SELECT e.id, c.cell, e.v,
        |    1 + c.c2 - 2 * SQRT(c.c2)
        |      * COALESCE(LIST_COSINE_SIMILARITY(e.v, c.cv), 0) d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT id, cell, v,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d),
        |corp AS (SELECT id, cell, v FROM a WHERE rn = 1),
        |probes AS (SELECT id qid, cell, v qv FROM a WHERE rn <= 2),
        |cand AS (
        |  SELECT p.qid, s.id, LIST_COSINE_SIMILARITY(p.qv, s.v) sim
        |  FROM probes p JOIN corp s ON p.cell = s.cell AND p.qid <> s.id
        |  WHERE LIST_COSINE_SIMILARITY(p.qv, s.v) IS NOT NULL),
        |r AS (
        |  SELECT qid, id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) rk
        |  FROM cand),
        |knn AS (SELECT qid, id, sim, rk FROM r WHERE rk <= 3)
        |SELECT x.qid AS a, x.id AS b, ROUND(x.sim, 6) AS sim,
        |  CAST(x.rk AS BIGINT) AS rank_ab, CAST(y.rk AS BIGINT) AS rank_ba
        |FROM knn x JOIN knn y ON x.qid = y.id AND x.id = y.qid
        |WHERE x.qid < x.id ORDER BY a, b""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      Similarity.mutualKnnPairs(emb, "vec_id", "embedding", cents,
          k = 3, nprobe = 2)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"),
          col("rank_ab").cast("long").as("rank_ab"),
          col("rank_ba").cast("long").as("rank_ba"))
        .orderBy("a", "b")
    },

    // Cross-corpus ANN LINKING (Similarity.annJoin, excludeSelf=false —
    // the r12 ADVICE fix): queries are a DISTINCT frame (the first 30
    // vectors), so annJoin keeps a same-id match instead of silently
    // dropping it — here every query's rank-1 neighbor is its own
    // corpus copy at sim 1.0, which is exactly the coincidental-id
    // collision the structural queries-eq-corpus derivation must NOT
    // exclude. The oracle replays the q283 pipeline without the
    // self-filter and with the probe side restricted to the query ids.
    dfQ("q285_ann_link",
      """WITH c AS (
        |  SELECT CAST(vec_id AS INTEGER) cell, embedding::DOUBLE[] cv,
        |         LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)) c2
        |  FROM embeddings WHERE vec_id < 8),
        |e AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
        |d AS (
        |  SELECT e.id, c.cell, e.v,
        |    1 + c.c2 - 2 * SQRT(c.c2)
        |      * COALESCE(LIST_COSINE_SIMILARITY(e.v, c.cv), 0) d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT id, cell, v,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d),
        |corp AS (SELECT id, cell, v FROM a WHERE rn = 1),
        |probes AS (SELECT id qid, cell, v qv FROM a
        |  WHERE rn <= 2 AND id < 30),
        |cand AS (
        |  SELECT p.qid, s.id, LIST_COSINE_SIMILARITY(p.qv, s.v) sim
        |  FROM probes p JOIN corp s ON p.cell = s.cell
        |  WHERE LIST_COSINE_SIMILARITY(p.qv, s.v) IS NOT NULL),
        |r AS (
        |  SELECT qid, id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) rk
        |  FROM cand)
        |SELECT qid, id, ROUND(sim, 6) AS sim, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      val queries = emb.filter(col("vec_id") < 30)
      Similarity.annJoin(queries, emb, "vec_id", "embedding", cents,
          k = 3, nprobe = 2)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"),
          col("rank").cast("long").as("rk"))
        .orderBy("qid", "rk")
    },

    // SRP-LSH embedding near-dup (Similarity.srpNearDupPairs) —
    // Charikar sign-random-projection banding, the cosine-LSH third
    // tier next to BRP-euclidean (q77) and SemDeDup cells (q108).
    // Inputs on the q151 FLOOR integer grid so every plane dot is
    // exact in both engines (sign ties impossible to mis-replay);
    // planes = the first 32 quantized vectors (the fixture centroid
    // discipline), 8 bands × 4 bits, exact-cosine confirm at τ=0.3
    // (the fixture's directional spread puts band-8 collisions near
    // zero — 4-bit bands keep a non-trivial pair set at every SF).
    dfQ("q286_srp_neardup",
      """WITH e AS (
        |  SELECT vec_id id,
        |    LIST_TRANSFORM(embedding::DOUBLE[],
        |                   x -> CAST(FLOOR(x*1000) AS BIGINT)) v
        |  FROM embeddings),
        |p AS (SELECT CAST(id AS INTEGER) plane, v pv FROM e WHERE id < 32),
        |bits AS (
        |  SELECT e.id, p.plane // 4 band,
        |    CASE WHEN LIST_DOT_PRODUCT(e.v, p.pv) >= 0
        |      THEN (CAST(1 AS BIGINT) << (p.plane % 4)) ELSE 0 END bv
        |  FROM e CROSS JOIN p),
        |ks AS (SELECT id, band, CAST(SUM(bv) AS BIGINT) k
        |  FROM bits GROUP BY id, band),
        |cand AS (
        |  SELECT DISTINCT x.id a, y.id b FROM ks x
        |  JOIN ks y ON x.band = y.band AND x.k = y.k AND x.id < y.id),
        |pr AS (
        |  SELECT a, b,
        |    LIST_COSINE_SIMILARITY(ea.v::DOUBLE[], eb.v::DOUBLE[]) sim
        |  FROM cand JOIN e ea ON ea.id = cand.a JOIN e eb ON eb.id = cand.b)
        |SELECT a, b, ROUND(sim, 6) AS sim FROM pr
        |WHERE sim IS NOT NULL AND ROUND(sim, 6) >= 0.3
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000)).as("vq"))
      val planes = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").cast("int").as("plane"), col("vq").as("vec"))
      Similarity.srpNearDupPairs(emb, "vec_id", "vq", planes,
          bandBits = 4, threshold = 0.3)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy("a", "b")
    }
  )
}
