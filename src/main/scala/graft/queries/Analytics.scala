package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Components, Cut, Funnel, Indexing, Intervals, Layout, Merge,
  Resample, Rollup, Sampling, Stats, Survival}
import Support._

/** Round-8 analytics + pipeline additions (SURVEY.md §2 breadth):
  * PIVOT/UNPIVOT reshaping, single-pass correlation matrices, zone-map
  * pruning measurement, exact-integer PageRank, BM25 retrieval, and
  * temperature-smoothed mixture allocation.
  */
object Analytics {

  /** Shared morton-interleave SQL fragment (the q117 formulation) for
    * oracles that must replay the z-order code bit-for-bit. */
  private def mortonSql(bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"(((xi >> $i) & 1) << ${2 * i})",
      s"(((yi >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  /** Generated CTE chain replaying [[graft.ops.Layout.withHilbertCode]]
    * bit-for-bit: stage k reads (hx(k+1), hy(k+1), hd(k+1)) and writes
    * (hxk, hyk, hdk) — unique names per stage, so neither engine's
    * lateral-alias resolution can shadow an input column. Expects an
    * initial CTE `hs{bits}` with columns (l_orderkey, x, y, hx{bits},
    * hy{bits}, hd{bits}). */
  private def hilbertSql(bits: Int): String =
    ((bits - 1) to 0 by -1).map { k =>
      val s = 1L << k; val p = k + 1
      s"""hs$k AS (
         |  SELECT l_orderkey, x, y,
         |    CASE WHEN (hy$p & $s) > 0 THEN hx$p
         |         WHEN (hx$p & $s) > 0 THEN ${s - 1} - hy$p
         |         ELSE hy$p END hx$k,
         |    CASE WHEN (hy$p & $s) > 0 THEN hy$p
         |         WHEN (hx$p & $s) > 0 THEN ${s - 1} - hx$p
         |         ELSE hx$p END hy$k,
         |    hd$p + ${s * s} *
         |      XOR(3 * (CASE WHEN (hx$p & $s) > 0 THEN 1 ELSE 0 END),
         |          CASE WHEN (hy$p & $s) > 0 THEN 1 ELSE 0 END) hd$k
         |  FROM hs$p)""".stripMargin
    }.mkString(",\n")

  /** Generated CTE chain replaying k-core peeling rounds: s{r} =
    * survivors of s{r-1} with in-subgraph degree ≥ k. Fixed-depth
    * unrolling is sound because the fixed point is unique and extra
    * rounds past convergence are no-ops (fixtures converge in ≤ 6
    * rounds; 10 leaves margin). */
  private def kCoreSql(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each round references the previous one TWICE — inlining would
      // blow the plan up 2^rounds
      s"""s$r AS MATERIALIZED (
         |  SELECT u node FROM (
         |    SELECT e.u, COUNT(*) d FROM e
         |    JOIN s${r - 1} a ON e.u = a.node
         |    JOIN s${r - 1} b ON e.v = b.node
         |    GROUP BY e.u) t
         |  WHERE d >= $k)""".stripMargin
    }.mkString(",\n")

  val defs: Seq[Q] = Seq(

    // PIVOT — the wide reshaping operator (RelationalGroupedDataset
    // .pivot with EXPLICIT values: implicit value discovery is an extra
    // corpus scan and a nondeterministic column order, both wrong at
    // 100 TB). Spark leaves empty cells NULL (including counts — pivot
    // rewrites aggregates over an impossible predicate), DuckDB's
    // conditional COUNT yields 0, so the count columns are COALESCE'd
    // on the Spark side to pin one semantics.
    dfQ("q154_pivot",
      """SELECT l_returnflag,
        |  SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) f_qty,
        |  CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) f_n,
        |  SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) o_qty,
        |  CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) o_n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("F_qty").as("f_qty"), coalesce(col("F_n"), lit(0L)).as("f_n"),
          col("O_qty").as("o_qty"), coalesce(col("O_n"), lit(0L)).as("o_n"))
        .orderBy("l_returnflag")
    },

    // UNPIVOT (SQL:2016 / Dataset.unpivot): long reshaping — the
    // measure matrix melts to (keys, measure, val) rows. A pure
    // narrow projection+generate, no shuffle. (l_orderkey,
    // l_linenumber) is NOT unique in the fixture, so the sort covers
    // every projected column — the round-7 row-order lesson.
    dfQ("q155_unpivot",
      """SELECT l_orderkey, l_linenumber, 'l_quantity' measure, l_quantity val
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, measure, val""".stripMargin) { (s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure", "val")
    },

    // Single-pass correlation/covariance matrix (ops/Stats): all pairs
    // from ONE scan — the naive per-pair df.stat.corr loop is
    // k(k−1)/2 scans of a 100 TB table. q28 is the single-pair
    // precedent for cross-engine corr agreement at 4dp.
    dfQ("q156_corr_matrix",
      """SELECT * FROM (
        |  SELECT 'l_discount' col_a, 'l_extendedprice' col_b,
        |    ROUND(CORR(l_discount, l_extendedprice), 4) + 0.0 corr,
        |    ROUND(COVAR_SAMP(l_discount, l_extendedprice), 4) + 0.0 cov
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', 'l_quantity',
        |    ROUND(CORR(l_discount, l_quantity), 4) + 0.0, ROUND(COVAR_SAMP(l_discount, l_quantity), 4) + 0.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', 'l_tax',
        |    ROUND(CORR(l_discount, l_tax), 4) + 0.0, ROUND(COVAR_SAMP(l_discount, l_tax), 4) + 0.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_quantity',
        |    ROUND(CORR(l_extendedprice, l_quantity), 4) + 0.0, ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) + 0.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_tax',
        |    ROUND(CORR(l_extendedprice, l_tax), 4) + 0.0, ROUND(COVAR_SAMP(l_extendedprice, l_tax), 4) + 0.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax',
        |    ROUND(CORR(l_quantity, l_tax), 4) + 0.0, ROUND(COVAR_SAMP(l_quantity, l_tax), 4) + 0.0
        |  FROM lineitem) t
        |ORDER BY col_a, col_b""".stripMargin) { (s, d) =>
      // + 0.0 normalizes IEEE negative zero: DuckDB ROUND keeps the sign of
      // a tiny negative (-0.0) while Spark round (BigDecimal) drops it, and
      // the driver serializer distinguishes "-0.0" from "0.0" (the one
      // divergence the r8/r9 harness found here).
      Stats.corrMatrix(Tables.table(s, d, "lineitem"),
          Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .select(col("col_a"), col("col_b"),
          (round(col("corr"), 4) + 0.0).as("corr"),
          (round(col("cov"), 4) + 0.0).as("cov"))
        .orderBy("col_a", "col_b")
    },

    // Zone-map pruning report (ops/Layout.pruningReport): DOES the
    // z-order layout beat the natural sort for a 2-D box probe? Chunks
    // are equal-width key ranges (pure integer projection), zone maps
    // are per-chunk (min,max), and the oracle replays rank scaling,
    // the full bit interleave, chunking, and the box test — the whole
    // measurement is hash-checked. The suite asserts the z layout
    // reads fewer chunks than the natural one.
    dfQ("q157_pruning_report",
      s"""WITH b AS (SELECT MIN(l_partkey) xlo, MAX(l_partkey) xhi,
         |             MIN(l_suppkey) ylo, MAX(l_suppkey) yhi FROM lineitem),
         |sc AS (
         |  SELECT l_orderkey, l_partkey x, l_suppkey y,
         |    ((l_partkey - xlo) * 255) // GREATEST(xhi - xlo, 1) xi,
         |    ((l_suppkey - ylo) * 255) // GREATEST(yhi - ylo, 1) yi
         |  FROM lineitem CROSS JOIN b),
         |z AS (SELECT l_orderkey, x, y,
         |        CAST(${mortonSql(8)} AS BIGINT) z FROM sc),
         |kn AS (SELECT MIN(l_orderkey) lo, MAX(l_orderkey) hi FROM z),
         |cn AS (
         |  SELECT ((l_orderkey - lo) * 64) // (hi - lo + 1) chunk,
         |    COUNT(*) nr, MIN(x) xmin, MAX(x) xmax, MIN(y) ymin, MAX(y) ymax
         |  FROM z CROSS JOIN kn GROUP BY 1),
         |kz AS (SELECT MIN(z) lo, MAX(z) hi FROM z),
         |cz AS (
         |  SELECT ((z - lo) * 64) // (hi - lo + 1) chunk,
         |    COUNT(*) nr, MIN(x) xmin, MAX(x) xmax, MIN(y) ymin, MAX(y) ymax
         |  FROM z CROSS JOIN kz GROUP BY 1),
         |rep AS (
         |  SELECT 'natural' layout, CAST(COUNT(*) AS BIGINT) n_chunks,
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40 OR ymax < 1 OR ymin > 4)
         |             THEN 1 ELSE 0 END) AS BIGINT) chunks_hit,
         |    CAST(SUM(nr) AS BIGINT) rows_total,
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40 OR ymax < 1 OR ymin > 4)
         |             THEN nr ELSE 0 END) AS BIGINT) rows_read
         |  FROM cn
         |  UNION ALL
         |  SELECT 'zorder', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40 OR ymax < 1 OR ymin > 4)
         |             THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(SUM(nr) AS BIGINT),
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40 OR ymax < 1 OR ymin > 4)
         |             THEN nr ELSE 0 END) AS BIGINT)
         |  FROM cz)
         |SELECT * FROM rep ORDER BY layout""".stripMargin) { (s, d) =>
      val withz = Layout.withZ(Tables.table(s, d, "lineitem"),
        "l_partkey", "l_suppkey", bits = 8)
      Layout.pruningReport(withz,
          Seq(("natural", col("l_orderkey")), ("zorder", col("z"))),
          chunks = 64, "l_partkey", "l_suppkey",
          xLo = 1L, xHi = 40L, yLo = 1L, yHi = 4L)
        .orderBy("layout")
    },

    // Exact-integer PageRank (ops/Components.pageRankExact) over the
    // symmetrized part↔supplier co-occurrence graph (node id = 2·part /
    // 2·supp+1 keeps the key spaces disjoint). Integer micro-ranks make
    // the iteration order-free and bit-identical on any engine, so all
    // three unrolled iterations hash-check — floats would differ in
    // final ulps per partitioning.
    dfQ("q158_pagerank",
      """WITH raw AS (
        |  SELECT DISTINCT l_partkey * 2 u, l_suppkey * 2 + 1 v
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT u, v FROM raw UNION SELECT v, u FROM raw),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) outdeg FROM e GROUP BY u),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) nn FROM deg),
        |pr0 AS (SELECT u node, 1000000 // nn pr FROM deg CROSS JOIN n),
        |c1 AS (
        |  SELECT e.v node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) s
        |  FROM e JOIN pr0 p ON e.u = p.node JOIN deg d ON d.u = e.u
        |  GROUP BY e.v),
        |pr1 AS (
        |  SELECT deg.u node,
        |    (15 * 1000000) // (100 * nn) + (85 * COALESCE(c1.s, 0)) // 100 pr
        |  FROM deg CROSS JOIN n LEFT JOIN c1 ON c1.node = deg.u),
        |c2 AS (
        |  SELECT e.v node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) s
        |  FROM e JOIN pr1 p ON e.u = p.node JOIN deg d ON d.u = e.u
        |  GROUP BY e.v),
        |pr2 AS (
        |  SELECT deg.u node,
        |    (15 * 1000000) // (100 * nn) + (85 * COALESCE(c2.s, 0)) // 100 pr
        |  FROM deg CROSS JOIN n LEFT JOIN c2 ON c2.node = deg.u),
        |c3 AS (
        |  SELECT e.v node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) s
        |  FROM e JOIN pr2 p ON e.u = p.node JOIN deg d ON d.u = e.u
        |  GROUP BY e.v),
        |pr3 AS (
        |  SELECT deg.u node,
        |    (15 * 1000000) // (100 * nn) + (85 * COALESCE(c3.s, 0)) // 100 pr
        |  FROM deg CROSS JOIN n LEFT JOIN c3 ON c3.node = deg.u)
        |SELECT node, CAST(pr AS BIGINT) pr FROM pr3 ORDER BY node""".stripMargin) { (s, d) =>
      val edges = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select((col("l_partkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
      Components.pageRankExact(edges, "u", "v", iters = 3)
        .orderBy("node")
    },

    // BM25 ranked retrieval (ops/Indexing.bm25) for a 3-term query.
    // Constants are dyadic (k1 = 1.5, b = 0.75 ⇒ k1+1 = 2.5, 1−b =
    // 0.25 — exact in binary, unlike the textbook 1.2 whose +1 is a
    // round-to-even tie), corpus stats divide ONCE, and the per-doc
    // term sum folds in sorted term order on both engines, so the
    // score is reproducible to the last ulp and rounds stably at 6dp.
    dfQ("q159_bm25",
      """WITH tk AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) term
        |    FROM documents) t WHERE term <> ''),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) dl FROM tk GROUP BY doc_id),
        |st AS (SELECT CAST(SUM(dl) AS BIGINT) tot, CAST(COUNT(*) AS BIGINT) nd FROM dl),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) tf FROM tk
        |  WHERE term IN ('data', 'fast', 'spark') GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) dfq
        |        FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    (FLOOR(LN(1 + (nd - dfq + 0.5) / (dfq + 0.5)) * 67108864.0)
        |      / 67108864.0) * (tf * (1.5 + 1)) /
        |      (tf + 1.5 * (0.25 + 0.75 * dl / (CAST(tot AS DOUBLE) / nd))) s
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |cum AS (
        |  SELECT doc_id,
        |    SUM(s) OVER (PARTITION BY doc_id ORDER BY term
        |                 ROWS UNBOUNDED PRECEDING) cs,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY term DESC) rn,
        |    COUNT(*) OVER (PARTITION BY doc_id) nt
        |  FROM sc)
        |SELECT doc_id, CAST(nt AS BIGINT) n_terms, ROUND(cs, 6) score
        |FROM cum WHERE rn = 1
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      Indexing.bm25(Tables.table(s, d, "documents"), "doc_id", "text",
          Seq("data", "fast", "spark"), k1 = 1.5, b = 0.75)
        .select(col("doc").as("doc_id"), col("n_terms"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    },

    // Temperature-smoothed mixture allocation (ops/Sampling
    // .temperatureAllocation, α = 0.5): the per-source budget a
    // T5-style mixture gives the training sampler. English-only docs
    // so the per-source sizes actually vary. α = ½ routes through
    // SQRT (IEEE-exact on both engines, unlike POWER); the remainder
    // ranking and ±1 distribution are fully replayed by the oracle.
    dfQ("q160_temp_mixture",
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) n_docs,
        |         SQRT(CAST(COUNT(*) AS DOUBLE)) w
        |  FROM documents WHERE lang = 'en' GROUP BY source),
        |t AS (
        |  SELECT source, w,
        |    SUM(w) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) cw
        |  FROM c),
        |tot AS (SELECT cw sumw FROM t ORDER BY source DESC LIMIT 1),
        |f AS (
        |  SELECT source, n_docs,
        |    CAST(FLOOR(10000 * w / sumw) AS BIGINT) base,
        |    10000 * w / sumw - FLOOR(10000 * w / sumw) frac
        |  FROM c CROSS JOIN tot),
        |l AS (SELECT 10000 - CAST(SUM(base) AS BIGINT) lv FROM f),
        |r AS (
        |  SELECT source, n_docs, base,
        |    ROW_NUMBER() OVER (ORDER BY frac DESC, source) rk
        |  FROM f)
        |SELECT source, n_docs,
        |  base + CASE WHEN rk <= lv THEN 1 ELSE 0 END alloc
        |FROM r CROSS JOIN l ORDER BY source""".stripMargin) { (s, d) =>
      Sampling.temperatureAllocation(
          Tables.table(s, d, "documents").filter(col("lang") === "en"),
          "source", alpha = 0.5, budget = 10000L)
        .orderBy("source")
    },

    // Per-node triangle counts (ops/Components.triangleCounts) over the
    // part-co-occurrence graph (parts folded mod 300 so the graph is
    // dense enough to contain triangles at every SF). Degree
    // orientation bounds the wedge fan-out by O(√E) per node — the
    // Suri-Vassilvitskii fix for the last-reducer hub problem — and
    // the oracle replays the whole count with plain 3-way joins, so
    // the orientation trick is verified against the textbook
    // definition, not against itself.
    dfQ("q161_triangles",
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (
        |  SELECT DISTINCT a.p u, b.p v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |t AS (
        |  SELECT e1.u a, e1.v b, e2.v c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, CAST(COUNT(*) AS BIGINT) triangles FROM (
        |  SELECT a node FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t) x
        |GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      Components.triangleCounts(e, "pa", "pb").orderBy("node")
    },

    // Per-group winsorization (ops/Quality.winsorize): clip
    // l_extendedprice at its group's exact [p05, p95] — ONE grouped
    // percentile aggregation broadcast back, clipping as a projection.
    // The oracle recomputes bounds, clip counts, and the winsorized
    // mean (float AVG is safe here: the cross-engine sum-order noise is
    // ~1e-9 relative on this magnitude, far under the 4dp round).
    dfQ("q162_winsorize",
      """WITH b AS (
        |  SELECT l_returnflag,
        |    PERCENTILE_CONT(0.05) WITHIN GROUP (ORDER BY l_extendedprice) lo,
        |    PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY l_extendedprice) hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        |  CAST(COUNT(CASE WHEN l_extendedprice < lo THEN 1 END) AS BIGINT) n_lo,
        |  CAST(COUNT(CASE WHEN l_extendedprice > hi THEN 1 END) AS BIGINT) n_hi,
        |  ROUND(AVG(CASE WHEN l_extendedprice < lo THEN lo
        |            WHEN l_extendedprice > hi THEN hi
        |            ELSE l_extendedprice END), 4) w_mean,
        |  ROUND(MAX(lo), 4) lo, ROUND(MAX(hi), 4) hi
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (s, d) =>
      graft.ops.Quality.winsorize(Tables.table(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice", pLo = 0.05, pHi = 0.95)
        .groupBy("l_returnflag")
        .agg(
          count(when(col("l_extendedprice") < col("lo"), 1)).as("n_lo"),
          count(when(col("l_extendedprice") > col("hi"), 1)).as("n_hi"),
          round(avg(col("l_extendedprice_w")), 4).as("w_mean"),
          round(max("lo"), 4).as("lo"), round(max("hi"), 4).as("hi"))
        .orderBy("l_returnflag")
    },

    // Ordered signup → click → purchase funnel (ops/Funnel.funnel):
    // per-user step times under greedy-earliest semantics (optimal for
    // reachability — an earlier feasible step only widens the next
    // window, so no backtracking). Exact timestamps, k user-keyed
    // joins, and the oracle replays each step as a conditional-MIN
    // left join, so the step semantics are hash-checked per user.
    dfQ("q163_funnel",
      """WITH s1 AS (
        |  SELECT user_id u, MIN(ts) t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.u, MIN(s1.t1) t1,
        |    MIN(CASE WHEN e.ts > s1.t1 THEN e.ts END) t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.u AND e.event_type = 'click'
        |  GROUP BY s1.u),
        |s3 AS (
        |  SELECT s2.u, MIN(s2.t1) t1, MIN(s2.t2) t2,
        |    MIN(CASE WHEN e.ts > s2.t2 THEN e.ts END) t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.u AND e.event_type = 'purchase'
        |  GROUP BY s2.u)
        |SELECT u user_id, DATE_TRUNC('second', t1) t1,
        |  DATE_TRUNC('second', t2) t2, DATE_TRUNC('second', t3) t3
        |FROM s3 ORDER BY user_id""".stripMargin) { (s, d) =>
      // Step predicates compare RAW microsecond timestamps; only the
      // serialized output is second-truncated (SURVEY 5.3, the q244
      // convention applied corpus-wide in r10).
      graft.ops.Funnel.funnel(Tables.events(s, d), "user_id", "event_type",
          "ts", Seq("signup", "click", "purchase"))
        .select(col("user").as("user_id"),
          date_trunc("second", col("t1")).as("t1"),
          date_trunc("second", col("t2")).as("t2"),
          date_trunc("second", col("t3")).as("t3"))
        .orderBy("user_id")
    },

    // Cohort retention (ops/Funnel.retention): users bucketed by
    // first-event day, distinct active users per (cohort, week
    // offset). Day truncation + integer-day floor-division avoids
    // engine week-start conventions — exact dates and integers
    // throughout.
    dfQ("q164_retention",
      """WITH a AS (
        |  SELECT DISTINCT user_id u, CAST(ts AS DATE) AS dy FROM events),
        |c AS (SELECT u, MIN(dy) cohort FROM a GROUP BY u)
        |SELECT cohort, CAST((a.dy - c.cohort) // 7 AS INT) week_offset,
        |  CAST(COUNT(DISTINCT a.u) AS BIGINT) users
        |FROM a JOIN c ON a.u = c.u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Funnel.retention(Tables.events(s, d), "user_id", "ts")
        .orderBy("cohort", "week_offset")
    },

    // First-order Markov transition matrix over per-user event
    // sequences (ops/Funnel.transitions): LEAD over (ts, event_id) —
    // the tie column makes the sequence deterministic — then a grouped
    // count on ≤ |types|² keys; probability = one integer division.
    dfQ("q165_transitions",
      """WITH s AS (
        |  SELECT event_type ft,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) nt
        |  FROM events),
        |c AS (
        |  SELECT ft from_type, nt to_type, CAST(COUNT(*) AS BIGINT) n
        |  FROM s WHERE nt IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE) /
        |        CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) p
        |FROM c ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      graft.ops.Funnel.transitions(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type")
    },

    // Welch two-sample t-test per event_type (ops/Stats.welchT): does
    // `value` differ between even and odd user ids? Both cohorts'
    // moments ride ONE grouped aggregation as conditional columns; the
    // t / Welch-Satterthwaite df formulas are a projection (squares
    // spelled x*x — pow() may ulp-differ between libm and the JVM).
    dfQ("q166_welch_t",
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) n1,
        |    AVG(CASE WHEN user_id % 2 = 0 THEN value END) m1,
        |    VAR_SAMP(CASE WHEN user_id % 2 = 0 THEN value END) v1,
        |    CAST(COUNT(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS BIGINT) n2,
        |    AVG(CASE WHEN user_id % 2 <> 0 THEN value END) m2,
        |    VAR_SAMP(CASE WHEN user_id % 2 <> 0 THEN value END) v2
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n1, n2, ROUND(m1, 4) m1, ROUND(m2, 4) m2,
        |  ROUND((m1 - m2) / SQRT(v1/n1 + v2/n2), 4) t,
        |  ROUND((v1/n1 + v2/n2) * (v1/n1 + v2/n2) /
        |        ((v1/n1) * (v1/n1) / (n1 - 1) +
        |         (v2/n2) * (v2/n2) / (n2 - 1)), 4) df
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      graft.ops.Stats.welchT(
          Tables.events(s, d).filter(col("value").isNotNull),
          "event_type", col("user_id") % 2 === 0, "value")
        .select(col("event_type"), col("n1"), col("n2"),
          round(col("m1"), 4).as("m1"), round(col("m2"), 4).as("m2"),
          round(col("t"), 4).as("t"), round(col("df"), 4).as("df"))
        .orderBy("event_type")
    },

    // Equi-depth histogram (ops/Stats.equiDepthHistogram): 8 buckets so
    // every boundary percentage k/8 is binary-exact; boundaries come
    // from one exact interpolating percentile pass, assignment is a
    // strict-below count over the broadcast boundary array. Boundary
    // ties only arise where the boundary IS a data value (zero
    // interpolation), which both engines produce bit-identically.
    dfQ("q167_equidepth_hist",
      """WITH b AS (
        |  SELECT quantile_cont(l_extendedprice,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) bnds
        |  FROM lineitem),
        |a AS (
        |  SELECT l_extendedprice x,
        |    CAST(LEN(LIST_FILTER(bnds, e -> x > e)) AS INT) bucket
        |  FROM lineitem CROSS JOIN b)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) n,
        |  ROUND(MIN(x), 4) lo, ROUND(MAX(x), 4) hi
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      graft.ops.Stats.equiDepthHistogram(
          Tables.table(s, d, "lineitem"), "l_extendedprice", buckets = 8)
        .select(col("bucket"), col("n"),
          round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
        .orderBy("bucket")
    },

    // Rolling distinct-count window — a dialect bridge: Spark has no
    // COUNT(DISTINCT) OVER, so the engine spells it
    // size(collect_set() OVER) while the oracle uses DuckDB's native
    // distinct window aggregate; the hash compare proves the two
    // formulations equivalent. Partitioned by event_type (the rolling
    // stream per type); (ts, event_id) ordering is a total order.
    dfQ("q168_rolling_distinct",
      """SELECT event_type, event_id,
        |  CAST(COUNT(DISTINCT user_id) OVER (PARTITION BY event_type
        |       ORDER BY ts, event_id
        |       ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS BIGINT) du
        |FROM events
        |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ts", "event_id")
        .rowsBetween(-49, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          size(collect_set(col("user_id")).over(w)).cast("long").as("du"))
        .orderBy("event_type", "event_id")
    },

    // Image near-dup pairs (ops/Multimodal.imageNearDupPairs):
    // perceptual dHash over REAL decoded PNGs + the banded-Hamming
    // pigeonhole join — the image analogue of SimHash text dedup.
    // Media payloads are synthesized Spark-side (no SQL oracle exists
    // for image decode → rows-only driver check; exact expectations
    // are suite-pinned); re-encoded copies of the first image rows are
    // planted under shifted ids and land at Hamming 0.
    Support.sparkOnly("q169_image_neardup") { (s, d) =>
      import graft.ops.Multimodal
      val spark = s
      import spark.implicits._
      val media = Multimodal.mediaFromDocuments(
        Tables.table(s, d, "documents"))
      val planted = media
        .filter((m: Multimodal.MediaRow) =>
          m.kind == "image" && m.media_id < 60)
        .map((m: Multimodal.MediaRow) => m.copy(media_id = m.media_id + 1000000L))
      Multimodal.imageNearDupPairs(media.union(planted), maxDist = 3)
        .orderBy("a", "b")
    },

    // Set-overlap similarity join with lossless prefix filtering
    // (ops/FuzzyJoin.overlapJoin, the PPJoin principle): the oracle is
    // the TEXTBOOK all-pairs token-intersection join, so the
    // prefix-filter optimization is verified against the definition —
    // every qualifying pair found, every reported overlap exact.
    dfQ("q170_overlap_join",
      """WITH tk AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) tok
        |    FROM documents WHERE doc_id < 400) t WHERE tok <> ''),
        |p AS (
        |  SELECT a.doc_id a, b.doc_id b, CAST(COUNT(*) AS BIGINT) overlap
        |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, overlap FROM p WHERE overlap >= 28
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      graft.ops.FuzzyJoin.overlapJoin(
          Tables.table(s, d, "documents").filter(col("doc_id") < 400),
          "doc_id", "text", minOverlap = 28)
        .orderBy("a", "b")
    },

    // Personalized PageRank (q158's exact-integer machinery with the
    // teleport and initial mass restricted to a SEED set — rank
    // relative to the seeds, the related-items formulation). Same
    // bit-identical integer semantics, so three unrolled iterations
    // hash-check against the seed-conditional replay.
    dfQ("q171_personalized_pagerank",
      """WITH raw AS (
        |  SELECT DISTINCT l_partkey * 2 u, l_suppkey * 2 + 1 v
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT u, v FROM raw UNION SELECT v, u FROM raw),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) outdeg FROM e GROUP BY u),
        |sd AS (SELECT CAST(COUNT(*) AS BIGINT) ns FROM deg
        |       WHERE u % 2 = 0 AND u < 200),
        |pr0 AS (
        |  SELECT u node, CASE WHEN u % 2 = 0 AND u < 200
        |    THEN 1000000 // ns ELSE 0 END pr
        |  FROM deg CROSS JOIN sd),
        |c1 AS (
        |  SELECT e.v node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) s
        |  FROM e JOIN pr0 p ON e.u = p.node JOIN deg d ON d.u = e.u
        |  GROUP BY e.v),
        |pr1 AS (
        |  SELECT deg.u node, CASE WHEN deg.u % 2 = 0 AND deg.u < 200
        |    THEN (15 * 1000000) // (100 * ns) ELSE 0 END
        |    + (85 * COALESCE(c1.s, 0)) // 100 pr
        |  FROM deg CROSS JOIN sd LEFT JOIN c1 ON c1.node = deg.u),
        |c2 AS (
        |  SELECT e.v node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) s
        |  FROM e JOIN pr1 p ON e.u = p.node JOIN deg d ON d.u = e.u
        |  GROUP BY e.v),
        |pr2 AS (
        |  SELECT deg.u node, CASE WHEN deg.u % 2 = 0 AND deg.u < 200
        |    THEN (15 * 1000000) // (100 * ns) ELSE 0 END
        |    + (85 * COALESCE(c2.s, 0)) // 100 pr
        |  FROM deg CROSS JOIN sd LEFT JOIN c2 ON c2.node = deg.u),
        |c3 AS (
        |  SELECT e.v node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) s
        |  FROM e JOIN pr2 p ON e.u = p.node JOIN deg d ON d.u = e.u
        |  GROUP BY e.v),
        |pr3 AS (
        |  SELECT deg.u node, CASE WHEN deg.u % 2 = 0 AND deg.u < 200
        |    THEN (15 * 1000000) // (100 * ns) ELSE 0 END
        |    + (85 * COALESCE(c3.s, 0)) // 100 pr
        |  FROM deg CROSS JOIN sd LEFT JOIN c3 ON c3.node = deg.u)
        |SELECT node, CAST(pr AS BIGINT) pr FROM pr3
        |ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
      val edges = li.select((col("l_partkey") * 2).as("u"),
        (col("l_suppkey") * 2 + 1).as("v"))
      val seeds = li.filter(col("l_partkey") < 100)
        .select((col("l_partkey") * 2).as("node")).distinct()
      Components.pageRankExact(edges, "u", "v", iters = 3,
          seeds = Some(seeds))
        .orderBy("node")
    },

    // Incremental rollup maintenance (ops/Rollup): a standing per-key
    // aggregate table absorbs a pre-aggregated delta batch through the
    // measures' monoid — count/sum add, min/max meet — without
    // rescanning history. The oracle recomputes the rollup from ALL
    // raw rows in one GROUP BY, so the hash proves
    // merge(init(A), agg(B)) ≡ init(A ∪ B) exactly (sums in integer
    // cents, the q121 discipline — double sums are merge-order
    // sensitive, monoid state must not be).
    dfQ("q172_incremental_rollup",
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    sum_cents,
        |  MIN(o_orderdate) min_date, MAX(o_orderdate) max_date
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val orders = Tables.table(s, d, "orders").withColumn("cents",
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
      val measures = Seq(
        Rollup.Measure.rowCount("n"),
        Rollup.Measure.sumOf("sum_cents", col("cents")),
        Rollup.Measure.minOf("min_date", col("o_orderdate")),
        Rollup.Measure.maxOf("max_date", col("o_orderdate")))
      val standing = Rollup.aggregate(
        orders.filter(col("o_orderkey") % 4 =!= 0), Seq("o_custkey"),
        measures)
      Rollup.mergeRaw(standing, orders.filter(col("o_orderkey") % 4 === 0),
          Seq("o_custkey"), measures)
        .orderBy("o_custkey")
    },

    // ROC-AUC (Stats.rocAuc): Mann–Whitney rank-sum with half-credit
    // ties, all-integer until ONE final division — the
    // quality-classifier evaluation readout. The oracle replays the
    // per-score collapse, the running negative prefix, and the same
    // single division, so even the double `auc` hash-matches
    // bit-for-bit.
    dfQ("q173_roc_auc",
      """WITH ps AS (
        |  SELECT value s,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) p,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) g
        |  FROM events GROUP BY value),
        |c AS (
        |  SELECT p, g, COALESCE(SUM(g) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) nb
        |  FROM ps)
        |SELECT CAST(SUM(p) AS BIGINT) n_pos, CAST(SUM(g) AS BIGINT) n_neg,
        |  CAST(SUM(p * (2 * nb + g)) AS BIGINT) num2,
        |  CAST(SUM(p * (2 * nb + g)) AS DOUBLE)
        |    / (2.0 * CAST(SUM(p) AS BIGINT) * CAST(SUM(g) AS BIGINT)) auc
        |FROM c""".stripMargin) { (s, d) =>
      Stats.rocAuc(Tables.table(s, d, "events"),
        col("value"), col("event_type") === "purchase")
    },

    // Calibration bins (Stats.calibrationBins): equal-width score bins
    // with observed positive rate and exact-integer mean score — the
    // companion diagnostic to q173. Counts exact, rates and means are
    // single divisions, so the whole table hash-replays.
    dfQ("q174_calibration",
      """SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS BIGINT),
        |    0), 7) bin,
        |  CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) pos,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*) pos_rate,
        |  CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS DOUBLE) / (100.0 * COUNT(*)) mean_score
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Stats.calibrationBins(Tables.table(s, d, "events"),
          col("value"), col("event_type") === "purchase",
          bins = 8, lo = 0.0, hi = 400.0)
        .orderBy("bin")
    },

    // Chi-squared independence + Cramér's V (Stats.chiSquared) between
    // two categorical columns. Cell counts and marginals stay integral;
    // each cell contributes (o·N − r·c)²/(r·c·N) with exactly one
    // square and one division, and the statistic folds in sorted cell
    // order via a running window sum (the q159 discipline) — so both
    // doubles hash-match bit-for-bit. The oracle replays the whole
    // pipeline including the dof/V derivation.
    dfQ("q175_chi_squared",
      """WITH cells AS (
        |  SELECT o_orderstatus a, o_orderpriority b,
        |         CAST(COUNT(*) AS BIGINT) o
        |  FROM orders GROUP BY 1, 2),
        |t AS (
        |  SELECT a, b, o,
        |    CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) r,
        |    CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) c,
        |    CAST(SUM(o) OVER () AS BIGINT) n,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) = 1
        |      THEN 1 ELSE 0 END fa,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) = 1
        |      THEN 1 ELSE 0 END fb
        |  FROM cells),
        |u AS (
        |  SELECT a, b, n,
        |    CAST(SUM(fa) OVER () AS BIGINT) na,
        |    CAST(SUM(fb) OVER () AS BIGINT) nb,
        |    CAST(o * n - r * c AS DOUBLE) d,
        |    CAST(r AS DOUBLE) * c * n den
        |  FROM t),
        |cum AS (
        |  SELECT n, na, nb,
        |    SUM(d * d / den) OVER (ORDER BY a, b
        |      ROWS UNBOUNDED PRECEDING) chi2,
        |    ROW_NUMBER() OVER (ORDER BY a DESC, b DESC) rn
        |  FROM u)
        |SELECT chi2, CAST((na - 1) * (nb - 1) AS BIGINT) dof,
        |  CAST(n AS BIGINT) n,
        |  SQRT(chi2 / (n * LEAST(na - 1, nb - 1))) cramers_v
        |FROM cum WHERE rn = 1""".stripMargin) { (s, d) =>
      Stats.chiSquared(Tables.table(s, d, "orders"),
        "o_orderstatus", "o_orderpriority")
    },

    // Johnson–Lindenstrauss random projection (ops/Projection): 64-dim
    // float embeddings onto 8 MD5-derived ±1 directions. The sign
    // family is the q73b MD5 convention (both engines compute it),
    // and each component folds in ascending index order — Spark via
    // the aggregate() HOF over a literal sign matrix, DuckDB via a
    // running window sum — so the doubles hash-match bit-for-bit.
    dfQ("q176_random_projection",
      """WITH t AS (
        |  SELECT vec_id, j, i,
        |    CASE WHEN CAST(CONCAT('0x',
        |        SUBSTRING(MD5(CONCAT('jl_', i - 1, '_', j)), 1, 1))
        |        AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END
        |      * CAST(embedding[i] AS DOUBLE) term
        |  FROM embeddings
        |  CROSS JOIN UNNEST(RANGE(0, 8)) a(j)
        |  CROSS JOIN UNNEST(RANGE(1, 65)) b(i)),
        |cum AS (
        |  SELECT vec_id, j,
        |    SUM(term) OVER (PARTITION BY vec_id, j ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) y,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY i DESC) rn
        |  FROM t)
        |SELECT vec_id, j, y FROM cum WHERE rn = 1
        |ORDER BY vec_id, j""".stripMargin) { (s, d) =>
      graft.ops.Projection.randomProjection(
          Tables.table(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, outDim = 8)
        .orderBy("vec_id", "j")
    },

    // Hilbert-curve layout (Layout.withH / hilbertOrderBy) measured by
    // the q157 pruning harness on the SAME box: the curve never jumps
    // (consecutive indexes are grid neighbors — suite-asserted), so
    // range-partitioned chunks get tighter rectangles than Morton's
    // quadrant seams. The oracle replays rank scaling, all 8 unrolled
    // quadrant-rotation stages, chunking, and the box test — exact
    // integers end-to-end.
    dfQ("q177_hilbert_pruning",
      s"""WITH b AS (SELECT MIN(l_partkey) xlo, MAX(l_partkey) xhi,
         |             MIN(l_suppkey) ylo, MAX(l_suppkey) yhi FROM lineitem),
         |sc AS (
         |  SELECT l_orderkey, l_partkey x, l_suppkey y,
         |    ((l_partkey - xlo) * 255) // GREATEST(xhi - xlo, 1) xi,
         |    ((l_suppkey - ylo) * 255) // GREATEST(yhi - ylo, 1) yi
         |  FROM lineitem CROSS JOIN b),
         |hs8 AS (SELECT l_orderkey, x, y, xi hx8, yi hy8,
         |          CAST(0 AS BIGINT) hd8 FROM sc),
         |${hilbertSql(8)},
         |h AS (SELECT l_orderkey, x, y, CAST(hd0 AS BIGINT) h FROM hs0),
         |kh AS (SELECT MIN(h) lo, MAX(h) hi FROM h),
         |ch AS (
         |  SELECT ((h - lo) * 64) // (hi - lo + 1) chunk,
         |    COUNT(*) nr, MIN(x) xmin, MAX(x) xmax, MIN(y) ymin, MAX(y) ymax
         |  FROM h CROSS JOIN kh GROUP BY 1),
         |kn AS (SELECT MIN(l_orderkey) lo, MAX(l_orderkey) hi FROM h),
         |cn AS (
         |  SELECT ((l_orderkey - lo) * 64) // (hi - lo + 1) chunk,
         |    COUNT(*) nr, MIN(x) xmin, MAX(x) xmax, MIN(y) ymin, MAX(y) ymax
         |  FROM h CROSS JOIN kn GROUP BY 1),
         |rep AS (
         |  SELECT 'hilbert' layout, CAST(COUNT(*) AS BIGINT) n_chunks,
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40
         |                            OR ymax < 1 OR ymin > 4)
         |             THEN 1 ELSE 0 END) AS BIGINT) chunks_hit,
         |    CAST(SUM(nr) AS BIGINT) rows_total,
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40
         |                            OR ymax < 1 OR ymin > 4)
         |             THEN nr ELSE 0 END) AS BIGINT) rows_read
         |  FROM ch
         |  UNION ALL
         |  SELECT 'natural', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40
         |                            OR ymax < 1 OR ymin > 4)
         |             THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(SUM(nr) AS BIGINT),
         |    CAST(SUM(CASE WHEN NOT (xmax < 1 OR xmin > 40
         |                            OR ymax < 1 OR ymin > 4)
         |             THEN nr ELSE 0 END) AS BIGINT)
         |  FROM cn)
         |SELECT * FROM rep ORDER BY layout""".stripMargin) { (s, d) =>
      val withh = Layout.withH(Tables.table(s, d, "lineitem"),
        "l_partkey", "l_suppkey", bits = 8)
      Layout.pruningReport(withh,
          Seq(("hilbert", col("h")), ("natural", col("l_orderkey"))),
          chunks = 64, "l_partkey", "l_suppkey",
          xLo = 1L, xHi = 40L, yLo = 1L, yHi = 4L)
        .orderBy("layout")
    },

    // Mergeable distinct-count sketches (Rollup.Measure.approxDistinct):
    // Datasketches HLL state per key, maintained incrementally — the
    // standing half absorbs the delta half through hll_union_agg, and
    // the estimate is read AFTER the merge. This is how distinct
    // counts work at 100 TB: per-partition sketches union losslessly,
    // raw history is never rescanned. Rows-only by NECESSITY, measured
    // (r10): not just "DuckDB lacks Datasketches" — the sketch bytes
    // are layout-dependent (list/set→dense promotion points follow
    // per-partition insertion order) and once dense even the ESTIMATE
    // varies ±1% with partition layout (the union's HIP accumulator is
    // merge-order-dependent), so no register or estimate surface hashes
    // deterministically at scale. The suite pins what is true instead:
    // set-mode counts are exact and layout-invariant, dense estimates
    // hold the ±5% band on every layout, merged ≡ single-pass on the
    // fixture, and the ST18 streaming test folds the same measure.
    Support.sparkOnly("q178_sketch_rollup") { (s, d) =>
      val ev = Tables.table(s, d, "events")
      val keys = Seq("event_type")
      val ms = Seq(Rollup.Measure.rowCount("n"),
        Rollup.Measure.approxDistinct("users", col("user_id")))
      val merged = Rollup.merge(
        Rollup.aggregate(ev.filter(col("event_id") % 2 === 0), keys, ms),
        Rollup.aggregate(ev.filter(col("event_id") % 2 =!= 0), keys, ms),
        keys, ms)
      merged.select(col("event_type"), col("n"),
          Rollup.Measure.estimate(col("users")).as("distinct_users"))
        .orderBy("event_type")
    },

    // k-core decomposition (Components.kCore): peel the
    // customer↔high-volume-part graph to its 8-core — the
    // dense-connectivity filter a crawl-graph curation stage runs.
    // Spark peels to the (unique) fixed point; the oracle unrolls 10
    // rounds (no-ops past convergence), so membership AND in-core
    // degree hash-check exactly.
    dfQ("q179_kcore",
      s"""WITH raw AS (
         |  SELECT DISTINCT o_custkey * 2 u, l_partkey * 2 + 1 v
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE l_quantity >= 30),
         |e AS MATERIALIZED (SELECT u, v FROM raw UNION SELECT v, u FROM raw),
         |s0 AS MATERIALIZED (SELECT DISTINCT u node FROM e),
         |${kCoreSql(8, 10)}
         |SELECT e.u node, CAST(COUNT(*) AS BIGINT) core_deg
         |FROM e JOIN s10 a ON e.u = a.node JOIN s10 b ON e.v = b.node
         |GROUP BY e.u ORDER BY node""".stripMargin) { (s, d) =>
      val j = Tables.table(s, d, "orders")
        .join(Tables.table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_quantity") >= 30)
      Components.kCore(
          j.select((col("o_custkey") * 2).as("u"),
            (col("l_partkey") * 2 + 1).as("v")),
          "u", "v", k = 8)
        .orderBy("node")
    },

    // Last-touch attribution: each purchase credits the latest
    // click/view by the same user within a 12-hour lookback — the
    // ops/AsOf backward join with a tolerance predicate, exactly the
    // marketing-attribution shape. Gap in exact microseconds
    // (unix_micros ≡ epoch_us; EPOCH() seconds would truncate
    // differently per engine). Unattributed purchases keep NULLs via
    // the tolerance → the oracle's windowed LEFT JOIN replay.
    dfQ("q180_attribution",
      """WITH p AS (SELECT user_id, event_id pid, ts
        |           FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_id tid, ts tts
        |        FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        |  SELECT p.user_id, p.pid, p.ts, MAX(t.tts) mt
        |  FROM p LEFT JOIN tch t ON p.user_id = t.user_id
        |    AND t.tts <= p.ts AND t.tts >= p.ts - INTERVAL 12 HOUR
        |  GROUP BY 1, 2, 3)
        |SELECT m.user_id, m.pid purchase_id, t.tid touch_id,
        |  CAST(EPOCH_US(m.ts) - EPOCH_US(m.mt) AS BIGINT) gap_us
        |FROM m LEFT JOIN tch t
        |  ON t.user_id = m.user_id AND t.tts = m.mt
        |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"),
          col("event_id").as("touch_id"), col("ts").as("t_ts"))
      graft.ops.AsOf.join(purchases, touches, "user_id", "ts", "ts",
          Seq("touch_id", "t_ts"),
          tolerance = Some((l, r) =>
            unix_micros(l) - unix_micros(r) <= 43200000000L))
        .select(col("user_id"), col("purchase_id"), col("touch_id"),
          (unix_micros(col("ts")) - unix_micros(col("t_ts"))).as("gap_us"))
        .orderBy("purchase_id")
    },

    // Per-entity EWMA (Resample.ewma, α = ½): the sequential
    // recurrence folds a ts-sorted array left via the aggregate() HOF;
    // a dyadic α makes every step an exact IEEE halving, so DuckDB's
    // list_reduce over LIST(x ORDER BY ts) replays the double
    // bit-for-bit.
    dfQ("q181_ewma",
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  LIST_REDUCE(LIST(value ORDER BY ts),
        |              (a, b) -> a * 0.5 + b * 0.5) AS ewma
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      graft.ops.Resample.ewma(Tables.table(s, d, "events"),
          "user_id", "ts", "value", alpha = 0.5)
        .orderBy("user_id")
    },

    // Leakage-safe temporal split with a 24 h embargo
    // (Sampling.temporalSplit): train ≤ cutoff, test after
    // cutoff + embargo, the purge window dropped from both — the
    // time-series analogue of q144's grouped hash split. Pure
    // projection; microsecond-exact timestamp boundaries.
    dfQ("q182_temporal_split",
      """SELECT event_type, split, CAST(COUNT(*) AS BIGINT) n FROM (
        |  SELECT event_type,
        |    CASE WHEN ts <= TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |         WHEN ts > TIMESTAMP '2024-01-20 00:00:00'
        |              + INTERVAL 24 HOUR THEN 'test'
        |         ELSE 'embargo' END split
        |  FROM events) t
        |GROUP BY event_type, split
        |ORDER BY event_type, split""".stripMargin) { (s, d) =>
      Sampling.temporalSplit(Tables.table(s, d, "events"), "ts",
          "2024-01-20 00:00:00", embargoSeconds = 86400L)
        .groupBy("event_type", "split").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "split")
    },

    // PMI collocations (TextAnalysis.pmiCollocations): document-level
    // co-occurrence of induced-vocabulary terms, pmi = ln(c·N/(dfx·dfy))
    // — exact-integer counts, ONE division, only the ln rounded (the
    // q159 LN discipline). The within-doc self-join runs AFTER the
    // vocab semi-join, so fan-out is bounded by vocabulary terms per
    // document, not document length.
    dfQ("q183_pmi_collocations",
      """WITH tk0 AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) token
        |  FROM documents),
        |tok AS (SELECT doc_id doc, token FROM tk0 WHERE token <> ''),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) freq FROM tok GROUP BY token
        |    ORDER BY freq DESC, token LIMIT 500)),
        |tv AS (SELECT DISTINCT t.doc, t.token
        |       FROM tok t JOIN vocab v USING (token)),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) n
        |       FROM documents),
        |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) df
        |        FROM tv GROUP BY token),
        |pairs AS (
        |  SELECT a.token tok_a, b.token tok_b, CAST(COUNT(*) AS BIGINT) c
        |  FROM tv a JOIN tv b ON a.doc = b.doc AND a.token < b.token
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, c,
        |  ROUND(LN(CAST(c * n AS DOUBLE) / (da.df * db.df)), 6) pmi
        |FROM pairs JOIN dfx da ON da.token = tok_a
        |  JOIN dfx db ON db.token = tok_b CROSS JOIN nd
        |WHERE c >= 20
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      val vocab = graft.ops.Vocab.induceVocab(docs, "text", 500)
      graft.ops.TextAnalysis.pmiCollocations(docs, "doc_id", "text",
          vocab, minPairDocs = 20L)
        .orderBy(col("pmi").desc, col("tok_a"), col("tok_b")).limit(50)
    },

    // Zipf slope per source (TextAnalysis.zipfSlope): OLS of
    // log10(freq) on log10(rank) with the four regression sums folded
    // in rank order via running windows — no REGR_* accumulation-order
    // trust — and the closed-form slope rounded once. Natural-language
    // sources sit near −1; templated text flattens.
    dfQ("q184_zipf_slope",
      """WITH tk AS (
        |  SELECT source g, UNNEST(STRING_SPLIT(text, ' ')) token
        |  FROM documents),
        |f AS (SELECT g, token, CAST(COUNT(*) AS BIGINT) f
        |      FROM tk WHERE token <> '' GROUP BY 1, 2),
        |rkt AS (
        |  SELECT g, f, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY g ORDER BY f DESC, token) AS BIGINT) r
        |  FROM f),
        |xy AS (
        |  SELECT g, r, LOG10(CAST(r AS DOUBLE)) x,
        |    LOG10(CAST(f AS DOUBLE)) y
        |  FROM rkt WHERE r <= 2000),
        |cum AS (
        |  SELECT g, r,
        |    SUM(x) OVER w sx, SUM(y) OVER w sy,
        |    SUM(x * y) OVER w sxy, SUM(x * x) OVER w sxx,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY r DESC) rn
        |  FROM xy
        |  WINDOW w AS (PARTITION BY g ORDER BY r ROWS UNBOUNDED PRECEDING))
        |SELECT g, r n_tokens,
        |  CASE WHEN r < 2 THEN NULL
        |       ELSE ROUND((r * sxy - sx * sy) / (r * sxx - sx * sx), 6)
        |  END slope
        |FROM cum WHERE rn = 1 ORDER BY g""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.zipfSlope(Tables.table(s, d, "documents"),
          "text", "source", topK = 2000)
        .orderBy("g")
    },

    // Cross-source quantile normalization (Quality.quantileNormalize):
    // within-source percent_rank mapped onto 257 exact global
    // percentile knots (dyadic fractions — the q167 discipline) with
    // linear interpolation, making per-source scores comparable before
    // a global threshold. percent_rank is exact integers ÷ once; the
    // interpolation is deterministic IEEE on engine-identical knots,
    // so the normalized doubles hash-replay.
    dfQ("q185_quantile_normalize",
      s"""WITH kn AS (
         |  SELECT QUANTILE_CONT(CAST(n_chars AS DOUBLE),
         |    ${(0 to 256).map(i => s"$i/256.0").mkString("[", ", ", "]")}) v
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, source, n_chars,
         |    PERCENT_RANK() OVER (PARTITION BY source
         |      ORDER BY CAST(n_chars AS DOUBLE)) p
         |  FROM documents),
         |j AS (
         |  SELECT doc_id, source, n_chars, p,
         |    CAST(LEAST(FLOOR(p * 256), 255) AS BIGINT) i FROM p)
         |SELECT doc_id, source, n_chars, p pct,
         |  v[CAST(i + 1 AS INTEGER)] + (p * 256 - i) *
         |    (v[CAST(i + 2 AS INTEGER)] - v[CAST(i + 1 AS INTEGER)])
         |    n_chars_qn
         |FROM j CROSS JOIN kn
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Quality.quantileNormalize(
          Tables.table(s, d, "documents")
            .select("doc_id", "source", "n_chars"),
          "source", "n_chars", knots = 256)
        .select(col("doc_id"), col("source"), col("n_chars"), col("pct"),
          col("n_chars_qn"))
        .orderBy("doc_id")
    },

    // Sorted-neighborhood blocking (Dedup.sortedNeighborPairs): the
    // third candidate-generation family (vs MinHash set-similarity and
    // SimHash Hamming) — global sort by a normalized key prefix, pairs
    // within a 3-position window, exact edit-distance confirm. The
    // global rank is the Packing-style two-shuffle prefix scheme (no
    // single-partition window); the oracle replays rank, window, and
    // confirm from the definition.
    dfQ("q187_sorted_neighbor",
      """WITH t AS (
        |  SELECT doc_id id, SUBSTRING(LOWER(text), 1, 24) k
        |  FROM documents),
        |r AS (SELECT id, k,
        |        CAST(ROW_NUMBER() OVER (ORDER BY k, id) AS BIGINT) r
        |      FROM t),
        |p AS (
        |  SELECT a.id a, b.id b, b.r - a.r gap, a.k key_a, b.k key_b
        |  FROM r a JOIN r b ON b.r > a.r AND b.r <= a.r + 3)
        |SELECT a, b, CAST(gap AS BIGINT) gap
        |FROM p WHERE LEVENSHTEIN(key_a, key_b) <= 4
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      graft.ops.Dedup.sortedNeighborPairs(
          Tables.table(s, d, "documents"), "doc_id",
          substring(lower(col("text")), 1, 24), window = 3)
        .filter(levenshtein(col("key_a"), col("key_b")) <= 4)
        .select(col("a"), col("b"), col("gap"))
        .orderBy("a", "b")
    },

    // Composite evaluation report: the purged temporal split (q182)
    // feeding grouped ROC-AUC (q173) in ONE query — does the score's
    // ranking power hold from train to test, measured leakage-free?
    // The oracle replays split assignment, the per-split rank-sum, and
    // the single division end-to-end.
    dfQ("q189_eval_report",
      """WITH sp AS (
        |  SELECT value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y,
        |    CASE WHEN ts <= TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |         WHEN ts > TIMESTAMP '2024-01-20 00:00:00'
        |              + INTERVAL 24 HOUR THEN 'test'
        |         ELSE 'embargo' END split
        |  FROM events),
        |ps AS (
        |  SELECT split, value s,
        |    CAST(SUM(y) AS BIGINT) p,
        |    CAST(SUM(1 - y) AS BIGINT) g
        |  FROM sp WHERE split <> 'embargo' GROUP BY split, value),
        |c AS (
        |  SELECT split, p, g, COALESCE(SUM(g) OVER (PARTITION BY split
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) nb
        |  FROM ps)
        |SELECT split, CAST(SUM(p) AS BIGINT) n_pos,
        |  CAST(SUM(g) AS BIGINT) n_neg,
        |  CAST(SUM(p * (2 * nb + g)) AS BIGINT) num2,
        |  CAST(SUM(p * (2 * nb + g)) AS DOUBLE)
        |    / (2.0 * CAST(SUM(p) AS BIGINT) * CAST(SUM(g) AS BIGINT)) auc
        |FROM c GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      val split = Sampling.temporalSplit(Tables.table(s, d, "events"),
          "ts", "2024-01-20 00:00:00", embargoSeconds = 86400L)
        .filter(col("split") =!= "embargo")
      Stats.rocAuc(split, col("value"), col("event_type") === "purchase",
          groups = Seq("split"))
        .orderBy("split")
    },

    // Top entry paths (Funnel.topPaths): each user's first 5 events
    // joined into a path string, counted corpus-wide — the
    // "how do journeys start" readout. Sorted-collect per user is
    // bounded by maxLen, not history. Ordered STRING_AGG replays it.
    dfQ("q190_top_paths",
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, STRING_AGG(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, CAST(COUNT(*) AS BIGINT) n
        |FROM p GROUP BY path
        |ORDER BY n DESC, path LIMIT 25""".stripMargin) { (s, d) =>
      Funnel.topPaths(Tables.events(s, d), "user_id", "event_type",
        "ts", "event_id", maxLen = 5, topK = 25)
    },

    // Funnel latency distribution: among signup→click→purchase
    // completers (the q163 greedy-earliest semantics), the
    // microsecond-exact end-to-end gap, with exact-interpolated
    // p50/p75 (dyadic fractions both engines parse identically —
    // the q167 percentile discipline).
    dfQ("q191_funnel_latency",
      """WITH s1 AS (
        |  SELECT user_id u, MIN(ts) t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.u, MIN(s1.t1) t1,
        |    MIN(CASE WHEN e.ts > s1.t1 THEN e.ts END) t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.u AND e.event_type = 'click'
        |  GROUP BY s1.u),
        |s3 AS (
        |  SELECT s2.u, MIN(s2.t1) t1, MIN(s2.t2) t2,
        |    MIN(CASE WHEN e.ts > s2.t2 THEN e.ts END) t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.u AND e.event_type = 'purchase'
        |  GROUP BY s2.u),
        |g AS (SELECT CAST(EPOCH_US(t3) - EPOCH_US(t1) AS BIGINT) gap
        |      FROM s3 WHERE t3 IS NOT NULL)
        |SELECT CAST(COUNT(*) AS BIGINT) n,
        |  QUANTILE_CONT(CAST(gap AS DOUBLE), 0.5) p50_us,
        |  QUANTILE_CONT(CAST(gap AS DOUBLE), 0.75) p75_us
        |FROM g""".stripMargin) { (s, d) =>
      val f = Funnel.funnel(Tables.events(s, d), "user_id", "event_type",
          "ts", Seq("signup", "click", "purchase"))
        .filter(col("t3").isNotNull)
        .select((unix_micros(col("t3")) - unix_micros(col("t1")))
          .cast("double").as("gap"))
      f.agg(count(lit(1)).cast("long").as("n"),
        percentile(col("gap"), lit(0.5)).as("p50_us"),
        percentile(col("gap"), lit(0.75)).as("p75_us"))
    },

    // Session market-basket rules (Association.liftPairs over
    // Sessionize baskets): which event types co-occur within a
    // 30-minute session beyond independence — support/confidence/lift
    // with exact-integer counts and single divisions; the oracle
    // replays sessionization (the q84 lag+cumsum form), basket
    // distinct, pair mining, and both ratios.
    dfQ("q192_market_basket",
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_type,
        |    CAST(SUM(CASE WHEN prev IS NULL
        |          OR ts > prev + INTERVAL 1800 SECOND
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) session_seq
        |  FROM o),
        |b AS (SELECT DISTINCT user_id, session_seq, event_type item FROM s),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM
        |       (SELECT DISTINCT user_id, session_seq FROM b)),
        |sg AS (SELECT item, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY item),
        |pr AS (
        |  SELECT a.item item_a, c.item item_b, CAST(COUNT(*) AS BIGINT) c_ab
        |  FROM b a JOIN b c ON a.user_id = c.user_id
        |    AND a.session_seq = c.session_seq AND a.item < c.item
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, c_ab, sa.c c_a, sb.c c_b,
        |  CAST(c_ab AS DOUBLE) / sa.c confidence,
        |  CAST(c_ab * n AS DOUBLE) / (sa.c * sb.c) lift
        |FROM pr JOIN sg sa ON sa.item = item_a
        |  JOIN sg sb ON sb.item = item_b CROSS JOIN nb
        |WHERE c_ab >= 5
        |ORDER BY item_a, item_b""".stripMargin) { (s, d) =>
      val sess = graft.ops.Sessionize.sessionize(Tables.events(s, d),
        "user_id", "ts", "event_id", gapSeconds = 1800L)
      graft.ops.Association.liftPairs(sess,
          Seq("user_id", "session_seq"), "event_type", minSupport = 5L)
        .orderBy("item_a", "item_b")
    },

    // Kaplan–Meier user-churn curve (Survival.kaplanMeier over
    // Survival.userLifetimes): duration = whole days between a user's
    // first and last event, observed = quiet ≥ 12 h before corpus
    // end (else censored — the fixtures' users are active to the edge,
    // so a multi-day horizon censors everyone). Counts integral; each
    // 1 − d/n is ONE division; the product-limit curve is an
    // ascending-time ordered fold (the q181 LIST_REDUCE discipline),
    // so the survival doubles hash-replay.
    dfQ("q193_kaplan_meier",
      """WITH lt AS (
        |  SELECT user_id,
        |    (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 86400000000 t_dur,
        |    MAX(EPOCH_US(ts)) last_us
        |  FROM events GROUP BY user_id),
        |ce AS (SELECT MAX(EPOCH_US(ts)) end_us FROM events),
        |subj AS (
        |  SELECT t_dur, last_us <= end_us - 43200000000 obs
        |  FROM lt CROSS JOIN ce),
        |ag AS (
        |  SELECT t_dur t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) c
        |  FROM subj GROUP BY 1),
        |r AS (SELECT t, d, c,
        |        CAST(SUM(d + c) OVER (ORDER BY t DESC
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) n_risk
        |      FROM ag),
        |e AS (SELECT t, d, c, n_risk FROM r WHERE d > 0),
        |arr AS (SELECT
        |    LIST(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |         ORDER BY t) fs,
        |    LIST(t ORDER BY t) ts, LIST(d ORDER BY t) ds,
        |    LIST(c ORDER BY t) cs, LIST(n_risk ORDER BY t) ns
        |  FROM e),
        |x AS (SELECT fs, UNNEST(ts) t, UNNEST(ds) d, UNNEST(cs) c,
        |        UNNEST(ns) n_risk,
        |        UNNEST(GENERATE_SERIES(1, LEN(ts))) i
        |      FROM arr)
        |SELECT t, d, c, n_risk,
        |  LIST_REDUCE(fs[1:i], (a, b) -> a * b) survival
        |FROM x ORDER BY t""".stripMargin) { (s, d) =>
      Survival.kaplanMeier(
          Survival.userLifetimes(Tables.events(s, d), "user_id", "ts",
            quietUs = 43200000000L),
          "duration_days", "observed", Seq.empty)
        .select(col("t"), col("d"), col("c"), col("n_risk"),
          col("survival"))
        .orderBy("t")
    },

    // Two-predictor OLS by Cramer's rule (Stats.ols2): price-cents
    // regressed on quantity and discount-hundredths — multivariate
    // regression as ONE aggregation. Raw moments/centered sums/
    // determinants all exact integers (DECIMAL(38,0) ⇄ HUGEINT), each
    // coefficient ONE double division, so b0/b1/b2/r2 hash-replay.
    dfQ("q194_ols",
      """WITH t AS (
        |  SELECT CAST(FLOOR(l_quantity) AS BIGINT) x1,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) x2,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x1 AS HUGEINT)) s1, SUM(CAST(x2 AS HUGEINT)) s2,
        |    SUM(CAST(y AS HUGEINT)) sy,
        |    SUM(CAST(x1 * x1 AS HUGEINT)) s11,
        |    SUM(CAST(x2 * x2 AS HUGEINT)) s22,
        |    SUM(CAST(x1 * x2 AS HUGEINT)) s12,
        |    SUM(CAST(x1 * y AS HUGEINT)) s1y,
        |    SUM(CAST(x2 * y AS HUGEINT)) s2y,
        |    SUM(CAST(y * y AS HUGEINT)) syy
        |  FROM t),
        |c AS (SELECT n, s1, s2, sy,
        |    n * s11 - s1 * s1 sxx, n * s22 - s2 * s2 szz,
        |    n * s12 - s1 * s2 sxz, n * s1y - s1 * sy sxy,
        |    n * s2y - s2 * sy szy, n * syy - sy * sy syy2
        |  FROM m),
        |k AS (SELECT *, sxx * szz - sxz * sxz det FROM c),
        |b AS (SELECT n, s1, s2, sy, sxy, szy, syy2,
        |    CASE WHEN det = 0 THEN NULL ELSE
        |      CAST(szz * sxy - sxz * szy AS DOUBLE) / CAST(det AS DOUBLE)
        |    END b1,
        |    CASE WHEN det = 0 THEN NULL ELSE
        |      CAST(sxx * szy - sxz * sxy AS DOUBLE) / CAST(det AS DOUBLE)
        |    END b2
        |  FROM k)
        |SELECT CAST(n AS BIGINT) n,
        |  (CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
        |    - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE) b0,
        |  b1, b2,
        |  CASE WHEN syy2 = 0 THEN NULL ELSE
        |    (b1 * CAST(sxy AS DOUBLE) + b2 * CAST(szy AS DOUBLE))
        |      / CAST(syy2 AS DOUBLE)
        |  END r2
        |FROM b""".stripMargin) { (s, d) =>
      Stats.ols2(Tables.table(s, d, "lineitem"),
        floor(col("l_quantity")).cast("long"),
        floor(col("l_discount") * 100).cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // Per-user autocorrelation at lags 1–3 (Stats.acf): the exact-
    // integer identity r_j = (n²Σx·x₊ⱼ − n·m·(Aⱼ+Bⱼ) + (n−j)m²) /
    // (n²Σx² − n·m²) — every sum order-free-integral, ONE division per
    // lag. The value is fixed-pointed by floor(value·64) (exact IEEE
    // power-of-two scale, identical floor on both engines).
    dfQ("q195_acf",
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(FLOOR(value * 64) AS BIGINT) x
        |  FROM events),
        |l AS (SELECT user_id, x,
        |    LEAD(x, 1) OVER w l1, LEAD(x, 2) OVER w l2,
        |    LEAD(x, 3) OVER w l3,
        |    LAG(x, 1) OVER w g1, LAG(x, 2) OVER w g2,
        |    LAG(x, 3) OVER w g3
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) m, SUM(CAST(x * x AS HUGEINT)) sxx,
        |    SUM(CAST(x * l1 AS HUGEINT)) c1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(x AS HUGEINT) END) a1,
        |    SUM(CASE WHEN g1 IS NOT NULL THEN CAST(x AS HUGEINT) END) b1,
        |    SUM(CAST(x * l2 AS HUGEINT)) c2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(x AS HUGEINT) END) a2,
        |    SUM(CASE WHEN g2 IS NOT NULL THEN CAST(x AS HUGEINT) END) b2,
        |    SUM(CAST(x * l3 AS HUGEINT)) c3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(x AS HUGEINT) END) a3,
        |    SUM(CASE WHEN g3 IS NOT NULL THEN CAST(x AS HUGEINT) END) b3
        |  FROM l GROUP BY user_id)
        |SELECT user_id, CAST(n AS BIGINT) n,
        |  CASE WHEN n <= 1 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c1 - n * m * (a1 + b1) + (n - 1) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r1,
        |  CASE WHEN n <= 2 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c2 - n * m * (a2 + b2) + (n - 2) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r2,
        |  CASE WHEN n <= 3 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c3 - n * m * (a3 + b3) + (n - 3) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r3
        |FROM g ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.acf(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 64).cast("long"), maxLag = 3,
          tieCol = "event_id")
        .orderBy("user_id")
    },

    // MATCH_RECOGNIZE-lite session motifs (Funnel.sessionMotifs): each
    // 30-min session's ordered event-initial string classified by
    // RE2-safe regexes, all motifs counted in ONE aggregation. The
    // oracle replays sessionization, path building, and the regexes
    // (java.util.regex ≡ RE2 on this subset — no backrefs/lookaround).
    dfQ("q196_session_motifs",
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(SUM(CASE WHEN prev IS NULL
        |          OR ts > prev + INTERVAL 1800 SECOND
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) session_seq
        |  FROM o),
        |r AS (SELECT user_id, session_seq,
        |    SUBSTRING(event_type, 1, 1) ch,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts, event_id) rn
        |  FROM s),
        |p AS (SELECT user_id, session_seq,
        |    STRING_AGG(ch, '' ORDER BY rn) path
        |  FROM r WHERE rn <= 50 GROUP BY 1, 2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) total FROM p),
        |m(motif, re) AS (VALUES
        |  ('error_retry', 'e.+e'), ('pure_browse', '^[vc]+$'),
        |  ('signup_first', '^s'), ('view_to_purchase', 'v.*p'))
        |SELECT motif,
        |  CAST(SUM(CASE WHEN REGEXP_MATCHES(path, re)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
        |  total, CAST(SUM(CASE WHEN REGEXP_MATCHES(path, re)
        |      THEN 1 ELSE 0 END) AS DOUBLE) / total AS share
        |FROM p CROSS JOIN m CROSS JOIN tot
        |GROUP BY motif, total ORDER BY motif""".stripMargin) { (s, d) =>
      val sess = graft.ops.Sessionize.sessionize(Tables.events(s, d),
        "user_id", "ts", "event_id", gapSeconds = 1800L)
      Funnel.sessionMotifs(sess, "user_id", "session_seq", "event_type",
          "ts", "event_id",
          Seq("error_retry" -> "e.+e", "pure_browse" -> "^[vc]+$",
            "signup_first" -> "^s", "view_to_purchase" -> "v.*p"),
          maxLen = 50)
        .orderBy("motif")
    },

    // Two-proportion z-test (Stats.twoProportionZ): users split into
    // arms by the q82 MD5 hash-bucket parity, success = any purchase;
    // exact integer counts from ONE conditional aggregation, z as a
    // fixed IEEE tree over correctly-rounded sqrt — hash-replayable.
    dfQ("q197_ab_ztest",
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) conv
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT conv,
        |    CAST(CONCAT('0x', SUBSTRING(MD5(CAST(user_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 2 = 0 arm_a
        |  FROM u),
        |g AS (SELECT
        |    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) n1,
        |    CAST(SUM(CASE WHEN arm_a AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) s1,
        |    CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) n2,
        |    CAST(SUM(CASE WHEN NOT arm_a AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) s2
        |  FROM a)
        |SELECT n1, s1, n2, s2,
        |  CASE WHEN n1 = 0 THEN NULL
        |       ELSE CAST(s1 AS DOUBLE) / n1 END p1,
        |  CASE WHEN n2 = 0 THEN NULL
        |       ELSE CAST(s2 AS DOUBLE) / n2 END p2,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |    ELSE CASE WHEN SQRT(CAST(s1 + s2 AS DOUBLE) / (n1 + n2)
        |        * (1.0 - CAST(s1 + s2 AS DOUBLE) / (n1 + n2))
        |        * (1.0 / n1 + 1.0 / n2)) = 0 THEN NULL
        |      ELSE (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |        / SQRT(CAST(s1 + s2 AS DOUBLE) / (n1 + n2)
        |          * (1.0 - CAST(s1 + s2 AS DOUBLE) / (n1 + n2))
        |          * (1.0 / n1 + 1.0 / n2)) END
        |  END z
        |FROM g""".stripMargin) { (s, d) =>
      val users = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
      Stats.twoProportionZ(users,
        Sampling.hashBucket(col("user_id"), 2) === 0, col("conv") === 1)
    },

    // Day-of-week seasonal profile (Resample.seasonalProfile): per
    // (event_type, dow) count/mean/variance from ONE aggregation —
    // fixed-point value scale (floor(value·64)), integral sums, exact-
    // integer variance form, convention-free epoch-day dow.
    dfQ("q198_seasonal_profile",
      """WITH t AS (
        |  SELECT event_type,
        |    (EPOCH_US(ts) // 86400000000 + 4) % 7 dow,
        |    CAST(FLOOR(value * 64) AS BIGINT) v
        |  FROM events),
        |g AS (SELECT event_type, dow, CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(v AS HUGEINT)) s, SUM(CAST(v * v AS HUGEINT)) ss
        |  FROM t GROUP BY 1, 2)
        |SELECT event_type, CAST(dow AS BIGINT) dow, CAST(n AS BIGINT) n,
        |  CAST(s AS DOUBLE) / (CAST(n AS BIGINT) * 64.0) mean,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    CAST(n * ss - s * s AS DOUBLE)
        |      / (CAST(n * (n - 1) AS DOUBLE) * 4096.0)
        |  END variance
        |FROM g ORDER BY event_type, dow""".stripMargin) { (s, d) =>
      Resample.seasonalProfile(Tables.events(s, d), "event_type", "ts",
          "value", scaleBits = 6)
        .orderBy("event_type", "dow")
    },

    // Per-group Gini coefficient (Stats.gini): revenue concentration
    // across line items per return flag. Rank·value sums are tie-order
    // invariant (equal values × permuted ranks), every sum integral
    // (DECIMAL(38,0) ⇄ HUGEINT), ONE division — the double hash-replays.
    dfQ("q199_gini",
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, y,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY y) i
        |  FROM t),
        |g AS (SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(y AS HUGEINT)) s, SUM(CAST(i * y AS HUGEINT)) a
        |  FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) n, CAST(s AS DOUBLE) total,
        |  CASE WHEN s = 0 THEN NULL ELSE
        |    CAST(2 * a - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)
        |  END gini
        |FROM g ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Stats.gini(Tables.table(s, d, "lineitem"), "l_returnflag",
          floor(col("l_extendedprice") * 100).cast("long"))
        .orderBy("l_returnflag")
    },

    // Deterministic label propagation (Components.labelPropagation):
    // communities on the q158 part↔supplier co-occurrence graph, ties
    // broken (count DESC, label ASC) so the fixed-round assignment is a
    // pure function of the graph — the oracle unrolls all three rounds
    // (MATERIALIZED, the q179 lesson: each round is referenced by the
    // next and DuckDB would otherwise inline the chain exponentially).
    dfQ("q200_label_prop",
      """WITH raw AS (
        |  SELECT DISTINCT l_partkey * 2 u, l_suppkey * 2 + 1 v
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT u, v FROM raw UNION SELECT v, u FROM raw),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
        |c1 AS MATERIALIZED (
        |  SELECT e.u, l.label AS label, COUNT(*) AS c FROM e
        |  JOIN l0 l ON e.v = l.node GROUP BY e.u, l.label),
        |l1 AS MATERIALIZED (
        |  SELECT u AS node, label FROM (
        |    SELECT u, label, ROW_NUMBER() OVER (PARTITION BY u
        |      ORDER BY c DESC, label) AS rn FROM c1) WHERE rn = 1),
        |c2 AS MATERIALIZED (
        |  SELECT e.u, l.label AS label, COUNT(*) AS c FROM e
        |  JOIN l1 l ON e.v = l.node GROUP BY e.u, l.label),
        |l2 AS MATERIALIZED (
        |  SELECT u AS node, label FROM (
        |    SELECT u, label, ROW_NUMBER() OVER (PARTITION BY u
        |      ORDER BY c DESC, label) AS rn FROM c2) WHERE rn = 1),
        |c3 AS MATERIALIZED (
        |  SELECT e.u, l.label AS label, COUNT(*) AS c FROM e
        |  JOIN l2 l ON e.v = l.node GROUP BY e.u, l.label),
        |l3 AS MATERIALIZED (
        |  SELECT u AS node, label FROM (
        |    SELECT u, label, ROW_NUMBER() OVER (PARTITION BY u
        |      ORDER BY c DESC, label) AS rn FROM c3) WHERE rn = 1)
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select((col("l_partkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      Components.labelPropagation(li, "a", "b", iters = 3).orderBy("node")
    },

    // Jensen–Shannon divergence (Drift.jsDivergence) between two
    // sources' token distributions — the symmetric bounded drift
    // readout. Integral counts, shares divided once, per-token terms
    // folded in sorted-token order (q159 discipline), 0·ln 0 terms
    // dropped exactly on both engines.
    dfQ("q201_js_divergence",
      """WITH ta AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |  FROM documents WHERE source = 'src0'),
        |a AS (SELECT tok FROM ta WHERE tok <> ''),
        |tb AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |  FROM documents WHERE source = 'src1'),
        |b AS (SELECT tok FROM tb WHERE tok <> ''),
        |ca AS (SELECT tok category, CAST(COUNT(*) AS BIGINT) na
        |  FROM a GROUP BY 1),
        |cb AS (SELECT tok category, CAST(COUNT(*) AS BIGINT) nb
        |  FROM b GROUP BY 1),
        |cnt AS (SELECT COALESCE(ca.category, cb.category) category,
        |    COALESCE(na, 0) na, COALESCE(nb, 0) nb
        |  FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        |w AS (SELECT category, na, nb,
        |    na / SUM(na) OVER () p, nb / SUM(nb) OVER () q,
        |    SUM(na) OVER () ta2, SUM(nb) OVER () tb2,
        |    COUNT(*) OVER () nc
        |  FROM cnt),
        |x AS (SELECT category, na, nb, ta2, tb2, nc,
        |    CASE WHEN na > 0 THEN 0.5 * (p *
        |      (FLOOR(LN(p / ((p + q) / 2.0)) * 67108864.0) / 67108864.0))
        |      ELSE 0.0 END
        |    + CASE WHEN nb > 0 THEN 0.5 * (q *
        |      (FLOOR(LN(q / ((p + q) / 2.0)) * 67108864.0) / 67108864.0))
        |      ELSE 0.0 END AS term
        |  FROM w)
        |SELECT LIST_REDUCE(LIST(term ORDER BY category),
        |    (acc, e) -> acc + e) AS js,
        |  CAST(MAX(ta2) AS BIGINT) n_a, CAST(MAX(tb2) AS BIGINT) n_b,
        |  CAST(COUNT(*) AS BIGINT) n_categories
        |FROM x""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      def toks(src: String) = docs.filter(col("source") === src)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.Drift.jsDivergence(toks("src0"), toks("src1"), "tok")
    },

    // Benford first-digit profile (Quality.benford): leading-digit
    // shares of price cents vs log10(1+1/d), chi² folded in digit
    // order; the expectation is computed in-engine on BOTH sides so no
    // Scala-vs-DuckDB ln ulp can slip in.
    dfQ("q202_benford",
      """WITH t AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y
        |  FROM lineitem),
        |c0 AS (SELECT CAST(SUBSTRING(CAST(y AS STRING), 1, 1) AS BIGINT)
        |      digit, CAST(COUNT(*) AS BIGINT) n
        |  FROM t WHERE y > 0 GROUP BY 1),
        |c AS (SELECT d.digit, COALESCE(c0.n, 0) n
        |  FROM (SELECT UNNEST(GENERATE_SERIES(1, 9)) digit) d
        |  LEFT JOIN c0 ON d.digit = c0.digit),
        |w AS (SELECT digit, n,
        |    CAST(n AS DOUBLE) / SUM(n) OVER () AS share,
        |    (FLOOR(LN(1.0 + 1.0 / digit) * 67108864.0) / 67108864.0)
        |      / (FLOOR(LN(10.0) * 67108864.0) / 67108864.0) AS expected,
        |    SUM(n) OVER () AS total
        |  FROM c),
        |x AS (SELECT *, (share - expected) * (share - expected) / expected
        |      AS term FROM w),
        |y AS (SELECT digit, n, share, expected, total,
        |    SUM(term) OVER (ORDER BY digit ROWS UNBOUNDED PRECEDING) cum
        |  FROM x)
        |SELECT digit, n, share, expected,
        |  CAST(total AS DOUBLE) * MAX(cum) OVER () chi2
        |FROM y ORDER BY digit""".stripMargin) { (s, d) =>
      graft.ops.Quality.benford(Tables.table(s, d, "lineitem"),
          floor(col("l_extendedprice") * 100).cast("long"))
        .orderBy("digit")
    },

    // Spearman rank correlation (Stats.spearman): monotone association
    // of quantity and price. Average ranks stay INTEGRAL as doubled
    // ranks (2·below + c + 1) computed over the collapsed
    // distinct-value table — no full-data global window; the ×2 cancels
    // in the correlation. Exact moment sums, two sqrts, ONE division.
    dfQ("q203_spearman",
      """WITH t AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) x,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y FROM lineitem),
        |cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) c FROM t GROUP BY x),
        |rx AS (SELECT x, 2 * COALESCE(SUM(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM cx),
        |cy AS (SELECT y, CAST(COUNT(*) AS BIGINT) c FROM t GROUP BY y),
        |ry AS (SELECT y, 2 * COALESCE(SUM(c) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM cy),
        |r AS (SELECT rx.dr drx, ry.dr dry
        |  FROM t JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(drx) sx, SUM(dry) sy, SUM(drx * drx) sxx,
        |    SUM(dry * dry) syy, SUM(drx * dry) sxy FROM r)
        |SELECT CAST(n AS BIGINT) n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |    THEN NULL ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
        |  END rho
        |FROM m""".stripMargin) { (s, d) =>
      Stats.spearman(Tables.table(s, d, "lineitem"),
        floor(col("l_quantity")).cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // Kruskal–Wallis H (Stats.kruskalWallis): does the event value
    // distribution differ by event type — the rank-based ANOVA.
    // Doubled integral ranks over the distinct-value table, exact
    // integer rank sums, k per-group divisions folded in sorted group
    // order, tie correction divided once.
    dfQ("q204_kruskal",
      """WITH t AS (SELECT event_type g,
        |    CAST(FLOOR(value * 64) AS BIGINT) x FROM events),
        |cv AS (SELECT x, CAST(COUNT(*) AS BIGINT) c FROM t GROUP BY x),
        |rk AS (SELECT x, c, 2 * COALESCE(SUM(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM cv),
        |gv AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) cg
        |  FROM t GROUP BY g, x),
        |gr AS (SELECT g, SUM(cg) ng, SUM(cg * dr) rd
        |  FROM gv JOIN rk USING (x) GROUP BY g),
        |f AS (SELECT g, CAST(rd * rd AS DOUBLE) / (4.0 * ng) AS term, ng
        |  FROM gr),
        |w AS (SELECT
        |    SUM(term) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) su,
        |    SUM(ng) OVER () nn, COUNT(*) OVER () k,
        |    ROW_NUMBER() OVER (ORDER BY g DESC) rn FROM f),
        |ties AS (SELECT COALESCE(SUM(c * c * c - c), 0) tsum FROM cv)
        |SELECT CAST(nn AS BIGINT) n, CAST(k AS BIGINT) AS "groups",
        |  12.0 / CAST(nn * (nn + 1) AS DOUBLE) * su
        |    - 3.0 * CAST(nn + 1 AS DOUBLE) AS h,
        |  CASE WHEN nn < 2 THEN NULL
        |    WHEN 1.0 - CAST(tsum AS DOUBLE)
        |      / CAST(nn * nn * nn - nn AS DOUBLE) = 0 THEN NULL
        |    ELSE (12.0 / CAST(nn * (nn + 1) AS DOUBLE) * su
        |        - 3.0 * CAST(nn + 1 AS DOUBLE))
        |      / (1.0 - CAST(tsum AS DOUBLE)
        |        / CAST(nn * nn * nn - nn AS DOUBLE))
        |  END AS h_corrected
        |FROM w CROSS JOIN ties WHERE rn = 1""".stripMargin) { (s, d) =>
      Stats.kruskalWallis(Tables.events(s, d), "event_type",
        floor(col("value") * 64).cast("long"))
    },

    // Per-user Mann–Kendall trend (Stats.mannKendall): is each user's
    // value series monotonically drifting — S and the tie-corrected
    // variance are exact integers from a per-key bounded all-pairs
    // join; z is one division over one sqrt.
    dfQ("q205_mann_kendall",
      """WITH t AS (SELECT user_id, ts, event_id,
        |    CAST(FLOOR(value * 64) AS BIGINT) x FROM events),
        |p AS (SELECT a.user_id,
        |    CAST(SUM(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) s
        |  FROM t a JOIN t b ON a.user_id = b.user_id
        |    AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
        |  GROUP BY a.user_id),
        |n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) n
        |  FROM t GROUP BY user_id),
        |ti AS (SELECT user_id,
        |    CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) tsum
        |  FROM (SELECT user_id, x, CAST(COUNT(*) AS BIGINT) c
        |        FROM t GROUP BY user_id, x) GROUP BY user_id),
        |j AS (SELECT n.user_id, n.n, COALESCE(p.s, 0) s,
        |    n.n * (n.n - 1) * (2 * n.n + 5) - ti.tsum var18
        |  FROM n LEFT JOIN p ON n.user_id = p.user_id
        |  JOIN ti ON n.user_id = ti.user_id)
        |SELECT user_id, n, s,
        |  CASE WHEN var18 <= 0 THEN NULL ELSE
        |    (CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) ELSE 0.0 END)
        |    / SQRT(CAST(var18 AS DOUBLE) / 18.0) END z
        |FROM j ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.mannKendall(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 64).cast("long"), tieCol = "event_id")
        .orderBy("user_id")
    },

    // Jaro–Winkler record linkage (FuzzyJoin.jaroWinklerPairs over the
    // codegen'd graft.functions.JaroWinkler expression): near-identical
    // part names within (brand, size) blocks. The custom Expression is
    // pinned bit-for-bit to DuckDB's jaro_winkler_similarity (textbook
    // algorithm, 0.7 boost threshold, ≤4-char prefix at 0.1), so the
    // similarity doubles themselves hash-match — the strongest possible
    // check of a custom kernel.
    dfQ("q206_jaro_winkler",
      """SELECT a.p_partkey a, b.p_partkey b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) sim
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      graft.ops.FuzzyJoin.jaroWinklerPairs(Tables.table(s, d, "part"),
          "p_partkey", "p_name", Seq("p_brand", "p_size"), minSim = 0.9)
        .orderBy("a", "b")
    },

    // Per-user Theil–Sen slope (Stats.theilSen): the robust trend
    // magnitude beside q205's Mann–Kendall direction. Slopes are one
    // exact-integer-numerator division each, then 2^-20 dyadic
    // quantization so the exact-interpolating median cannot differ
    // cross-engine by interpolation-formula association.
    dfQ("q207_theil_sen",
      """WITH t AS (SELECT user_id, EPOCH_US(ts) tt,
        |    CAST(FLOOR(value * 64) AS BIGINT) x FROM events),
        |p AS (SELECT a.user_id,
        |    FLOOR(CAST((b.x - a.x) * 86400000000 AS DOUBLE)
        |      / (b.tt - a.tt) * 1048576.0) / 1048576.0 s
        |  FROM t a JOIN t b ON a.user_id = b.user_id AND a.tt < b.tt)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) n_pairs,
        |  QUANTILE_CONT(s, 0.5) slope_per_day
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.theilSen(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 64).cast("long"))
        .orderBy("user_id")
    },

    // CUPED variance reduction (Stats.cuped): pre-period per-user value
    // mass as the covariate for the post-period metric — the
    // experimentation-platform readout of how much pre-data shrinks
    // variance. Exact centered sums, fixed double trees.
    dfQ("q208_cuped",
      """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(FLOOR(value * 64) AS BIGINT) ELSE 0 END) x,
        |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |      THEN CAST(FLOOR(value * 64) AS BIGINT) ELSE 0 END) y
        |  FROM events GROUP BY user_id),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(y AS HUGEINT)) sy,
        |    SUM(CAST(x * x AS HUGEINT)) sxx,
        |    SUM(CAST(x * y AS HUGEINT)) sxy,
        |    SUM(CAST(y * y AS HUGEINT)) syy FROM u),
        |c AS (SELECT n, n * sxx - sx * sx cxx, n * sxy - sx * sy cxy,
        |    n * syy - sy * sy cyy FROM m)
        |SELECT CAST(n AS BIGINT) n,
        |  CASE WHEN cxx = 0 THEN NULL
        |    ELSE CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE) END theta,
        |  CASE WHEN cxx = 0 OR cyy = 0 THEN NULL ELSE
        |    (CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE))
        |      / (CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)) END rho2,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    CAST(cyy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) END var_y,
        |  CASE WHEN n < 2 OR cxx = 0 OR cyy = 0 THEN NULL ELSE
        |    CAST(cyy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
        |    * (1.0 - (CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE))
        |      / (CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)))
        |  END var_y_cuped
        |FROM c""".stripMargin) { (s, d) =>
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      val vx = floor(col("value") * 64).cast("long")
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(sum(when(col("ts") < cut, vx).otherwise(0L)).as("x"),
          sum(when(col("ts") >= cut, vx).otherwise(0L)).as("y"))
      Stats.cuped(u, col("x"), col("y"))
    },

    // Per-user CUSUM change point (Stats.cusum): where each user's
    // value level shifted. n·S_t = n·c_t − t·m keeps the argmax and its
    // earliest-t tie-break in exact integers; only the reported
    // statistic divides, once.
    dfQ("q209_cusum",
      """WITH t AS (SELECT user_id, ts, event_id,
        |    CAST(FLOOR(value * 64) AS BIGINT) x FROM events),
        |c AS (SELECT user_id, ts, x,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) i,
        |    SUM(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) cs,
        |    SUM(x) OVER (PARTITION BY user_id) m,
        |    COUNT(*) OVER (PARTITION BY user_id) n
        |  FROM t),
        |d AS (SELECT user_id, ts, i, n, n * cs - i * m ns
        |  FROM c WHERE n >= 2 AND i < n),
        |r AS (SELECT user_id, n, i, ts, ns,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ABS(ns) DESC, i) rk FROM d)
        |SELECT user_id, CAST(n AS BIGINT) n, CAST(i AS BIGINT) t_star,
        |  DATE_TRUNC('second', ts) ts_star,
        |  CAST(ABS(ns) AS DOUBLE) / n cusum_stat
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      // argmax/tie-break run on raw microsecond order; only the emitted
      // change-point timestamp is second-truncated (SURVEY 5.3).
      Stats.cusum(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 64).cast("long"), tieCol = "event_id")
        .withColumn("ts_star", date_trunc("second", col("ts_star")))
        .orderBy("user_id")
    },

    // Per-user two-sample KS (Stats.ksTest): click vs purchase value
    // distributions. n₁·n₂·|ΔF(v)| = |n₂·c₁ − n₁·c₂| keeps the argmax
    // and its smallest-v tie-break in exact integers; one division for
    // the reported D.
    dfQ("q210_ks_test",
      """WITH t AS (SELECT user_id, CAST(FLOOR(value * 64) AS BIGINT) v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END a1,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END a2
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT user_id, v, SUM(a1) d1, SUM(a2) d2 FROM t GROUP BY 1, 2),
        |c AS (SELECT user_id, v,
        |    SUM(d1) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) c1,
        |    SUM(d2) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) c2,
        |    SUM(d1) OVER (PARTITION BY user_id) n1,
        |    SUM(d2) OVER (PARTITION BY user_id) n2
        |  FROM g),
        |s AS (SELECT user_id, v, n1, n2, ABS(n2 * c1 - n1 * c2) ns
        |  FROM c WHERE n1 > 0 AND n2 > 0),
        |r AS (SELECT user_id, v, n1, n2, ns, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY ns DESC, v) rk FROM s)
        |SELECT user_id, CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
        |  CAST(ns AS BIGINT) d_scaled,
        |  CAST(ns AS DOUBLE) / (n1 * n2) ks_stat, v v_star
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.ksTest(Tables.events(s, d), "user_id",
          col("event_type") === "click", col("event_type") === "purchase",
          floor(col("value") * 64).cast("long"))
        .orderBy("user_id")
    },

    // Benjamini–Hochberg FDR (Stats.bhAdjust) over the per-(user,
    // event_type) family of sign-test-style scores p = min(1,
    // 2·min(pos,neg)/n) — each candidate p·m/j is one IEEE multiply +
    // one divide from identical inputs, so the reversed running min
    // hash-replays. The p column here is an exact-rational empirical
    // score standing in for a real p-value; the operator is generic
    // over any p column.
    dfQ("q211_bh_fdr",
      """WITH g AS (SELECT user_id || ':' || event_type AS test_id,
        |    SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) pos,
        |    COUNT(*) n FROM events GROUP BY 1),
        |p AS (SELECT test_id,
        |    LEAST(1.0, 2.0 * LEAST(pos, n - pos) / n) p FROM g),
        |b AS (SELECT test_id, p, COUNT(*) OVER () m,
        |    ROW_NUMBER() OVER (ORDER BY p, test_id) j FROM p),
        |c AS (SELECT test_id, p, m, j, p * m / j cand FROM b),
        |a AS (SELECT test_id, p, m, j, LEAST(1.0, MIN(cand) OVER (
        |    ORDER BY j DESC ROWS UNBOUNDED PRECEDING)) adj FROM c)
        |SELECT test_id, p, CAST(m AS BIGINT) m, CAST(j AS BIGINT) p_rank,
        |  adj p_adj, adj <= 0.1 AS rejected
        |FROM a ORDER BY p_rank""".stripMargin) { (s, d) =>
      val fam = Tables.events(s, d)
        .groupBy(concat(col("user_id"), lit(":"), col("event_type"))
          .as("test_id"))
        .agg(sum(when(col("value") > 0.5, 1L).otherwise(0L)).as("pos"),
          count(lit(1)).as("n"))
        .select(col("test_id"), least(lit(1.0),
          lit(2.0) * least(col("pos"), col("n") - col("pos")) / col("n"))
          .as("p"))
      Stats.bhAdjust(fam, "test_id", "p", alpha = 0.1).orderBy("p_rank")
    },

    // Per-user activity stitching (Intervals.mergeIntervals): events
    // carry a value-scaled duration; overlapping spans merge into
    // maximal islands via running-max-end — µs-exact integer
    // boundaries, no self-join, no per-unit explode.
    dfQ("q212_interval_merge",
      """WITH sp AS (SELECT user_id, event_id, epoch_us(ts) s,
        |    epoch_us(ts)
        |      + (1 + CAST(FLOOR(value * 300) AS BIGINT)) * 1000000 e
        |  FROM events),
        |f AS (SELECT user_id, event_id, s, e, MAX(e) OVER (
        |    PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pmax
        |  FROM sp),
        |i AS (SELECT user_id, s, e,
        |    SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS UNBOUNDED PRECEDING) isl
        |  FROM f)
        |SELECT user_id, CAST(isl AS BIGINT) island, MIN(s) AS start,
        |  MAX(e) AS "end", COUNT(*) n_spans
        |FROM i GROUP BY user_id, isl
        |ORDER BY user_id, island""".stripMargin) { (s, d) =>
      val us = unix_micros(col("ts"))
      val spans = Tables.events(s, d).select(col("user_id"), col("event_id"),
        us.as("s"),
        (us + (lit(1L) + floor(col("value") * 300).cast("long"))
          * lit(1000000L)).as("e"))
      Intervals.mergeIntervals(spans, "user_id", "s", "e", "event_id")
        .orderBy("user_id", "island")
    },

    // 2-D Pareto frontier (Stats.paretoFront): parts not dominated on
    // (size, price) — the skyline via per-x best + one ordered scan
    // over the distinct-x summary, never all-pairs. Integer inputs, so
    // frontier membership and ties are exact.
    dfQ("q213_pareto",
      """WITH p AS (SELECT p_partkey, p_size,
        |    CAST(FLOOR(p_retailprice * 100) AS BIGINT) price_c FROM part),
        |x AS (SELECT p_size, MAX(price_c) my FROM p GROUP BY 1),
        |f AS (SELECT p_size, my FROM (
        |    SELECT p_size, my, MAX(my) OVER (ORDER BY p_size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) mgt
        |    FROM x) t WHERE mgt IS NULL OR my > mgt)
        |SELECT p.p_partkey, p.p_size, p.price_c
        |FROM p JOIN f ON p.p_size = f.p_size AND p.price_c = f.my
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val p = Tables.table(s, d, "part").select(col("p_partkey"),
        col("p_size"), floor(col("p_retailprice") * 100).cast("long")
          .as("price_c"))
      Stats.paretoFront(p, "p_size", "price_c").orderBy("p_partkey")
    },

    // CDC apply with deletes (Merge.applyChanges): orders re-read as a
    // change feed — latest change per customer by (date, orderkey)
    // wins; a winning delete removes the key from the snapshot.
    dfQ("q214_cdc_apply",
      """WITH ch AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    o_totalprice, CASE o_orderstatus WHEN 'P' THEN 'D'
        |      WHEN 'O' THEN 'I' ELSE 'U' END op FROM orders),
        |r AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, op,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) rk FROM ch)
        |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        |FROM r WHERE rk = 1 AND op <> 'D'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val ch = Tables.table(s, d, "orders").select(col("o_custkey"),
        col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        when(col("o_orderstatus") === "P", "D")
          .when(col("o_orderstatus") === "O", "I").otherwise("U").as("op"))
      Merge.applyChanges(ch, "o_custkey", Seq("o_orderdate", "o_orderkey"),
          "op")
        .orderBy("o_custkey")
    },

    // K-anonymity / l-diversity audit (Quality.kAnonymity): equivalence
    // classes over (nation, segment) with class size, distinct
    // sensitive buckets, and the n < k risk flag — one grouped agg.
    dfQ("q215_k_anonymity",
      """SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) n,
        |  CAST(COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 100)
        |    AS BIGINT)) AS BIGINT) l_diversity,
        |  COUNT(*) < 40 AS risky
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, d) =>
      graft.ops.Quality.kAnonymity(Tables.table(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"),
          floor(col("c_acctbal").cast("double") / 100).cast("long"), k = 40)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // Poisson bootstrap CI (Sampling.poissonBootstrap): per-event-type
    // mean with 95% bounds from 40 hash-weighted replicates — all
    // replicates in one pass, weights from the md5-uniform through the
    // literal Poisson(1) CDF ladder, CI = order statistics of the
    // replicate means (ranks 2 and 39).
    dfQ("q216_bootstrap_ci",
      """WITH base AS (SELECT event_type g, event_id id,
        |    CAST(FLOOR(value * 1000) AS BIGINT) x FROM events),
        |est AS (SELECT g, COUNT(*) n,
        |    CAST(SUM(x) AS DOUBLE) / COUNT(*) estimate FROM base GROUP BY g),
        |reps AS (SELECT g, id, x, r FROM base
        |  CROSS JOIN UNNEST(RANGE(0, 40)) t(r)),
        |h AS (SELECT g, r, x, CAST(CONCAT('0x', SUBSTRING(MD5(
        |    CAST(id AS VARCHAR) || ':' || CAST(r // 4 AS VARCHAR)
        |      || ':q216'),
        |    (r % 4) * 8 + 1, 8)) AS BIGINT) hv FROM reps),
        |pw AS (SELECT g, r, x, CASE
        |    WHEN u < 0.36787944117144233 THEN 0
        |    WHEN u < 0.7357588823428847 THEN 1
        |    WHEN u < 0.9196986029286058 THEN 2
        |    WHEN u < 0.9810118431238462 THEN 3
        |    WHEN u < 0.9963401531726562 THEN 4
        |    WHEN u < 0.9994058151824182 THEN 5
        |    WHEN u < 0.999916758850712 THEN 6
        |    WHEN u < 0.9999897508033254 THEN 7
        |    WHEN u < 0.9999988747974021 THEN 8 ELSE 9 END w
        |  FROM (SELECT g, r, x, CAST(hv AS DOUBLE) / 4294967296.0 u
        |        FROM h) uu),
        |m AS (SELECT g, r, CASE WHEN SUM(w) = 0 THEN NULL
        |    ELSE CAST(SUM(w * x) AS DOUBLE) / SUM(w) END m
        |  FROM pw GROUP BY g, r),
        |rk AS (SELECT g, r, m, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY m, r) rk FROM m WHERE m IS NOT NULL),
        |ci AS (SELECT g, MIN(CASE WHEN rk = 2 THEN m END) ci_lo,
        |    MIN(CASE WHEN rk = 39 THEN m END) ci_hi FROM rk GROUP BY g)
        |SELECT est.g event_type, CAST(n AS BIGINT) n, estimate,
        |  ci_lo, ci_hi
        |FROM est JOIN ci ON est.g = ci.g
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      Sampling.poissonBootstrap(Tables.events(s, d), "event_type",
          "event_id", floor(col("value") * 1000).cast("long"),
          b = 40, alpha = 0.05, seed = "q216")
        .orderBy("event_type")
    },

    // Holt double exponential smoothing (Resample.holtWinters): per-user
    // level + trend with a 3-step forecast, dyadic α = β = ½ — the
    // oracle replays the coupled recurrence with an identically-shaped
    // recursive CTE, so the doubles hash bit-for-bit.
    dfQ("q217_holt",
      """WITH RECURSIVE s AS (SELECT user_id, value x,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) i,
        |    COUNT(*) OVER (PARTITION BY user_id) n FROM events),
        |r AS (
        |  SELECT a.user_id, a.n, 1 AS i, a.x AS l, b.x - a.x AS t
        |  FROM s a JOIN s b ON a.user_id = b.user_id
        |    AND a.i = 1 AND b.i = 2
        |  WHERE a.n >= 2
        |  UNION ALL
        |  SELECT r.user_id, r.n, r.i + 1,
        |    s.x * 0.5 + (r.l + r.t) * 0.5,
        |    (s.x * 0.5 + (r.l + r.t) * 0.5 - r.l) * 0.5 + r.t * 0.5
        |  FROM r JOIN s ON s.user_id = r.user_id AND s.i = r.i + 1
        |  WHERE r.i < r.n)
        |SELECT user_id, CAST(n AS BIGINT) n, l AS level, t AS trend,
        |  l + 3 * t AS forecast
        |FROM r WHERE i = n ORDER BY user_id""".stripMargin) { (s, d) =>
      Resample.holtWinters(Tables.events(s, d), "user_id", "ts",
          "event_id", "value", alpha = 0.5, beta = 0.5, horizon = 3)
        .orderBy("user_id")
    },

    // HITS hubs & authorities (Components.hitsExact): two exact-integer
    // iterations over the directed order→part graph, L∞-normalized by
    // floor-division against the round max — the oracle unrolls both
    // rounds, so the hash pins every intermediate.
    dfQ("q218_hits",
      """WITH raw AS (SELECT DISTINCT l_orderkey * 2 u, l_partkey * 2 + 1 v
        |  FROM lineitem WHERE l_orderkey < 2000),
        |n AS (SELECT u node FROM raw UNION SELECT v FROM raw),
        |a1n AS (SELECT n.node, COALESCE(s.s, 0) a FROM n LEFT JOIN (
        |    SELECT v node, SUM(1000000) s FROM raw GROUP BY v) s
        |  USING (node)),
        |a1 AS (SELECT node, (a * 1000000) // m a FROM a1n
        |  CROSS JOIN (SELECT MAX(a) m FROM a1n) mm),
        |h1n AS (SELECT n.node, COALESCE(s.s, 0) h FROM n LEFT JOIN (
        |    SELECT raw.u node, SUM(a1.a) s FROM raw
        |    JOIN a1 ON a1.node = raw.v GROUP BY raw.u) s USING (node)),
        |h1 AS (SELECT node, (h * 1000000) // m h FROM h1n
        |  CROSS JOIN (SELECT MAX(h) m FROM h1n) mm),
        |a2n AS (SELECT n.node, COALESCE(s.s, 0) a FROM n LEFT JOIN (
        |    SELECT raw.v node, SUM(h1.h) s FROM raw
        |    JOIN h1 ON h1.node = raw.u GROUP BY raw.v) s USING (node)),
        |a2 AS (SELECT node, (a * 1000000) // m a FROM a2n
        |  CROSS JOIN (SELECT MAX(a) m FROM a2n) mm),
        |h2n AS (SELECT n.node, COALESCE(s.s, 0) h FROM n LEFT JOIN (
        |    SELECT raw.u node, SUM(a2.a) s FROM raw
        |    JOIN a2 ON a2.node = raw.v GROUP BY raw.u) s USING (node)),
        |h2 AS (SELECT node, (h * 1000000) // m h FROM h2n
        |  CROSS JOIN (SELECT MAX(h) m FROM h2n) mm)
        |SELECT n.node, CAST(h2.h AS BIGINT) h, CAST(a2.a AS BIGINT) a
        |FROM n JOIN h2 USING (node) JOIN a2 USING (node)
        |ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
      val edges = li.select((col("l_orderkey") * 2).as("u"),
        (col("l_partkey") * 2 + 1).as("v"))
      Components.hitsExact(edges, "u", "v", iters = 2)
        .orderBy("node")
    },

    // Reciprocal rank fusion (Indexing.rrfFuse): two per-language
    // rankings — length-based and a hash-order stand-in for a second
    // retriever — fused by Σ 1/(60+rank), terms folded in sorted
    // system order so the doubles hash-replay.
    dfQ("q219_rrf",
      """WITH ra AS (SELECT lang q, doc_id d, 'chars' s, ROW_NUMBER()
        |    OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) r
        |  FROM documents),
        |rb AS (SELECT lang q, doc_id d, 'hash' s, ROW_NUMBER()
        |    OVER (PARTITION BY lang ORDER BY CAST(CONCAT('0x',
        |      SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 10000, doc_id) r
        |  FROM documents),
        |u AS (SELECT * FROM ra WHERE r <= 50
        |  UNION ALL SELECT * FROM rb WHERE r <= 50),
        |f AS (SELECT q, d, COUNT(*) n_systems,
        |    LIST_REDUCE(LIST(1e0 / (60 + r) ORDER BY s),
        |      (a, b) -> a + b) score
        |  FROM u GROUP BY q, d),
        |r2 AS (SELECT q, d, n_systems, score, ROW_NUMBER() OVER (
        |    PARTITION BY q ORDER BY score DESC, d) fr FROM f)
        |SELECT q lang, d doc_id, CAST(n_systems AS BIGINT) n_systems,
        |  score, CAST(fr AS BIGINT) fused_rank
        |FROM r2 WHERE fr <= 10
        |ORDER BY lang, fused_rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.table(s, d, "documents")
      val wA = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val wB = Window.partitionBy(col("lang"))
        .orderBy(Sampling.hashBucket(col("doc_id")), col("doc_id"))
      def top50(w: org.apache.spark.sql.expressions.WindowSpec,
                name: String) = docs
        .select(col("lang"), col("doc_id"),
          row_number().over(w).as("rank"))
        .filter(col("rank") <= 50).withColumn("system", lit(name))
      Indexing.rrfFuse(
          top50(wA, "chars").unionByName(top50(wB, "hash")),
          "lang", "doc_id", "system", "rank", kConst = 60, topK = 10)
        .orderBy("lang", "fused_rank")
    },

    // Weighted sampling without replacement
    // (Sampling.weightedSampleWithoutReplacement, Efraimidis–Spirakis):
    // 20 docs per source, probability ∝ n_chars, via the largest
    // ln(u)/w keys — u exact-dyadic from md5, ln on the 2⁻²⁶ grid.
    dfQ("q220_weighted_wor",
      """WITH h AS (SELECT source, doc_id, n_chars,
        |    CAST(CONCAT('0x', SUBSTRING(MD5(
        |      CAST(doc_id AS VARCHAR) || ':q220'), 1, 8)) AS BIGINT) hv
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT source, doc_id,
        |    FLOOR(LN((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0)
        |      * 67108864.0) / 67108864.0 / n_chars wk FROM h),
        |r AS (SELECT source, doc_id, wk, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY wk DESC, doc_id) rk FROM k)
        |SELECT source, doc_id, wk sample_key, CAST(rk AS BIGINT) sample_rank
        |FROM r WHERE rk <= 20
        |ORDER BY source, sample_rank""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents").filter(col("n_chars") > 0)
      Sampling.weightedSampleWithoutReplacement(docs, "source", "doc_id",
          col("n_chars"), k = 20, seed = "q220")
        .select(col("source"), col("doc_id"), col("sample_key"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("source", "sample_rank")
    },

    // Weight of evidence + information value (Stats.woeIv): is
    // event_type predictive of value > 0.5 — ±0.5-adjusted WOE on the
    // quantized-ln grid, IV folded in bucket order.
    dfQ("q221_woe_iv",
      """WITH c AS (SELECT event_type b,
        |    SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) pos,
        |    SUM(CASE WHEN value > 0.5 THEN 0 ELSE 1 END) neg
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(pos) p, SUM(neg) n FROM c),
        |w AS (SELECT b, pos, neg,
        |    FLOOR(LN(((pos + 0.5) * n) / ((neg + 0.5) * p))
        |      * 67108864.0) / 67108864.0 woe,
        |    (CAST(pos AS DOUBLE) / p - CAST(neg AS DOUBLE) / n) iv0
        |  FROM c CROSS JOIN t),
        |r AS (SELECT b, pos, neg, woe, iv0 * woe iv_term FROM w),
        |tt AS (SELECT LIST_REDUCE(LIST(iv_term ORDER BY b),
        |    (a, x) -> a + x) iv_total FROM r)
        |SELECT b event_type, CAST(pos AS BIGINT) pos,
        |  CAST(neg AS BIGINT) neg, woe, iv_term, tt.iv_total
        |FROM r CROSS JOIN tt ORDER BY event_type""".stripMargin) { (s, d) =>
      Stats.woeIv(Tables.events(s, d), "event_type", col("value") > 0.5)
        .orderBy("event_type")
    },

    // Leave-one-out target encoding (Stats.looTargetEncode): each
    // order's priority encoded as the mean total price of its priority
    // class EXCLUDING itself — exact integer subtraction, one division.
    dfQ("q222_loo_encode",
      """WITH y AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(FLOOR(o_totalprice) AS BIGINT) yv FROM orders
        |  WHERE o_orderkey < 5000),
        |g AS (SELECT o_orderpriority, SUM(yv) sy, COUNT(*) ny FROM y
        |  GROUP BY 1)
        |SELECT y.o_orderkey, y.o_orderpriority,
        |  CASE WHEN g.ny = 1 THEN NULL
        |    ELSE CAST(g.sy - y.yv AS DOUBLE) / (g.ny - 1) END loo
        |FROM y JOIN g USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val y = Tables.table(s, d, "orders")
        .filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("yv"))
      Stats.looTargetEncode(y, "o_orderpriority", col("yv"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("loo"))
        .orderBy("o_orderkey")
    },

    // Mutual information (Stats.mutualInformation): how much does
    // event_type tell you about the value quartile — exact cell/marginal
    // counts, per-cell ln on the quantized grid, total folded in cell
    // order.
    dfQ("q223_mutual_info",
      """WITH t AS (SELECT event_type x,
        |    CAST(FLOOR(value * 4) AS BIGINT) y FROM events),
        |c AS (SELECT x, y, COUNT(*) c FROM t GROUP BY 1, 2),
        |m AS (SELECT x, y, c,
        |    SUM(c) OVER (PARTITION BY x) cx,
        |    SUM(c) OVER (PARTITION BY y) cy,
        |    SUM(c) OVER () n FROM c),
        |w AS (SELECT x, y, c, cx, cy,
        |    (CAST(c AS DOUBLE) / n) * (FLOOR(LN(CAST(c * n AS DOUBLE)
        |      / (cx * cy)) * 67108864.0) / 67108864.0) term FROM m),
        |tt AS (SELECT LIST_REDUCE(LIST(term ORDER BY x, y),
        |    (a, e) -> a + e) mi_total FROM w)
        |SELECT x event_type, y, CAST(c AS BIGINT) c,
        |  CAST(cx AS BIGINT) cx, CAST(cy AS BIGINT) cy, term,
        |  tt.mi_total
        |FROM w CROSS JOIN tt ORDER BY event_type, y""".stripMargin) { (s, d) =>
      Stats.mutualInformation(Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 4).cast("long").as("y")),
          "event_type", "y")
        .orderBy("event_type", "y")
    },

    // End-to-end entity resolution: blocked Jaro–Winkler pair
    // generation (q206) → connected components over the match graph
    // (q83 machinery) → canonical record per cluster (highest price,
    // lowest key tiebreak). The composite a record-linkage pipeline
    // actually runs; every stage is the already-verified operator.
    dfQ("q224_entity_resolution",
      """WITH RECURSIVE pr AS (
        |  SELECT a.p_partkey u, b.p_partkey v
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9),
        |sym AS (SELECT u, v FROM pr UNION SELECT v, u FROM pr),
        |reach(n, r) AS (
        |  SELECT u, u FROM sym
        |  UNION
        |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.n),
        |comp AS (SELECT n AS node, MIN(r) AS component FROM reach
        |  GROUP BY n),
        |rk AS (SELECT comp.component, comp.node,
        |    CAST(FLOOR(p.p_retailprice * 100) AS BIGINT) price_c,
        |    ROW_NUMBER() OVER (PARTITION BY comp.component
        |      ORDER BY FLOOR(p.p_retailprice * 100) DESC, comp.node) rn
        |  FROM comp JOIN part p ON p.p_partkey = comp.node)
        |SELECT component, MIN(CASE WHEN rn = 1 THEN node END) canon_key,
        |  CAST(COUNT(*) AS BIGINT) n_members,
        |  MAX(price_c) canon_price_c
        |FROM rk GROUP BY component
        |ORDER BY component""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val part = Tables.table(s, d, "part")
      val pairs = graft.ops.FuzzyJoin.jaroWinklerPairs(part, "p_partkey",
        "p_name", Seq("p_brand", "p_size"), minSim = 0.9)
      val comps = Components.connectedComponents(pairs, "a", "b")
      val rk = comps.join(part, comps("node") === part("p_partkey"))
        .select(col("component"), col("node"),
          floor(col("p_retailprice") * 100).cast("long").as("price_c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(col("price_c").desc, col("node"))))
      rk.groupBy("component")
        .agg(min(when(col("rn") === 1, col("node"))).as("canon_key"),
          count(lit(1)).as("n_members"),
          max(col("price_c")).as("canon_price_c"))
        .orderBy("component")
    },

    // Seasonal anomaly detection composite: subtract the day-of-week
    // baseline (q198's epoch-day dow convention), then the robust
    // median/MAD gate (q120's modified z-score) on the residuals, per
    // event type — the metrics-monitoring workflow end-to-end.
    dfQ("q225_seasonal_anomaly",
      """WITH b AS (SELECT event_type,
        |    CAST(FLOOR(value * 64) AS BIGINT) vx,
        |    (EPOCH_US(ts) // 86400000000 + 4) % 7 dow FROM events),
        |p AS (SELECT event_type, dow,
        |    CAST(SUM(vx) AS DOUBLE) / COUNT(*) mu FROM b GROUP BY 1, 2),
        |r AS (SELECT b.event_type, b.vx - p.mu AS r FROM b
        |  JOIN p ON p.event_type = b.event_type AND p.dow = b.dow),
        |m AS (SELECT event_type, PERCENTILE_CONT(0.5)
        |    WITHIN GROUP (ORDER BY r) medr FROM r GROUP BY 1),
        |a AS (SELECT r.event_type, r.r, m.medr FROM r
        |  JOIN m ON m.event_type = r.event_type),
        |d AS (SELECT event_type, PERCENTILE_CONT(0.5)
        |    WITHIN GROUP (ORDER BY ABS(r - medr)) madr
        |  FROM a GROUP BY 1)
        |SELECT a.event_type, CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CASE WHEN ABS(a.r - a.medr)
        |    > 3.5 * 1.4826 * d.madr THEN 1 ELSE 0 END) AS BIGINT)
        |    n_anomalies,
        |  ROUND(MIN(a.medr), 6) med_r, ROUND(MIN(d.madr), 6) mad_r
        |FROM a JOIN d ON d.event_type = a.event_type
        |GROUP BY a.event_type
        |ORDER BY a.event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val days = call_function("div", unix_micros(col("ts")),
        lit(86400000000L))
      // vx is integral, so the entire med/MAD chain collapses onto the
      // DISTINCT-VALUE cell table (event_type × 7 dow × ~65 vx buckets
      // — the doubledRanks discipline): ONE events scan builds it, the
      // cut makes it the single source for the four count-weighted
      // passes (the row-scale formulation re-planned the events scan +
      // residual join per percentile pass). percentile(x, p, freq)
      // replays PERCENTILE_CONT exactly over the replicated counts;
      // sum(vx·c)/Σc is the same one-division mean.
      val cells = ev.select(col("event_type"),
          floor(col("value") * 64).cast("long").as("vx"),
          pmod(days + 4, lit(7L)).as("dow"))
        .groupBy("event_type", "dow", "vx")
        .agg(count(lit(1)).as("c"))
        .transform(Cut.summary)
      val prof = cells.groupBy("event_type", "dow")
        .agg((sum(col("vx") * col("c")).cast("double") / sum("c")).as("mu"))
      val resid = cells.join(broadcast(prof), Seq("event_type", "dow"))
        .select(col("event_type"), (col("vx") - col("mu")).as("r"),
          col("c"))
      val med = resid.groupBy("event_type")
        .agg(percentile(col("r"), lit(0.5), col("c")).as("medr"))
      val a = resid.join(broadcast(med), "event_type")
      val mad = a.groupBy("event_type")
        .agg(percentile(abs(col("r") - col("medr")), lit(0.5), col("c"))
          .as("madr"))
      a.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(sum("c").as("n"),
          sum(when(abs(col("r") - col("medr")) >
            lit(3.5) * lit(1.4826) * col("madr"), col("c")).otherwise(0L))
            .as("n_anomalies"),
          round(min(col("medr")), 6).as("med_r"),
          round(min(col("madr")), 6).as("mad_r"))
        .orderBy("event_type")
    },

    // Split-conformal prediction intervals (Stats.conformalInterval):
    // a hash-split calibration set prices the exact ⌈0.9(n+1)⌉-th
    // absolute residual of a priority-mean predictor; every test row
    // gets ŷ ± q with distribution-free ≥90% coverage. The 0.9 factor
    // is forced to DOUBLE in the oracle — DuckDB's decimal 0.9·(n+1)
    // is exact where the double is not, which shifts the CEIL.
    dfQ("q226_conformal",
      """WITH s AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(FLOOR(o_totalprice) AS BIGINT) y,
        |    CASE WHEN CAST(CONCAT('0x', SUBSTRING(MD5(
        |      CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |      < 8000 THEN 'cal' ELSE 'test' END split
        |  FROM orders),
        |m AS (SELECT o_orderpriority,
        |    CAST(SUM(y) AS DOUBLE) / COUNT(*) yhat FROM s
        |  WHERE split = 'cal' GROUP BY 1),
        |calr AS (SELECT ABS(s.y - m.yhat) r FROM s
        |  JOIN m USING (o_orderpriority) WHERE split = 'cal'),
        |n AS (SELECT COUNT(*) n FROM calr),
        |rk AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r) rk FROM calr),
        |qq AS (SELECT r q FROM rk CROSS JOIN n WHERE rk = LEAST(
        |  CAST(CEIL(CAST(0.9 AS DOUBLE) * (n + 1)) AS BIGINT), n))
        |SELECT s.o_orderkey, s.o_orderpriority, m.yhat,
        |  m.yhat - qq.q lo, m.yhat + qq.q hi
        |FROM s JOIN m USING (o_orderpriority) CROSS JOIN qq
        |WHERE s.split = 'test'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = Tables.table(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        floor(col("o_totalprice")).cast("long").as("y"),
        when(Sampling.hashBucket(col("o_orderkey")) < 8000, "cal")
          .otherwise("test").as("split"))
      // the per-priority model is priority-bounded (5 rows) but feeds
      // BOTH the cal and the test join — cut it once or its whole
      // orders scan re-runs per consumer, and broadcast it
      val m = base.filter(col("split") === "cal")
        .groupBy("o_orderpriority")
        .agg((sum("y").cast("double") / count(lit(1))).as("yhat"))
        .transform(Cut.summary)
      val cal = base.filter(col("split") === "cal")
        .join(broadcast(m), "o_orderpriority")
      val test = base.filter(col("split") === "test")
        .join(broadcast(m), "o_orderpriority")
      Stats.conformalInterval(cal, test, "y", "yhat", alpha = 0.1)
        .select(col("o_orderkey"), col("o_orderpriority"), col("yhat"),
          col("lo"), col("hi"))
        .orderBy("o_orderkey")
    },

    // Key-skew profile (Skew.keyProfile): the pre-salting diagnostic —
    // per candidate key, cardinality, heaviest-key share, and
    // binary-exact tail percentiles of the per-key row counts.
    dfQ("q227_skew_profile",
      """WITH c1 AS (SELECT CAST(l_suppkey AS VARCHAR) k, COUNT(*) c
        |  FROM lineitem GROUP BY 1),
        |r1 AS (SELECT k, c, ROW_NUMBER() OVER (ORDER BY c DESC, k) rk
        |  FROM c1),
        |p1 AS (SELECT 'l_suppkey' key_col, CAST(COUNT(*) AS BIGINT) n_keys,
        |    CAST(SUM(c) AS BIGINT) n_rows,
        |    CAST(MAX(c) AS DOUBLE) / SUM(c) max_share,
        |    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY c) p50,
        |    PERCENTILE_CONT(0.875) WITHIN GROUP (ORDER BY c) p875,
        |    PERCENTILE_CONT(0.984375) WITHIN GROUP (ORDER BY c) p984,
        |    MIN(CASE WHEN rk = 1 THEN k END) top_key,
        |    CAST(MAX(c) AS BIGINT) top_count FROM r1),
        |c2 AS (SELECT CAST(l_returnflag AS VARCHAR) k, COUNT(*) c
        |  FROM lineitem GROUP BY 1),
        |r2 AS (SELECT k, c, ROW_NUMBER() OVER (ORDER BY c DESC, k) rk
        |  FROM c2),
        |p2 AS (SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(c) AS BIGINT), CAST(MAX(c) AS DOUBLE) / SUM(c),
        |    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY c),
        |    PERCENTILE_CONT(0.875) WITHIN GROUP (ORDER BY c),
        |    PERCENTILE_CONT(0.984375) WITHIN GROUP (ORDER BY c),
        |    MIN(CASE WHEN rk = 1 THEN k END),
        |    CAST(MAX(c) AS BIGINT) FROM r2)
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |ORDER BY key_col""".stripMargin) { (s, d) =>
      graft.ops.Skew.keyProfile(Tables.table(s, d, "lineitem"),
          Seq("l_suppkey", "l_returnflag"))
        .orderBy("key_col")
    },

    // Lift / cumulative-gains table (Stats.liftTable): score deciles
    // vs the purchase label — exact integer counts, one division per
    // ratio, NTILE over a total order.
    dfQ("q228_lift_table",
      """WITH s AS (SELECT event_id, value sc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y
        |  FROM events),
        |d AS (SELECT y, NTILE(10) OVER (ORDER BY sc DESC, event_id) dc
        |  FROM s),
        |g AS (SELECT dc, COUNT(*) n, SUM(y) pos FROM d GROUP BY dc),
        |t AS (SELECT SUM(n) nn, SUM(pos) p FROM g),
        |r AS (SELECT dc, n, pos, SUM(pos) OVER (ORDER BY dc
        |    ROWS UNBOUNDED PRECEDING) cpos FROM g)
        |SELECT r.dc decile, CAST(n AS BIGINT) n,
        |  CAST(pos AS BIGINT) pos, CAST(pos AS DOUBLE) / n pos_rate,
        |  CAST(pos * t.nn AS DOUBLE) / (n * t.p) lift,
        |  CAST(cpos AS DOUBLE) / t.p cum_gain
        |FROM r CROSS JOIN t ORDER BY decile""".stripMargin) { (s, d) =>
      Stats.liftTable(Tables.events(s, d), "event_id", col("value"),
          col("event_type") === "purchase", buckets = 10)
        .orderBy("decile")
    },

    // Incremental join-view maintenance (Rollup.joinDelta): the
    // standing view plus ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB equals the full join of
    // the grown sides — the oracle recomputes that full join directly,
    // so the identity itself is what the hash certifies.
    dfQ("q229_join_delta",
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey < 4000 AND c.c_custkey < 300
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val orders = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice"))
      val cust = Tables.table(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val a  = orders.filter(col("o_orderkey") < 3000)
      val da = orders.filter(col("o_orderkey") >= 3000 &&
        col("o_orderkey") < 4000)
      val b  = cust.filter(col("custkey") < 200)
      val db = cust.filter(col("custkey") >= 200 && col("custkey") < 300)
      val standing = a.join(b, "custkey")
      standing.unionByName(Rollup.joinDelta(a, da, b, db, "custkey"))
        .select(col("o_orderkey"), col("custkey").as("o_custkey"),
          col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Expected calibration error (Stats.expectedCalibrationError): the
    // one-number summary over q174's bins, folded in bin order.
    dfQ("q230_ece",
      """WITH b AS (SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0)
        |      AS BIGINT), 0), 7) bin,
        |    CAST(COUNT(*) AS BIGINT) n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |        AS DOUBLE) / COUNT(*) pos_rate,
        |    CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |        AS DOUBLE) / (100.0 * COUNT(*)) mean_score
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(n) nn FROM b),
        |w AS (SELECT bin, n,
        |    (CAST(n AS DOUBLE) / t.nn) * ABS(pos_rate - mean_score) tt
        |  FROM b CROSS JOIN t)
        |SELECT CAST(SUM(n) AS BIGINT) n, CAST(COUNT(*) AS BIGINT) n_bins,
        |  LIST_REDUCE(LIST(tt ORDER BY bin), (a, e) -> a + e) ece
        |FROM w""".stripMargin) { (s, d) =>
      Stats.expectedCalibrationError(Tables.table(s, d, "events"),
        col("value"), col("event_type") === "purchase",
        bins = 8, lo = 0.0, hi = 400.0)
    },

    // Mondrian conformal (Stats.conformalIntervalByGroup): q226's
    // calibration quantile taken WITHIN each priority class — per-
    // segment widths and per-segment coverage.
    dfQ("q231_conformal_group",
      """WITH s AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(FLOOR(o_totalprice) AS BIGINT) y,
        |    CASE WHEN CAST(CONCAT('0x', SUBSTRING(MD5(
        |      CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |      < 8000 THEN 'cal' ELSE 'test' END split
        |  FROM orders),
        |m AS (SELECT o_orderpriority,
        |    CAST(SUM(y) AS DOUBLE) / COUNT(*) yhat FROM s
        |  WHERE split = 'cal' GROUP BY 1),
        |calr AS (SELECT s.o_orderpriority g, ABS(s.y - m.yhat) r FROM s
        |  JOIN m USING (o_orderpriority) WHERE split = 'cal'),
        |rk AS (SELECT g, r,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY r) rk,
        |    COUNT(*) OVER (PARTITION BY g) n FROM calr),
        |qq AS (SELECT g, r q FROM rk WHERE rk = LEAST(
        |  CAST(CEIL(CAST(0.9 AS DOUBLE) * (n + 1)) AS BIGINT), n))
        |SELECT s.o_orderkey, s.o_orderpriority, m.yhat,
        |  m.yhat - qq.q lo, m.yhat + qq.q hi
        |FROM s JOIN m USING (o_orderpriority)
        |  JOIN qq ON qq.g = s.o_orderpriority
        |WHERE s.split = 'test'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = Tables.table(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        floor(col("o_totalprice")).cast("long").as("y"),
        when(Sampling.hashBucket(col("o_orderkey")) < 8000, "cal")
          .otherwise("test").as("split"))
      // the per-priority model is priority-bounded (5 rows) but feeds
      // BOTH the cal and the test join — cut it once or its whole
      // orders scan re-runs per consumer, and broadcast it
      val m = base.filter(col("split") === "cal")
        .groupBy("o_orderpriority")
        .agg((sum("y").cast("double") / count(lit(1))).as("yhat"))
        .transform(Cut.summary)
      val cal = base.filter(col("split") === "cal")
        .join(broadcast(m), "o_orderpriority")
      val test = base.filter(col("split") === "test")
        .join(broadcast(m), "o_orderpriority")
      Stats.conformalIntervalByGroup(cal, test, "o_orderpriority",
          "y", "yhat", alpha = 0.1)
        .select(col("o_orderkey"), col("o_orderpriority"), col("yhat"),
          col("lo"), col("hi"))
        .orderBy("o_orderkey")
    },

    // Nelson–Aalen cumulative hazard (Survival.nelsonAalen): q193's
    // subject table, additive fold d/n (+ the Aalen variance d/n²)
    // instead of KM's product fold — same collapse, same LIST_REDUCE
    // replay.
    dfQ("q232_nelson_aalen",
      """WITH lt AS (
        |  SELECT user_id,
        |    (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 86400000000 t_dur,
        |    MAX(EPOCH_US(ts)) last_us
        |  FROM events GROUP BY user_id),
        |ce AS (SELECT MAX(EPOCH_US(ts)) end_us FROM events),
        |subj AS (
        |  SELECT t_dur, last_us <= end_us - 43200000000 obs
        |  FROM lt CROSS JOIN ce),
        |ag AS (
        |  SELECT t_dur t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) c
        |  FROM subj GROUP BY 1),
        |r AS (SELECT t, d, c,
        |        CAST(SUM(d + c) OVER (ORDER BY t DESC
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) n_risk
        |      FROM ag),
        |e AS (SELECT t, d, c, n_risk FROM r WHERE d > 0),
        |arr AS (SELECT
        |    LIST(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |         ORDER BY t) hs,
        |    LIST(CAST(d AS DOUBLE) / CAST(n_risk * n_risk AS DOUBLE)
        |         ORDER BY t) vs,
        |    LIST(t ORDER BY t) ts, LIST(d ORDER BY t) ds,
        |    LIST(c ORDER BY t) cs, LIST(n_risk ORDER BY t) ns
        |  FROM e),
        |x AS (SELECT hs, vs, UNNEST(ts) t, UNNEST(ds) d, UNNEST(cs) c,
        |        UNNEST(ns) n_risk,
        |        UNNEST(GENERATE_SERIES(1, LEN(ts))) i
        |      FROM arr)
        |SELECT t, d, c, n_risk,
        |  LIST_REDUCE(hs[1:i], (a, b) -> a + b) cum_hazard,
        |  LIST_REDUCE(vs[1:i], (a, b) -> a + b) hazard_var
        |FROM x ORDER BY t""".stripMargin) { (s, d) =>
      Survival.nelsonAalen(
          Survival.userLifetimes(Tables.events(s, d), "user_id", "ts",
            quietUs = 43200000000L),
          "duration_days", "observed", Seq.empty)
        .select(col("t"), col("d"), col("c"), col("n_risk"),
          col("cum_hazard"), col("hazard_var"))
        .orderBy("t")
    },

    // Difference-in-differences (Stats.diffInDiff): returned-flag
    // lineitems as the "treated" series, 1995-06-01 ship cutover as
    // the "post" period, price cents the outcome. Four exact integer
    // cells, four one-division means, one fixed subtraction tree.
    dfQ("q233_did",
      """WITH t AS (SELECT l_returnflag = 'R' tr,
        |    l_shipdate >= DATE '1995-06-01' po,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y
        |  FROM lineitem),
        |c AS (SELECT
        |  CAST(SUM(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT) ntp,
        |  CAST(SUM(CASE WHEN tr AND po THEN y ELSE 0 END) AS BIGINT) stp,
        |  CAST(SUM(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) nta,
        |  CAST(SUM(CASE WHEN tr AND NOT po THEN y ELSE 0 END) AS BIGINT) sta,
        |  CAST(SUM(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT) ncp,
        |  CAST(SUM(CASE WHEN NOT tr AND po THEN y ELSE 0 END) AS BIGINT) scp,
        |  CAST(SUM(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END)
        |    AS BIGINT) nca,
        |  CAST(SUM(CASE WHEN NOT tr AND NOT po THEN y ELSE 0 END)
        |    AS BIGINT) sca
        |  FROM t)
        |SELECT ntp n_treat_post, CAST(stp AS DOUBLE) / ntp m_treat_post,
        |  nta n_treat_pre, CAST(sta AS DOUBLE) / nta m_treat_pre,
        |  ncp n_ctrl_post, CAST(scp AS DOUBLE) / ncp m_ctrl_post,
        |  nca n_ctrl_pre, CAST(sca AS DOUBLE) / nca m_ctrl_pre,
        |  (CAST(stp AS DOUBLE) / ntp - CAST(sta AS DOUBLE) / nta)
        |    - (CAST(scp AS DOUBLE) / ncp - CAST(sca AS DOUBLE) / nca) did
        |FROM c""".stripMargin) { (s, d) =>
      Stats.diffInDiff(Tables.table(s, d, "lineitem"),
        col("l_returnflag") === "R",
        col("l_shipdate") >= lit(java.sql.Date.valueOf("1995-06-01")),
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // Brown–Forsythe spread-equality test (Stats.brownForsythe): are
    // price-cent spreads equal across return flags. Doubled medians
    // stay integral; z moments are DECIMAL(38,0)-exact; the
    // between-group Σ Sᵢ²/nᵢ folds in group order.
    dfQ("q234_brown_forsythe",
      """WITH d AS (SELECT l_returnflag g,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) x
        |  FROM lineitem),
        |rk AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x)
        |    rn, COUNT(*) OVER (PARTITION BY g) n FROM d),
        |md AS (SELECT g, CASE WHEN COUNT(*) = 1 THEN SUM(x) * 2
        |    ELSE SUM(x) END med2
        |  FROM rk WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY g),
        |z AS (SELECT d.g, ABS(d.x * 2 - md.med2) z FROM d
        |  JOIN md ON d.g = md.g),
        |cl AS (SELECT g, CAST(COUNT(*) AS BIGINT) n,
        |    SUM(CAST(z AS HUGEINT)) s, SUM(CAST(z AS HUGEINT) * z) ss
        |  FROM z GROUP BY g),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) k,
        |    CAST(SUM(n) AS BIGINT) n,
        |    SUM(s) ts, SUM(ss) tss,
        |    LIST_REDUCE(LIST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
        |      ORDER BY g), (a, e) -> a + e) bsum
        |  FROM cl)
        |SELECT k, n,
        |  CASE WHEN k <= 1 OR n <= k
        |      OR CAST(tss AS DOUBLE) - bsum <= 0 THEN NULL
        |    ELSE ((bsum - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / n)
        |        / (k - 1))
        |      / ((CAST(tss AS DOUBLE) - bsum) / (n - k))
        |  END f_stat
        |FROM t""".stripMargin) { (s, d) =>
      Stats.brownForsythe(Tables.table(s, d, "lineitem"), "l_returnflag",
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // McNemar paired-binary test (Stats.mcnemar): per user, "did a
    // view" vs "did a purchase" — only the discordant users drive the
    // statistic. Exact integers, ONE division.
    dfQ("q235_mcnemar",
      """WITH u AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1 a,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 b
        |  FROM events GROUP BY user_id)
        |SELECT
        |  CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) b,
        |  CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) c,
        |  CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) n_both,
        |  CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
        |    n_neither,
        |  CASE WHEN SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST((SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END))
        |      * (SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)) AS DOUBLE)
        |      / (SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END))
        |  END chi2
        |FROM u""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "view", 1).otherwise(0))
            .===(1).as("a"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .===(1).as("b"))
      Stats.mcnemar(u, col("a"), col("b"))
    },

    // Item-item cosine neighbors (Association.itemItemCosine): parts
    // co-purchased by the same customer, top-5 neighbors per part.
    // Integral co-counts, one sqrt·sqrt division, id tie-break.
    dfQ("q236_item_neighbors",
      """WITH b AS (SELECT DISTINCT o.o_custkey u, l.l_partkey item
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |s AS (SELECT item, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY 1),
        |co AS (SELECT a.item ia, bb.item ib, CAST(COUNT(*) AS BIGINT) co
        |  FROM b a JOIN b bb ON a.u = bb.u AND a.item < bb.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bo AS (SELECT ia, ib, co FROM co
        |  UNION ALL SELECT ib, ia, co FROM co),
        |sc AS (SELECT bo.ia item, bo.ib neighbor, bo.co,
        |    sa.c c_item, sb.c c_neighbor,
        |    CAST(bo.co AS DOUBLE)
        |      / (SQRT(CAST(sa.c AS DOUBLE)) * SQRT(CAST(sb.c AS DOUBLE)))
        |      cosine
        |  FROM bo JOIN s sa ON bo.ia = sa.item
        |    JOIN s sb ON bo.ib = sb.item),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |    ORDER BY cosine DESC, neighbor) rank FROM sc)
        |SELECT item, neighbor, co, c_item, c_neighbor, cosine,
        |  CAST(rank AS INT) rank
        |FROM rk WHERE rank <= 5 ORDER BY item, rank""".stripMargin) {
        (s, d) =>
      val ui = Tables.table(s, d, "lineitem")
        .join(Tables.table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("item"))
      graft.ops.Association.itemItemCosine(ui, "u", "item", k = 5,
          minCo = 2L)
        .orderBy("item", "rank")
    },

    // Flesch reading ease (TextAnalysis.readability): three integral
    // regex counts per document, two divisions, one literal
    // coefficient tree — a pure codegen projection.
    dfQ("q237_readability",
      """WITH t AS (SELECT doc_id,
        |    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> ''))
        |      n_words,
        |    GREATEST(1, LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')))
        |      n_sentences,
        |    LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+'))
        |      n_syllables
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS BIGINT) n_words,
        |  CAST(n_sentences AS BIGINT) n_sentences,
        |  CAST(n_syllables AS BIGINT) n_syllables,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) flesch
        |FROM t WHERE n_words > 0 ORDER BY doc_id""".stripMargin) {
        (s, d) =>
      graft.ops.TextAnalysis.readability(Tables.table(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // Cohen's kappa (Stats.cohenKappa): chance-corrected agreement of
    // the stored lang label vs the q70 stopword heuristic — the
    // annotator-vs-heuristic audit. p_e keeps an exact integer
    // numerator Σ nₐ(k)·n_b(k) over N².
    dfQ("q238_cohen_kappa",
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['the','a','of','and','to','in','is','that','it','for'], w))) se,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['der','die','das','und','ist','nicht','ein','mit','zu','auf'], w))) sd,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['le','la','les','et','est','un','une','dans','que','pour'], w))) sf,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['el','los','las','y','es','un','una','en','que','para'], w))) ss
        |  FROM (SELECT doc_id, lang, STRING_SPLIT(text,' ') ws
        |        FROM documents)),
        |g AS (SELECT lang a, CASE
        |    WHEN GREATEST(se, sd, sf, ss) = 0 THEN 'und'
        |    WHEN se = GREATEST(se, sd, sf, ss) THEN 'en'
        |    WHEN sd = GREATEST(se, sd, sf, ss) THEN 'de'
        |    WHEN sf = GREATEST(se, sd, sf, ss) THEN 'fr'
        |    ELSE 'es' END b
        |  FROM s),
        |cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) n
        |  FROM g GROUP BY 1, 2),
        |ma AS (SELECT a, SUM(n) na FROM cells GROUP BY a),
        |mb AS (SELECT b, SUM(n) nb FROM cells GROUP BY b),
        |pe AS (SELECT SUM(CAST(COALESCE(na, 0) AS HUGEINT)
        |      * COALESCE(nb, 0)) pe_num
        |  FROM ma FULL OUTER JOIN mb ON ma.a = mb.b),
        |ag AS (SELECT CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END)
        |      AS BIGINT) agree, CAST(SUM(n) AS BIGINT) n FROM cells)
        |SELECT n, agree n_agree,
        |  CAST(agree AS DOUBLE) / n p_o,
        |  CAST(pe_num AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) p_e,
        |  CASE WHEN CAST(pe_num AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) = 1.0 THEN NULL
        |    ELSE (CAST(agree AS DOUBLE) / n - CAST(pe_num AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * n AS DOUBLE))
        |      / (1.0 - CAST(pe_num AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * n AS DOUBLE))
        |  END kappa
        |FROM ag CROSS JOIN pe""".stripMargin) { (s, d) =>
      // ONE scan: the guess is a pure projection (languageGuess), so
      // lang and lang_guess ride the same row — no join-back of a
      // second documents scan
      val pairs = Tables.table(s, d, "documents").select(col("lang"),
        graft.ops.TextAnalysis.languageGuess("text").as("lang_guess"))
      Stats.cohenKappa(pairs, col("lang"), col("lang_guess"))
    },

    // Cochran–Mantel–Haenszel (Stats.cmh): returned-flag × deep-
    // discount association stratified by ship mode — the
    // Simpson's-paradox-proof pooled test. E and V are one-division
    // terms with HUGEINT-exact numerators, folded in stratum order.
    dfQ("q239_cmh",
      """WITH cells AS (SELECT YEAR(l_shipdate) s,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_discount > 0.05
        |      THEN 1 ELSE 0 END) AS BIGINT) a,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) r1,
        |    CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
        |      AS BIGINT) c1,
        |    CAST(COUNT(*) AS BIGINT) nk
        |  FROM lineitem GROUP BY 1),
        |terms AS (SELECT s,
        |    CASE WHEN nk <= 1 OR r1 = 0 OR nk - r1 = 0 OR c1 = 0
        |        OR nk - c1 = 0 THEN 0.0
        |      ELSE CAST(a AS DOUBLE)
        |        - CAST(r1 * c1 AS DOUBLE) / nk END e,
        |    CASE WHEN nk <= 1 OR r1 = 0 OR nk - r1 = 0 OR c1 = 0
        |        OR nk - c1 = 0 THEN 0.0
        |      ELSE CAST(CAST(r1 AS HUGEINT) * (nk - r1) * c1 * (nk - c1)
        |          AS DOUBLE)
        |        / CAST(CAST(nk AS HUGEINT) * nk * (nk - 1) AS DOUBLE)
        |    END v
        |  FROM cells),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) n_strata,
        |    LIST_REDUCE(LIST(e ORDER BY s), (x, y) -> x + y) se,
        |    LIST_REDUCE(LIST(v ORDER BY s), (x, y) -> x + y) sv
        |  FROM terms)
        |SELECT n_strata, se sum_dev, sv sum_var,
        |  CASE WHEN sv <= 0 THEN NULL ELSE se * se / sv END cmh
        |FROM f""".stripMargin) { (s, d) =>
      Stats.cmh(Tables.table(s, d, "lineitem"), year(col("l_shipdate")),
        col("l_returnflag") === "R", col("l_discount") > 0.05)
    },

    // Retrieval evaluation (Indexing.retrievalEval): MRR / recall@k /
    // nDCG@k per query over a deterministic ranking (longest docs per
    // source) against graded lang qrels. DCG's log₂ goes through the
    // 2⁻²⁶ lnq grid on BOTH engines; folds in rank order.
    dfQ("q240_retrieval_eval",
      """WITH res AS (SELECT source q, doc_id d,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) r
        |  FROM documents QUALIFY r <= 10),
        |qr AS (SELECT source q, doc_id d,
        |    CASE WHEN lang = 'en' THEN 2 WHEN lang = 'de' THEN 1
        |      ELSE 0 END rel
        |  FROM documents),
        |j AS (SELECT res.q, res.d, res.r, COALESCE(qr.rel, 0) rel
        |  FROM res LEFT JOIN qr ON res.q = qr.q AND res.d = qr.d),
        |pq AS (SELECT q, CAST(COUNT(*) AS BIGINT) n_results,
        |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      n_rel_at_k,
        |    MIN(CASE WHEN rel > 0 THEN r END) first_rel_rank,
        |    LIST_REDUCE(LIST(CAST(rel AS DOUBLE) /
        |        ((FLOOR(LN(CAST(r + 1 AS DOUBLE)) * 67108864.0)
        |          / 67108864.0)
        |         / (FLOOR(LN(2.0) * 67108864.0) / 67108864.0))
        |      ORDER BY r), (a, e) -> a + e) dcg
        |  FROM j GROUP BY q),
        |ir AS (SELECT q, d, rel, CAST(ROW_NUMBER() OVER (PARTITION BY q
        |      ORDER BY rel DESC, d) AS BIGINT) ir
        |  FROM qr WHERE rel > 0),
        |id2 AS (SELECT q, CAST(COUNT(*) AS BIGINT) n_rel_total,
        |    LIST_REDUCE(LIST(CASE WHEN ir <= 10 THEN CAST(rel AS DOUBLE) /
        |        ((FLOOR(LN(CAST(ir + 1 AS DOUBLE)) * 67108864.0)
        |          / 67108864.0)
        |         / (FLOOR(LN(2.0) * 67108864.0) / 67108864.0))
        |      ELSE 0.0 END ORDER BY ir), (a, e) -> a + e) idcg
        |  FROM ir GROUP BY q)
        |SELECT pq.q, n_results, COALESCE(n_rel_total, 0) n_rel_total,
        |  n_rel_at_k, first_rel_rank,
        |  CASE WHEN first_rel_rank IS NULL THEN 0.0
        |    ELSE 1.0 / first_rel_rank END rr,
        |  CASE WHEN COALESCE(n_rel_total, 0) = 0 THEN NULL
        |    ELSE CAST(n_rel_at_k AS DOUBLE) / n_rel_total
        |  END recall_at_k,
        |  dcg,
        |  CASE WHEN COALESCE(idcg, 0.0) <= 0.0 THEN NULL
        |    ELSE dcg / idcg END ndcg_at_k
        |FROM pq LEFT JOIN id2 ON pq.q = id2.q
        |ORDER BY pq.q""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.table(s, d, "documents")
      val results = docs.select(col("source").as("q"),
          col("doc_id").as("d"),
          row_number().over(Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id")))
            .cast("long").as("rank"))
        .filter(col("rank") <= 10)
      val qrels = docs.select(col("source").as("q"), col("doc_id").as("d"),
        when(col("lang") === "en", 2L).when(col("lang") === "de", 1L)
          .otherwise(0L).as("rel"))
      Indexing.retrievalEval(results, qrels, "q", "d", "rank", "rel",
          k = 10)
        .orderBy("q")
    },

    // Directed n-gram containment (Dedup.ngramContainmentPairs): the
    // asymmetric near-dup that symmetric Jaccard misses — inverted-
    // index join on the shingle, both directions from one co-count.
    dfQ("q241_containment",
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents
        |  WHERE doc_id < 150),
        |sh AS (
        |  SELECT DISTINCT doc_id, CONCAT(ws[i],' ',ws[i+1],' ',ws[i+2]) s
        |  FROM toks CROSS JOIN UNNEST(RANGE(1, LEN(ws)-1)) t(i)),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM sh
        |  GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, CAST(COUNT(*) AS BIGINT) ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dir AS (SELECT da a, db b, ix FROM inter
        |  UNION ALL SELECT db a, da b, ix FROM inter),
        |sc AS (SELECT a, b, ix co, cnt.n n_a,
        |    CAST(ix AS DOUBLE) / cnt.n c
        |  FROM dir JOIN cnt ON dir.a = cnt.doc_id)
        |SELECT a, b, co, n_a, ROUND(c, 4) containment
        |FROM sc WHERE c >= 0.1 ORDER BY a, b""".stripMargin) { (s, d) =>
      graft.ops.Dedup.ngramContainmentPairs(
          Tables.table(s, d, "documents").filter(col("doc_id") < 150),
          "doc_id", "text", shingleN = 3, threshold = 0.1)
        .orderBy("a", "b")
    },

    // RFM segmentation (Stats.rfmSegments): per-user recency/
    // frequency/monetary quintiles with the key tiebreak — integral
    // inputs, deterministic NTILE, entity-sized windows.
    dfQ("q242_rfm",
      """WITH per AS (SELECT user_id,
        |    MAX(EPOCH_US(ts)) last_us,
        |    CAST(COUNT(*) AS BIGINT) frequency,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |      monetary
        |  FROM events GROUP BY user_id),
        |ce AS (SELECT MAX(EPOCH_US(ts)) end_us FROM events),
        |base AS (SELECT user_id,
        |    (end_us - last_us) // 86400000000 recency_days,
        |    frequency, monetary
        |  FROM per CROSS JOIN ce)
        |SELECT user_id, recency_days, frequency, monetary,
        |  CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id)
        |    AS INT) r_score,
        |  CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INT)
        |    f_score,
        |  CAST(NTILE(5) OVER (ORDER BY monetary, user_id) AS INT)
        |    m_score,
        |  CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS VARCHAR)
        |    || CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS VARCHAR)
        |    || CAST(NTILE(5) OVER (ORDER BY monetary, user_id) AS VARCHAR)
        |    segment
        |FROM base ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.rfmSegments(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 100).cast("long"), buckets = 5)
        .orderBy("user_id")
    },

    // Per-group trimmed mean (Stats.trimmedMean): excise the α tails,
    // exact integer kept-sum, ONE division — the robust companion to
    // q162's winsorize (which clamps instead).
    dfQ("q243_trimmed_mean",
      """WITH d AS (SELECT l_returnflag g,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) x
        |  FROM lineitem),
        |rk AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x)
        |    rn, COUNT(*) OVER (PARTITION BY g) n FROM d),
        |kept AS (SELECT g, x, n FROM rk
        |  WHERE rn > CAST(FLOOR(n * 0.1) AS BIGINT)
        |    AND rn <= n - CAST(FLOOR(n * 0.1) AS BIGINT))
        |SELECT g l_returnflag, CAST(COUNT(*) AS BIGINT) n_kept,
        |  CAST(MAX(n) AS BIGINT) n,
        |  CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) / COUNT(*) trimmed_mean
        |FROM kept GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
      Stats.trimmedMean(Tables.table(s, d, "lineitem"), "l_returnflag",
          floor(col("l_extendedprice") * 100).cast("long"), alpha = 0.1)
        .orderBy("l_returnflag")
    },

    // Online CUSUM alarm (Stats.cusumOnline): Page's recursion in its
    // closed prefix form — two INTEGER window passes per user (exact
    // regardless of evaluation order), alarm rows where the statistic
    // crosses the threshold. The streaming twin (ST23) carries the
    // same statistic in O(1) keyed state.
    dfQ("q244_cusum_online",
      """WITH t AS (SELECT user_id k, ts, event_id id,
        |    CAST(FLOOR(value * 100) AS BIGINT) x FROM events),
        |c AS (SELECT k, ts, id, x,
        |    SUM(x - 4500) OVER (PARTITION BY k ORDER BY ts, id
        |      ROWS UNBOUNDED PRECEDING) c
        |  FROM t),
        |s AS (SELECT k, ts, id, x,
        |    c - LEAST(0, MIN(c) OVER (PARTITION BY k ORDER BY ts, id
        |      ROWS UNBOUNDED PRECEDING)) s
        |  FROM c)
        |SELECT k user_id, DATE_TRUNC('second', ts) ts, id event_id, x,
        |  CAST(s AS BIGINT) cusum_stat
        |FROM s WHERE s >= 20000
        |ORDER BY user_id, ts, event_id""".stripMargin) { (s, d) =>
      // Serialization per SURVEY 5.3: the emitted event timestamp is
      // second-truncated (the window recursion still orders on the raw
      // microsecond ts) and the windowed SUM is CAST back to BIGINT in
      // the oracle - DuckDB widens SUM(BIGINT) to HUGEINT, which the
      // driver's arrow/pandas fetch renders as a double ("20123.0")
      // and the hash then diverges on every row (the r9 red row).
      Stats.cusumOnline(Tables.events(s, d), "user_id", "ts", "event_id",
          floor(col("value") * 100).cast("long"),
          target = 4000L, slack = 500L, threshold = 20000L)
        .withColumn("ts", date_trunc("second", col("ts")))
        .orderBy("user_id", "ts", "event_id")
    },

    // Simplified silhouette (Clustering.silhouetteSimplified): cluster
    // quality against the q151 centroid convention — exact integer
    // squared distances on the FLOOR-quantized grid, correctly-rounded
    // sqrts, per-cluster id-ordered mean fold. Map-only per point.
    dfQ("q245_silhouette",
      """WITH e AS (SELECT vec_id id,
        |    LIST_TRANSFORM(embedding::DOUBLE[],
        |                   x -> CAST(FLOOR(x*1000) AS BIGINT)) v
        |  FROM embeddings),
        |c AS (SELECT CAST(id AS INTEGER) cell, v cv FROM e WHERE id < 8),
        |d AS (SELECT e.id, c.cell,
        |    LIST_DOT_PRODUCT(e.v, e.v) + LIST_DOT_PRODUCT(c.cv, c.cv)
        |      - 2 * LIST_DOT_PRODUCT(e.v, c.cv) d2
        |  FROM e CROSS JOIN c),
        |a AS (SELECT id, cell, d2,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cell) rn
        |  FROM d),
        |own AS (SELECT id, cell, d2 a2 FROM a WHERE rn = 1),
        |bb AS (SELECT d.id, MIN(d2) b2 FROM d JOIN own
        |    ON d.id = own.id AND d.cell <> own.cell GROUP BY d.id),
        |sil AS (SELECT own.id, own.cell,
        |    CASE WHEN GREATEST(a2, b2) = 0 THEN 0.0
        |      ELSE (SQRT(CAST(b2 AS DOUBLE)) - SQRT(CAST(a2 AS DOUBLE)))
        |        / SQRT(CAST(GREATEST(a2, b2) AS DOUBLE)) END s
        |  FROM own JOIN bb ON own.id = bb.id)
        |SELECT cell, CAST(COUNT(*) AS BIGINT) n,
        |  LIST_REDUCE(LIST(s ORDER BY id), (x, y) -> x + y) / COUNT(*)
        |    mean_silhouette
        |FROM sil GROUP BY cell ORDER BY cell""".stripMargin) { (s, d) =>
      val emb = Tables.table(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000)).as("vq"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("vq").as("centroid"))
      graft.ops.Clustering.silhouetteSimplified(emb, "vec_id", "vq", cents)
        .orderBy("cell")
    },

    // Neyman optimal allocation (Stats.neymanAllocation): split a
    // 10k-row sampling budget across return-flag strata by N_h·S_h —
    // exact integer moments, one sqrt per stratum, ordered denominator
    // fold.
    dfQ("q246_neyman",
      """WITH t AS (SELECT l_returnflag s,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) x FROM lineitem),
        |c AS (SELECT s, CAST(COUNT(*) AS BIGINT) nh,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(x AS HUGEINT) * x) sxx
        |  FROM t GROUP BY 1),
        |w AS (SELECT s, nh,
        |    CASE WHEN nh <= 1 THEN 0.0
        |      ELSE SQRT(CAST(nh * sxx - sx * sx AS DOUBLE)
        |        / CAST(nh * CAST(nh - 1 AS HUGEINT) AS DOUBLE)) END sd
        |  FROM c),
        |tt AS (SELECT LIST_REDUCE(LIST(CAST(nh AS DOUBLE) * sd ORDER BY s),
        |    (a, b) -> a + b) tw FROM w)
        |SELECT s l_returnflag, nh n, sd,
        |  CASE WHEN tw <= 0 THEN NULL
        |    ELSE 10000.0 * (CAST(nh AS DOUBLE) * sd) / tw END allocation
        |FROM w CROSS JOIN tt ORDER BY 1""".stripMargin) { (s, d) =>
      Stats.neymanAllocation(Tables.table(s, d, "lineitem"),
          "l_returnflag", floor(col("l_extendedprice") * 100).cast("long"),
          budget = 10000L)
        .orderBy("l_returnflag")
    },

    // Kish effective sample size (Stats.effectiveSampleSize) of the
    // per-user activity weights — "how many effective users given the
    // skew". Integral weights → exact sums, ONE division.
    dfQ("q247_ess",
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) w
        |  FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CAST(w AS HUGEINT)) AS DOUBLE) sum_w,
        |  CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE) sum_w2,
        |  CAST(SUM(CAST(w AS HUGEINT)) * SUM(CAST(w AS HUGEINT))
        |      AS DOUBLE)
        |    / CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE) ess
        |FROM u""".stripMargin) { (s, d) =>
      val perUser = Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("w"))
      Stats.effectiveSampleSize(perUser, col("w"))
    },

    // Decision stump (Stats.bestSplit): the information-gain-optimal
    // threshold of quantity against the returned flag — distinct-value
    // prefix counts, lnq-quantized entropies, lowest-t tie-break.
    dfQ("q248_best_split",
      """WITH d AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) x,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END y
        |  FROM lineitem),
        |g AS (SELECT x, CAST(COUNT(*) AS BIGINT) c,
        |    CAST(SUM(y) AS BIGINT) p FROM d GROUP BY x),
        |cum AS (SELECT x,
        |    SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) nl,
        |    SUM(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) pl,
        |    SUM(c) OVER () n, SUM(p) OVER () np
        |  FROM g),
        |f AS (SELECT x, nl, pl, n, np, n - nl nr, np - pl pr
        |  FROM cum WHERE nl < n),
        |gg AS (SELECT x, nl, pl, nr, pr,
        |    (CASE WHEN np > 0 THEN -(CAST(np AS DOUBLE) / n) *
        |       (FLOOR(LN(CAST(np AS DOUBLE) / n) * 67108864.0) / 67108864.0)
        |       ELSE 0.0 END
        |     + CASE WHEN n - np > 0 THEN -(CAST(n - np AS DOUBLE) / n) *
        |       (FLOOR(LN(CAST(n - np AS DOUBLE) / n) * 67108864.0)
        |         / 67108864.0) ELSE 0.0 END)
        |    - (CAST(nl AS DOUBLE) / n) *
        |      (CASE WHEN pl > 0 THEN -(CAST(pl AS DOUBLE) / nl) *
        |        (FLOOR(LN(CAST(pl AS DOUBLE) / nl) * 67108864.0)
        |          / 67108864.0) ELSE 0.0 END
        |       + CASE WHEN nl - pl > 0 THEN
        |         -(CAST(nl - pl AS DOUBLE) / nl) *
        |         (FLOOR(LN(CAST(nl - pl AS DOUBLE) / nl) * 67108864.0)
        |           / 67108864.0) ELSE 0.0 END)
        |    - (CAST(nr AS DOUBLE) / n) *
        |      (CASE WHEN pr > 0 THEN -(CAST(pr AS DOUBLE) / nr) *
        |        (FLOOR(LN(CAST(pr AS DOUBLE) / nr) * 67108864.0)
        |          / 67108864.0) ELSE 0.0 END
        |       + CASE WHEN nr - pr > 0 THEN
        |         -(CAST(nr - pr AS DOUBLE) / nr) *
        |         (FLOOR(LN(CAST(nr - pr AS DOUBLE) / nr) * 67108864.0)
        |           / 67108864.0) ELSE 0.0 END) gain
        |  FROM f)
        |SELECT x threshold, ROUND(gain, 6) + 0.0 gain,
        |  CAST(nl AS BIGINT) n_left, CAST(pl AS BIGINT) pos_left,
        |  CAST(nr AS BIGINT) n_right, CAST(pr AS BIGINT) pos_right
        |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, x) rk
        |      FROM gg)
        |WHERE rk = 1""".stripMargin) { (s, d) =>
      // ROUND(gain,6)+0.0 on both engines (serialization only; the argmax
      // threshold is taken on the unrounded gain) so a 1-ulp cross-engine
      // wiggle in the entropy sum can never flip the hashed text.
      Stats.bestSplit(Tables.table(s, d, "lineitem"),
          floor(col("l_quantity")).cast("long"), col("l_returnflag") === "R")
        .withColumn("gain", round(col("gain"), 6) + 0.0)
    },

    // Vocabulary coverage curve (TextAnalysis.vocabCoverage): token
    // mass covered by the top-k types at k = 100 / 1000 / 10000 —
    // type-table windows, exact integer prefix sums.
    dfQ("q249_vocab_coverage",
      """WITH f AS (SELECT tok token, CAST(COUNT(*) AS BIGINT) f
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY 1),
        |r AS (SELECT token, f,
        |    CAST(ROW_NUMBER() OVER (ORDER BY f DESC, token) AS BIGINT) r,
        |    SUM(f) OVER (ORDER BY f DESC, token ROWS UNBOUNDED PRECEDING)
        |      cum,
        |    SUM(f) OVER () total, COUNT(*) OVER () n_types
        |  FROM f),
        |k AS (SELECT UNNEST([100, 1000, 10000]) k)
        |SELECT CAST(k.k AS BIGINT) k, CAST(n_types AS BIGINT) n_types,
        |  r types_used, CAST(cum AS BIGINT) covered_tokens,
        |  CAST(total AS BIGINT) total_tokens,
        |  CAST(cum AS DOUBLE) / total coverage
        |FROM r JOIN k ON r.r = LEAST(CAST(k.k AS BIGINT), r.n_types)
        |ORDER BY k""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.vocabCoverage(
          Tables.table(s, d, "documents"), "text",
          ks = Seq(100L, 1000L, 10000L))
        .orderBy("k")
    },

    // Stratified k-fold assignment (Sampling.stratifiedFolds): exact
    // per-stratum balance via rank-mod-k over the (md5, id) order —
    // hash-mod folds are balanced only in expectation.
    dfQ("q250_stratified_folds",
      """SELECT doc_id, source,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5
        |    AS BIGINT) fold
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.stratifiedFolds(Tables.table(s, d, "documents"),
          "source", "doc_id", k = 5)
        .select(col("doc_id"), col("source"), col("fold"))
        .orderBy("doc_id")
    },

    // Half-life-bucketed decayed sum (Stats.decayedSum): recency-
    // weighted revenue per event type with dyadic 2^-k weights — the
    // whole accumulation is exact integer bit-shift arithmetic,
    // descaled once by 2^40.
    dfQ("q251_decayed_sum",
      """WITH ce AS (SELECT MAX(EPOCH_US(ts)) e FROM events),
        |t AS (SELECT event_type g, CAST(FLOOR(value * 100) AS BIGINT) x,
        |    LEAST(((e - EPOCH_US(ts)) // 86400000000) // 7, 40) k
        |  FROM events CROSS JOIN ce)
        |SELECT g event_type, CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CAST(x AS HUGEINT) *
        |      (CAST(1 AS BIGINT) << CAST(40 - k AS INT))) AS DOUBLE)
        |    / 1099511627776.0 decayed_sum
        |FROM t GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
      Stats.decayedSum(Tables.events(s, d),
          "event_type", "ts", floor(col("value") * 100).cast("long"),
          halfLifeDays = 7L)
        .orderBy("event_type")
    },

    // Per-group mode (Stats.modeByGroup): dominant quantity per return
    // flag; count-desc rank with lexicographic value tie-break on the
    // stringified value (the op's genericity contract) on BOTH sides.
    dfQ("q252_mode",
      """WITH c AS (SELECT l_returnflag g,
        |    CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR) x,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT g, x, c,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, x) rk
        |  FROM c)
        |SELECT g l_returnflag, x AS "mode", c mode_count
        |FROM r WHERE rk = 1 ORDER BY g""".stripMargin) { (s, d) =>
      Stats.modeByGroup(Tables.table(s, d, "lineitem"), "l_returnflag",
          floor(col("l_quantity")).cast("long"))
        .orderBy("l_returnflag")
    },

    // Position-based multi-touch attribution (Funnel.positionCredits):
    // 40/20/40 credits over the 7-day pre-purchase window — row-level
    // credits, exact literals or one division.
    dfQ("q253_attribution_credits",
      """WITH conv AS (SELECT user_id u, event_id conversion_id,
        |    EPOCH_US(ts) cts FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id u, event_id touch_id,
        |    event_type touch_type, EPOCH_US(ts) tts
        |  FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT conversion_id, touch_id, touch_type, tts
        |  FROM conv JOIN tch ON conv.u = tch.u
        |    AND tts < cts AND tts >= cts - 604800000000),
        |p AS (SELECT conversion_id, touch_id, touch_type,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY conversion_id
        |      ORDER BY tts, touch_id) AS BIGINT) AS "position",
        |    CAST(COUNT(*) OVER (PARTITION BY conversion_id) AS BIGINT)
        |      n_touches
        |  FROM j)
        |SELECT conversion_id, touch_id, touch_type, "position", n_touches,
        |  CASE WHEN n_touches = 1 THEN 1.0
        |    WHEN n_touches = 2 THEN 0.5
        |    WHEN "position" = 1 OR "position" = n_touches THEN 0.4
        |    ELSE 0.2 / (n_touches - 2) END credit
        |FROM p ORDER BY conversion_id, "position"""".stripMargin) { (s, d) =>
      graft.ops.Funnel.positionCredits(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id", convType = "purchase",
          lookbackUs = 604800000000L)
        .orderBy("conversion_id", "position")
    },

    // Power-law tail fit (Stats.powerLawFit): MLE exponent of the
    // token-frequency tail (f >= 5) — the Zipf-slope companion (q184
    // fits rank-frequency by OLS; this is the CSN tail MLE). lnq fold
    // over the distinct-frequency table.
    dfQ("q254_power_law",
      """WITH f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) f
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY 1),
        |v AS (SELECT f x, CAST(COUNT(*) AS BIGINT) c FROM f
        |  WHERE f >= 5 GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) n,
        |    LIST_REDUCE(LIST(CAST(c AS DOUBLE) *
        |      (FLOOR(LN(CAST(x AS DOUBLE) / 5.0) * 67108864.0)
        |        / 67108864.0) ORDER BY x), (a, b) -> a + b) ls
        |  FROM v)
        |SELECT n, CAST(5 AS BIGINT) xmin,
        |  CASE WHEN ls <= 0 THEN NULL
        |    ELSE 1.0 + CAST(n AS DOUBLE) / ls END alpha
        |FROM t""".stripMargin) { (s, d) =>
      val freqs = Tables.table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("f"))
      Stats.powerLawFit(freqs, col("f"), xmin = 5L)
    },

    // Per-key OLS trend (Stats.trendByKey): every user's spend slope
    // over whole-day time from ONE grouped agg of HUGEINT-exact
    // moments — a million tiny regressions, no windows.
    dfQ("q255_trend_by_key",
      """WITH t AS (SELECT user_id,
        |    EPOCH_US(ts) // 86400000000 t,
        |    CAST(FLOOR(value * 100) AS BIGINT) x FROM events),
        |c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) n,
        |    SUM(CAST(t AS HUGEINT)) st, SUM(CAST(x AS HUGEINT)) sx,
        |    SUM(CAST(t AS HUGEINT) * t) stt,
        |    SUM(CAST(t AS HUGEINT) * x) stx
        |  FROM t GROUP BY 1)
        |SELECT user_id, n,
        |  CASE WHEN n < 2 OR n * stt - st * st = 0 THEN NULL
        |    ELSE CAST(n * stx - st * sx AS DOUBLE)
        |      / CAST(n * stt - st * st AS DOUBLE) END slope
        |FROM c ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.trendByKey(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 100).cast("long"))
        .orderBy("user_id")
    },

    // Cohort LTV curve (Funnel.cohortLtv): cumulative value per user
    // by signup epoch-week — integer window over the cohort×offset
    // summary, ONE division for the per-user readout.
    dfQ("q256_cohort_ltv",
      """WITH t AS (SELECT user_id u, EPOCH_US(ts) // 604800000000 w,
        |    CAST(FLOOR(value * 100) AS BIGINT) v FROM events),
        |f AS (SELECT u, MIN(w) cohort_week FROM t GROUP BY u),
        |sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) users
        |  FROM f GROUP BY 1),
        |cells AS (SELECT f.cohort_week, t.w - f.cohort_week week_offset,
        |    CAST(SUM(v) AS BIGINT) revenue
        |  FROM t JOIN f ON t.u = f.u GROUP BY 1, 2),
        |cum AS (SELECT cohort_week, week_offset, revenue,
        |    CAST(SUM(revenue) OVER (PARTITION BY cohort_week
        |      ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      cum_revenue
        |  FROM cells)
        |SELECT cum.cohort_week, week_offset, users, revenue, cum_revenue,
        |  CAST(cum_revenue AS DOUBLE) / users cum_ltv_per_user
        |FROM cum JOIN sz ON cum.cohort_week = sz.cohort_week
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Funnel.cohortLtv(Tables.events(s, d), "user_id", "ts",
          floor(col("value") * 100).cast("long"))
        .orderBy("cohort_week", "week_offset")
    },

    // Keyed pseudonymization (Quality.pseudonymize): identical values
    // map to identical tokens (joins survive), reversal needs the
    // secret — pure codegen sha2 projection, byte-identical hex on
    // both engines.
    dfQ("q257_pseudonymize",
      """SELECT c_custkey,
        |  SHA256('s3cr3t:' || c_name) c_name,
        |  SHA256('s3cr3t:' || c_mktsegment) c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      graft.ops.Quality.pseudonymize(Tables.table(s, d, "customer"),
          Seq("c_name", "c_mktsegment"), secret = "s3cr3t")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },

    // Multi-source BFS hop distances (Components.bfsDistances): the
    // delta-iteration frontier expansion, hash-pinned against a
    // bounded recursive CTE (min-hops aggregation = first discovery).
    dfQ("q258_bfs_distances",
      """WITH RECURSIVE b AS (
        |  SELECT l_partkey * 2 u, l_suppkey * 2 + 1 v FROM lineitem
        |  WHERE l_orderkey < 2000),
        |ed AS (SELECT DISTINCT u, v FROM
        |  (SELECT u, v FROM b UNION ALL SELECT v, u FROM b)
        |  WHERE u <> v),
        |sd AS (SELECT DISTINCT l_partkey * 2 s FROM lineitem
        |  WHERE l_orderkey < 2000 AND l_partkey < 50),
        |bfs(node, hops) AS (
        |  SELECT s node, 0 hops FROM sd
        |  UNION
        |  SELECT ed.v, bfs.hops + 1 FROM bfs JOIN ed ON ed.u = bfs.node
        |  WHERE bfs.hops < 4)
        |SELECT CAST(node AS BIGINT) node, CAST(MIN(hops) AS BIGINT) hops
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
      val edges = li.select((col("l_partkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      val seeds = li.filter(col("l_partkey") < 50)
        .select((col("l_partkey") * 2).as("s"))
      Components.bfsDistances(edges, "a", "b", seeds, "s", maxHops = 4)
        .orderBy("node")
    },

    // Off-policy IPS / SNIPS replay evaluation (Stats.ipsOffPolicy):
    // value of a "recommend purchase above 200, else view" policy on
    // uniformly-logged traffic (ipw = 5) — exact integer sums, one
    // division per estimator.
    dfQ("q259_ips_offpolicy",
      """WITH t AS (SELECT
        |    CASE WHEN value > 200 THEN event_type = 'purchase'
        |      ELSE event_type = 'view' END m,
        |    CAST(FLOOR(value * 100) AS BIGINT) r
        |  FROM events)
        |SELECT CAST(COUNT(*) AS BIGINT) n,
        |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) n_matched,
        |  CAST(SUM(CASE WHEN m THEN CAST(r AS HUGEINT) * 5
        |    ELSE 0 END) AS DOUBLE) / COUNT(*) ips,
        |  CASE WHEN SUM(CASE WHEN m THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(SUM(CASE WHEN m THEN CAST(r AS HUGEINT) * 5
        |        ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN m THEN CAST(5 AS HUGEINT)
        |        ELSE 0 END) AS DOUBLE) END snips
        |FROM t""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val matched = when(col("value") > 200,
        col("event_type") === "purchase")
        .otherwise(col("event_type") === "view")
      Stats.ipsOffPolicy(ev, matched,
        floor(col("value") * 100).cast("long"), lit(5L))
    },

    // Fellegi–Sunter probabilistic linkage (FuzzyJoin.fellegiSunter):
    // blocked Jaro–Winkler candidates scored by per-field m/u
    // log-likelihood ratios (lnq grid), three-way match decision.
    dfQ("q260_fellegi_sunter",
      """WITH p AS (SELECT a.p_partkey a, b.p_partkey b,
        |    jaro_winkler_similarity(a.p_name, b.p_name) sim,
        |    a.p_type ta, b.p_type tb,
        |    CAST(FLOOR(a.p_retailprice * 100) AS BIGINT) pa,
        |    CAST(FLOOR(b.p_retailprice * 100) AS BIGINT) pb
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.7),
        |f AS (SELECT a, b, sim, sim >= 0.95 na, ta = tb ga,
        |    ABS(pa - pb) <= 500 pr FROM p),
        |w AS (SELECT a, b, sim, na, ga, pr,
        |    (CASE WHEN na THEN FLOOR(LN(0.9 / 0.05) * 67108864.0)
        |        / 67108864.0
        |      ELSE FLOOR(LN((1.0 - 0.9) / (1.0 - 0.05)) * 67108864.0)
        |        / 67108864.0 END)
        |    + (CASE WHEN ga THEN FLOOR(LN(0.85 / 0.2) * 67108864.0)
        |        / 67108864.0
        |      ELSE FLOOR(LN((1.0 - 0.85) / (1.0 - 0.2)) * 67108864.0)
        |        / 67108864.0 END)
        |    + (CASE WHEN pr THEN FLOOR(LN(0.7 / 0.1) * 67108864.0)
        |        / 67108864.0
        |      ELSE FLOOR(LN((1.0 - 0.7) / (1.0 - 0.1)) * 67108864.0)
        |        / 67108864.0 END) match_weight
        |  FROM f)
        |SELECT a, b, match_weight,
        |  CASE WHEN match_weight >= 2.0 THEN 'match'
        |    WHEN match_weight <= 0.0 THEN 'non_match'
        |    ELSE 'review' END decision
        |FROM w ORDER BY a, b""".stripMargin) { (s, d) =>
      val part = Tables.table(s, d, "part")
      val pairs = graft.ops.FuzzyJoin.jaroWinklerPairs(part, "p_partkey",
        "p_name", Seq("p_brand", "p_size"), minSim = 0.7)
      val attrs = part.select(col("p_partkey"), col("p_type"),
        floor(col("p_retailprice") * 100).cast("long").as("pc"))
      val enriched = pairs
        .join(attrs.select(col("p_partkey").as("a"),
          col("p_type").as("ta"), col("pc").as("pa")), "a")
        .join(attrs.select(col("p_partkey").as("b"),
          col("p_type").as("tb"), col("pc").as("pb")), "b")
        .withColumn("na", col("sim") >= 0.95)
        .withColumn("ga", col("ta") === col("tb"))
        .withColumn("pr", abs(col("pa") - col("pb")) <= 500)
      graft.ops.FuzzyJoin.fellegiSunter(enriched,
          Seq(("na", 0.9, 0.05), ("ga", 0.85, 0.2), ("pr", 0.7, 0.1)),
          lower = 0.0, upper = 2.0)
        .select(col("a"), col("b"), col("match_weight"), col("decision"))
        .orderBy("a", "b")
    },

    // Iterative proportional fitting (Sampling.ipfWeights): rake the
    // (returnflag × shipyear) cell table to uniform margins on both
    // axes — two unrolled sweeps, margin folds in category order,
    // one division per factor.
    dfQ("q261_ipf",
      """WITH cells AS (SELECT l_returnflag r,
        |    CAST(YEAR(l_shipdate) AS VARCHAR) c,
        |    CAST(COUNT(*) AS BIGINT) n
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS DOUBLE) nn,
        |    CAST(COUNT(DISTINCT r) AS DOUBLE) rr,
        |    CAST(COUNT(DISTINCT c) AS DOUBLE) cc FROM cells),
        |w0 AS (SELECT r, c, n, 1.0 w FROM cells),
        |m1 AS (SELECT r, LIST_REDUCE(LIST(w * n ORDER BY c),
        |    (x, y) -> x + y) s FROM w0 GROUP BY r),
        |w1 AS (SELECT w0.r, w0.c, w0.n, w0.w * ((nn / rr) / m1.s) w
        |  FROM w0 JOIN m1 ON w0.r = m1.r CROSS JOIN t),
        |m2 AS (SELECT c, LIST_REDUCE(LIST(w * n ORDER BY r),
        |    (x, y) -> x + y) s FROM w1 GROUP BY c),
        |w2 AS (SELECT w1.r, w1.c, w1.n, w1.w * ((nn / cc) / m2.s) w
        |  FROM w1 JOIN m2 ON w1.c = m2.c CROSS JOIN t),
        |m3 AS (SELECT r, LIST_REDUCE(LIST(w * n ORDER BY c),
        |    (x, y) -> x + y) s FROM w2 GROUP BY r),
        |w3 AS (SELECT w2.r, w2.c, w2.n, w2.w * ((nn / rr) / m3.s) w
        |  FROM w2 JOIN m3 ON w2.r = m3.r CROSS JOIN t),
        |m4 AS (SELECT c, LIST_REDUCE(LIST(w * n ORDER BY r),
        |    (x, y) -> x + y) s FROM w3 GROUP BY c),
        |w4 AS (SELECT w3.r, w3.c, w3.n, w3.w * ((nn / cc) / m4.s) w
        |  FROM w3 JOIN m4 ON w3.c = m4.c CROSS JOIN t)
        |SELECT r l_returnflag, c shipyear, n, w weight
        |FROM w4 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Sampling.ipfWeights(Tables.table(s, d, "lineitem")
            .withColumn("shipyear",
              year(col("l_shipdate")).cast("string")),
          "l_returnflag", "shipyear", iters = 2)
        .orderBy("l_returnflag", "shipyear")
    },

    // Empirical-Bayes rate shrinkage (Stats.ebShrinkRates): per-user
    // purchase rates pulled toward the beta-binomial moment prior —
    // key-ordered moment folds, fixed-tree prior, one division per
    // shrunk rate.
    dfQ("q262_eb_shrinkage",
      """WITH k AS (SELECT user_id,
        |    CAST(COUNT(*) AS BIGINT) n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) x
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id, n, x, CAST(x AS DOUBLE) / n rate FROM k),
        |m1 AS (SELECT CAST(COUNT(*) AS DOUBLE) kn,
        |    LIST_REDUCE(LIST(rate ORDER BY user_id), (a, b) -> a + b) sp
        |  FROM r),
        |m1b AS (SELECT kn, sp / kn m FROM m1),
        |m2 AS (SELECT m, CASE WHEN kn <= 1 THEN NULL
        |    ELSE LIST_REDUCE(LIST((rate - m) * (rate - m)
        |        ORDER BY user_id), (a, b) -> a + b) / (kn - 1) END v
        |  FROM r CROSS JOIN m1b GROUP BY kn, m),
        |pr AS (SELECT
        |    m * ab alpha, (1.0 - m) * ab beta
        |  FROM (SELECT m, v, CASE WHEN v IS NULL OR v <= 0
        |      OR v >= m * (1.0 - m) THEN NULL
        |    ELSE m * (1.0 - m) / v - 1.0 END ab FROM m2))
        |SELECT user_id, n, x, rate, alpha, beta,
        |  CASE WHEN alpha IS NULL THEN rate
        |    ELSE (x + alpha) / (n + alpha + beta) END shrunk_rate
        |FROM r CROSS JOIN pr ORDER BY user_id""".stripMargin) { (s, d) =>
      Stats.ebShrinkRates(Tables.events(s, d), "user_id",
          col("event_type") === "purchase")
        .orderBy("user_id")
    },

    // Rolling-origin backtest folds (Sampling.rollingOriginFolds):
    // 3 expanding-window train/test splits, 2-day horizon, 1-day step
    // — integral day arithmetic, bounded k× expansion.
    dfQ("q263_rolling_origin",
      """WITH ce AS (SELECT MAX(EPOCH_US(ts)) // 86400000000 ed
        |  FROM events),
        |f AS (SELECT UNNEST([0, 1, 2]) fold),
        |x AS (SELECT e.event_id, CAST(f.fold AS BIGINT) fold,
        |    EPOCH_US(e.ts) // 86400000000 d,
        |    ce.ed - 2 - f.fold * 1 cut
        |  FROM events e CROSS JOIN ce CROSS JOIN f)
        |SELECT event_id, fold,
        |  CASE WHEN d <= cut THEN 'train' ELSE 'test' END AS "role"
        |FROM x WHERE d <= cut + 2
        |ORDER BY event_id, fold""".stripMargin) { (s, d) =>
      Sampling.rollingOriginFolds(Tables.events(s, d), "ts", folds = 3,
          horizonDays = 2L, stepDays = 1L)
        .select(col("event_id"), col("fold"), col("role"))
        .orderBy("event_id", "fold")
    },

    // Classical additive decomposition (Resample.classicalDecompose):
    // daily revenue into trend (7-day centered MA) + day-of-period
    // seasonal (centered) + remainder — day-table windows, exact
    // integer MA sums, bounded seasonal folds.
    dfQ("q264_decompose",
      """WITH daily AS (SELECT EPOCH_US(ts) // 86400000000 AS "day",
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) y
        |  FROM events GROUP BY 1),
        |tr AS (SELECT "day", y,
        |    CASE WHEN COUNT(*) OVER w = 7
        |      THEN CAST(SUM(y) OVER w AS DOUBLE) / 7 END trend,
        |    "day" % 7 dop
        |  FROM daily
        |  WINDOW w AS (ORDER BY "day" RANGE BETWEEN 3 PRECEDING
        |    AND 3 FOLLOWING)),
        |det AS (SELECT "day", y, trend, dop, y - trend det FROM tr),
        |idx AS (SELECT dop, LIST_REDUCE(LIST(det ORDER BY "day"),
        |    (a, b) -> a + b) / COUNT(*) si
        |  FROM det WHERE trend IS NOT NULL GROUP BY dop),
        |ctr AS (SELECT LIST_REDUCE(LIST(si ORDER BY dop),
        |    (a, b) -> a + b) / COUNT(*) c FROM idx),
        |sea AS (SELECT dop, si - c seasonal FROM idx CROSS JOIN ctr)
        |SELECT t."day", t.dop, t.y, t.trend, sea.seasonal,
        |  t.y - t.trend - sea.seasonal remainder
        |FROM det t LEFT JOIN sea ON t.dop = sea.dop
        |ORDER BY t."day"""".stripMargin) { (s, d) =>
      graft.ops.Resample.classicalDecompose(Tables.events(s, d), "ts",
          floor(col("value") * 100).cast("long"), period = 7)
        .orderBy("day")
    },

    // Multinomial goodness-of-fit (Stats.multinomialGof): does the
    // documents' language mix match a supplied recipe — the
    // mixture-compliance gate after sampling/raking. Category-ordered
    // fold; absent categories still contribute N·p.
    dfQ("q265_multinomial_gof",
      """WITH t AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.2),
        |    ('fr', 0.15), ('es', 0.1), ('zh', 0.05)) v(cat, p)),
        |o AS (SELECT lang cat, CAST(COUNT(*) AS BIGINT) n
        |  FROM documents GROUP BY 1),
        |j AS (SELECT t.cat, t.p, COALESCE(o.n, 0) n
        |  FROM t LEFT JOIN o ON t.cat = o.cat),
        |tt AS (SELECT CAST(SUM(n) AS DOUBLE) nn FROM j),
        |w AS (SELECT cat, n, nn * p e FROM j CROSS JOIN tt)
        |SELECT CAST(COUNT(*) AS BIGINT) k, CAST(SUM(n) AS BIGINT) n,
        |  LIST_REDUCE(LIST((n - e) * (n - e) / e ORDER BY cat),
        |    (a, b) -> a + b) chi2
        |FROM w""".stripMargin) { (s, d) =>
      Stats.multinomialGof(Tables.table(s, d, "documents"), "lang",
        Seq(("en", 0.5), ("de", 0.2), ("fr", 0.15), ("es", 0.1),
          ("zh", 0.05)))
    },

    // Herfindahl concentration (Stats.herfindahl): source
    // concentration of the document corpus — integral numerator over
    // N², one division, plus the effective-category count.
    dfQ("q266_herfindahl",
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) n
        |  FROM documents GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) k, CAST(SUM(n) AS BIGINT) n,
        |  CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
        |    / CAST(CAST(SUM(n) AS HUGEINT) * SUM(n) AS DOUBLE) hhi,
        |  1.0 / (CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
        |    / CAST(CAST(SUM(n) AS HUGEINT) * SUM(n) AS DOUBLE))
        |    effective_categories
        |FROM c""".stripMargin) { (s, d) =>
      Stats.herfindahl(Tables.table(s, d, "documents"), "source")
    },

    // Token burstiness (TextAnalysis.tokenBurstiness): Fano factor of
    // the top-50 tokens' per-document counts — zero-count documents
    // enter the moments through N without materialization; exact
    // integer moments, two divisions.
    dfQ("q267_burstiness",
      """WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) N FROM documents),
        |pd AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) x
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2),
        |bt AS (SELECT tok token, CAST(COUNT(*) AS BIGINT) n_docs,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(x AS HUGEINT) * x) sxx
        |  FROM pd GROUP BY 1),
        |top AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY sx DESC,
        |    token) AS BIGINT) rank FROM bt QUALIFY rank <= 50)
        |SELECT token, rank, n_docs, CAST(sx AS BIGINT) total_count,
        |  CAST(sx AS DOUBLE) / N mean,
        |  CAST(N * sxx - sx * sx AS DOUBLE)
        |    / CAST(N * CAST(N - 1 AS HUGEINT) AS DOUBLE) variance,
        |  (CAST(N * sxx - sx * sx AS DOUBLE)
        |    / CAST(N * CAST(N - 1 AS HUGEINT) AS DOUBLE))
        |    / (CAST(sx AS DOUBLE) / N) fano
        |FROM top CROSS JOIN nd ORDER BY rank""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.tokenBurstiness(
          Tables.table(s, d, "documents"), "doc_id", "text", topK = 50)
        .orderBy("rank")
    },

    // Standardized Pearson residuals (Stats.pearsonResiduals): the
    // per-cell drill-down under q175's chi-squared — which
    // (returnflag × shipyear) cells drive the dependence.
    dfQ("q268_pearson_residuals",
      """WITH cells AS (SELECT l_returnflag a,
        |    CAST(YEAR(l_shipdate) AS VARCHAR) b,
        |    CAST(COUNT(*) AS BIGINT) o
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT a, b, o,
        |    SUM(o) OVER (PARTITION BY a) r,
        |    SUM(o) OVER (PARTITION BY b) c,
        |    SUM(o) OVER () n
        |  FROM cells)
        |SELECT a, b, o,
        |  CAST(r * c AS DOUBLE) / n expected,
        |  (o - CAST(r * c AS DOUBLE) / n)
        |    / SQRT((CAST(r * c AS DOUBLE) / n)
        |      * (1.0 - CAST(r AS DOUBLE) / n)
        |      * (1.0 - CAST(c AS DOUBLE) / n)) residual
        |FROM m ORDER BY a, b""".stripMargin) { (s, d) =>
      Stats.pearsonResiduals(Tables.table(s, d, "lineitem")
            .withColumn("shipyear_str",
              year(col("l_shipdate")).cast("string")),
          "l_returnflag", "shipyear_str")
        .orderBy("a", "b")
    },

    // Fightin' words (TextAnalysis.fightinWords): informative-
    // Dirichlet log-odds of src0 vs src1 token usage — the corpus-
    // diff statistic that shrinks rare-token noise; lnq logits, one
    // sqrt, vocabulary-bounded.
    dfQ("q269_fightin_words",
      """WITH ta AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |  FROM documents WHERE source = 'src0'),
        |tb AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |  FROM documents WHERE source = 'src1'),
        |u AS (SELECT tok token, 'a' side FROM ta WHERE tok <> ''
        |  UNION ALL SELECT tok, 'b' FROM tb WHERE tok <> ''),
        |c AS (SELECT token,
        |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      ya,
        |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      yb
        |  FROM u GROUP BY 1),
        |t AS (SELECT token, ya, yb,
        |    SUM(ya) OVER () na, SUM(yb) OVER () nb,
        |    500.0 * (CAST(ya + yb AS DOUBLE) / (SUM(ya) OVER ()
        |      + SUM(yb) OVER ())) aw
        |  FROM c),
        |w AS (SELECT token, ya, yb,
        |    (FLOOR(LN((ya + aw) / (na + 500.0 - ya - aw)) * 67108864.0)
        |      / 67108864.0)
        |    - (FLOOR(LN((yb + aw) / (nb + 500.0 - yb - aw)) * 67108864.0)
        |      / 67108864.0) delta,
        |    SQRT(1.0 / (ya + aw) + 1.0 / (yb + aw)) sg
        |  FROM t)
        |SELECT token, ya n_a, yb n_b, delta, delta / sg z
        |FROM w ORDER BY token""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      graft.ops.TextAnalysis.fightinWords(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), "text", alpha0 = 500.0)
        .orderBy("token")
    },

    // 2×2 odds ratio + Woolf CI (Stats.oddsRatio): the effect size
    // beside the test family — lnq/expq-quantized bounds,
    // Haldane–Anscombe zero-cell correction.
    dfQ("q270_odds_ratio",
      """WITH agg AS (SELECT
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_discount > 0.05
        |    THEN 1 ELSE 0 END) AS BIGINT) a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' AND NOT l_discount > 0.05
        |    THEN 1 ELSE 0 END) AS BIGINT) b,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_discount > 0.05
        |    THEN 1 ELSE 0 END) AS BIGINT) c,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'R' AND NOT l_discount > 0.05
        |    THEN 1 ELSE 0 END) AS BIGINT) d
        |  FROM lineitem),
        |e AS (SELECT a, b, c, d,
        |    a = 0 OR b = 0 OR c = 0 OR d = 0 corrected,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN CAST(a AS DOUBLE) + 0.5 ELSE CAST(a AS DOUBLE) END ca,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN CAST(b AS DOUBLE) + 0.5 ELSE CAST(b AS DOUBLE) END cb,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN CAST(c AS DOUBLE) + 0.5 ELSE CAST(c AS DOUBLE) END cc,
        |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
        |      THEN CAST(d AS DOUBLE) + 0.5 ELSE CAST(d AS DOUBLE) END cd
        |  FROM agg),
        |f AS (SELECT a, b, c, d, corrected,
        |    (ca * cd) / (cb * cc) odds_ratio,
        |    FLOOR(LN((ca * cd) / (cb * cc)) * 67108864.0) / 67108864.0
        |      ln_or,
        |    SQRT(1.0 / ca + 1.0 / cb + 1.0 / cc + 1.0 / cd) se
        |  FROM e)
        |SELECT a, b, c, d, corrected, odds_ratio, ln_or,
        |  FLOOR(EXP(ln_or - 1.96 * se) * 67108864.0) / 67108864.0 ci_lo,
        |  FLOOR(EXP(ln_or + 1.96 * se) * 67108864.0) / 67108864.0 ci_hi
        |FROM f""".stripMargin) { (s, d) =>
      Stats.oddsRatio(Tables.table(s, d, "lineitem"),
        col("l_returnflag") === "R", col("l_discount") > 0.05)
    },

    // Pearson r + t-test (Stats.corrTest): quantity vs price cents —
    // the significance beside q156's matrix of r's. HUGEINT moments,
    // one division for r, one fixed tree for t.
    dfQ("q271_corr_test",
      """WITH t AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) x,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(y AS HUGEINT)) sy,
        |    SUM(CAST(x AS HUGEINT) * x) sxx,
        |    SUM(CAST(y AS HUGEINT) * y) syy,
        |    SUM(CAST(x AS HUGEINT) * y) sxy
        |  FROM t),
        |r AS (SELECT CAST(n AS BIGINT) n,
        |    CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |      THEN NULL
        |      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |        / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |          * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) END r
        |  FROM m)
        |SELECT n, r,
        |  CASE WHEN r IS NULL OR n < 3 OR r * r >= 1.0 THEN NULL
        |    ELSE r * SQRT(CAST(n - 2 AS DOUBLE) / (1.0 - r * r)) END t
        |FROM r""".stripMargin) { (s, d) =>
      Stats.corrTest(Tables.table(s, d, "lineitem"),
        floor(col("l_quantity")).cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // Partial correlation (Stats.partialCorr): discount vs price with
    // quantity held fixed — the confounder check on a raw r. Nine
    // HUGEINT moments, three pairwise r's, one fixed tree.
    dfQ("q272_partial_corr",
      """WITH t AS (SELECT
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) x,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) y,
        |    CAST(FLOOR(l_quantity) AS BIGINT) z FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(y AS HUGEINT)) sy,
        |    SUM(CAST(z AS HUGEINT)) sz,
        |    SUM(CAST(x AS HUGEINT) * x) sxx,
        |    SUM(CAST(y AS HUGEINT) * y) syy,
        |    SUM(CAST(z AS HUGEINT) * z) szz,
        |    SUM(CAST(x AS HUGEINT) * y) sxy,
        |    SUM(CAST(x AS HUGEINT) * z) sxz,
        |    SUM(CAST(y AS HUGEINT) * z) syz
        |  FROM t),
        |r AS (SELECT CAST(n AS BIGINT) n,
        |    CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |        OR n * szz - sz * sz = 0 THEN NULL
        |      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |        / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |          * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) END r_xy,
        |    CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |        OR n * szz - sz * sz = 0 THEN NULL
        |      ELSE CAST(n * sxz - sx * sz AS DOUBLE)
        |        / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |          * SQRT(CAST(n * szz - sz * sz AS DOUBLE))) END r_xz,
        |    CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |        OR n * szz - sz * sz = 0 THEN NULL
        |      ELSE CAST(n * syz - sy * sz AS DOUBLE)
        |        / (SQRT(CAST(n * syy - sy * sy AS DOUBLE))
        |          * SQRT(CAST(n * szz - sz * sz AS DOUBLE))) END r_yz
        |  FROM m)
        |SELECT n, r_xy, r_xz, r_yz,
        |  CASE WHEN r_xy IS NULL OR r_xz * r_xz >= 1.0
        |      OR r_yz * r_yz >= 1.0 THEN NULL
        |    ELSE (r_xy - r_xz * r_yz)
        |      / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
        |  END r_xy_given_z
        |FROM r""".stripMargin) { (s, d) =>
      Stats.partialCorr(Tables.table(s, d, "lineitem"),
        floor(col("l_discount") * 100).cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"),
        floor(col("l_quantity")).cast("long"))
    },

    // Cronbach's alpha (Stats.cronbachAlpha): internal consistency of
    // three item scores — exact moments, literal-order item-variance
    // chain, one fixed tree.
    dfQ("q273_cronbach",
      """WITH t AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) i0,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) i1,
        |    CAST(FLOOR(l_tax * 100) AS BIGINT) i2
        |  FROM lineitem),
        |u AS (SELECT i0, i1, i2, i0 + i1 + i2 tt FROM t),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(tt AS HUGEINT)) st, SUM(CAST(tt AS HUGEINT) * tt)
        |      stt,
        |    SUM(CAST(i0 AS HUGEINT)) s0, SUM(CAST(i0 AS HUGEINT) * i0)
        |      ss0,
        |    SUM(CAST(i1 AS HUGEINT)) s1, SUM(CAST(i1 AS HUGEINT) * i1)
        |      ss1,
        |    SUM(CAST(i2 AS HUGEINT)) s2, SUM(CAST(i2 AS HUGEINT) * i2)
        |      ss2
        |  FROM u)
        |SELECT CAST(n AS BIGINT) n, CAST(3 AS BIGINT) k,
        |  CASE WHEN CAST(n * stt - st * st AS DOUBLE) = 0.0 THEN NULL
        |    ELSE 1.5 * (1.0 -
        |      (CAST(n * ss0 - s0 * s0 AS DOUBLE)
        |        + CAST(n * ss1 - s1 * s1 AS DOUBLE)
        |        + CAST(n * ss2 - s2 * s2 AS DOUBLE))
        |      / CAST(n * stt - st * st AS DOUBLE)) END alpha
        |FROM m""".stripMargin) { (s, d) =>
      Stats.cronbachAlpha(Tables.table(s, d, "lineitem"),
        Seq(floor(col("l_quantity")).cast("long"),
          floor(col("l_discount") * 100).cast("long"),
          floor(col("l_tax") * 100).cast("long")))
    },

    // Cohen's d + Hedges' g (Stats.cohensD): effect size of the
    // returned-flag split on price — the magnitude beside q166's
    // Welch significance.
    dfQ("q274_cohens_d",
      """WITH t AS (SELECT l_returnflag = 'R' a,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) x FROM lineitem),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS HUGEINT) n1,
        |    SUM(CASE WHEN a THEN CAST(x AS HUGEINT) ELSE 0 END) s1,
        |    SUM(CASE WHEN a THEN CAST(x AS HUGEINT) * x ELSE 0 END) ss1,
        |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS HUGEINT) n2,
        |    SUM(CASE WHEN NOT a THEN CAST(x AS HUGEINT) ELSE 0 END) s2,
        |    SUM(CASE WHEN NOT a THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      ss2
        |  FROM t),
        |e AS (SELECT CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) mean1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) mean2,
        |    CASE WHEN n1 < 2 OR n2 < 2
        |        OR (CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
        |              / CAST(n1 AS DOUBLE)
        |            + CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
        |              / CAST(n2 AS DOUBLE))
        |          / CAST(n1 + n2 - 2 AS DOUBLE) <= 0 THEN NULL
        |      ELSE (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |        / SQRT((CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
        |              / CAST(n1 AS DOUBLE)
        |            + CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
        |              / CAST(n2 AS DOUBLE))
        |          / CAST(n1 + n2 - 2 AS DOUBLE)) END d
        |  FROM m)
        |SELECT n1, n2, mean1, mean2, d,
        |  d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)) hedges_g
        |FROM e""".stripMargin) { (s, d) =>
      Stats.cohensD(Tables.table(s, d, "lineitem"),
        col("l_returnflag") === "R",
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // Paired t-test (Stats.pairedT): per-user purchase-vs-other spend
    // difference — the within-subject test that removes between-user
    // variance; key-ordered diff folds.
    dfQ("q275_paired_t",
      """WITH k AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) n1,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) s1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) n2,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) s2
        |  FROM events GROUP BY user_id),
        |dd AS (SELECT user_id,
        |    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 d
        |  FROM k WHERE n1 > 0 AND n2 > 0),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) n,
        |    LIST_REDUCE(LIST(d ORDER BY user_id), (a, b) -> a + b) sd,
        |    LIST_REDUCE(LIST(d * d ORDER BY user_id), (a, b) -> a + b)
        |      sdd
        |  FROM dd)
        |SELECT n, sd / n mean_diff,
        |  CASE WHEN n < 2 OR (sdd - sd * sd / n) / (n - 1) <= 0
        |    THEN NULL
        |    ELSE (sd / n) / SQRT(((sdd - sd * sd / n) / (n - 1)) / n)
        |  END t
        |FROM f""".stripMargin) { (s, d) =>
      Stats.pairedT(Tables.events(s, d), "user_id",
        col("event_type") === "purchase",
        floor(col("value") * 100).cast("long"))
    },

    // Cochran–Armitage trend (Stats.cochranArmitage): is the returned
    // rate monotone in quantity — the ordered-exposure test χ²
    // throws away. Integral scores, exact sums, three divisions.
    dfQ("q276_cochran_armitage",
      """WITH c AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) w,
        |    CAST(COUNT(*) AS BIGINT) ng,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) yg
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT CAST(SUM(ng) AS HUGEINT) n,
        |    CAST(SUM(yg) AS HUGEINT) y,
        |    SUM(CAST(w * ng AS HUGEINT)) swn,
        |    SUM(CAST(w * yg AS HUGEINT)) swy,
        |    SUM(CAST(w * w AS HUGEINT) * ng) swwn
        |  FROM c),
        |e AS (SELECT CAST(n AS BIGINT) n, CAST(y AS BIGINT) n_pos,
        |    CAST(y AS DOUBLE) / CAST(n AS DOUBLE) p_bar,
        |    CAST(swy AS DOUBLE) - CAST(swn AS DOUBLE)
        |      * (CAST(y AS DOUBLE) / CAST(n AS DOUBLE)) num,
        |    CAST(swwn AS DOUBLE) - CAST(swn AS DOUBLE)
        |      * CAST(swn AS DOUBLE) / CAST(n AS DOUBLE) spread
        |  FROM m)
        |SELECT n, n_pos, p_bar,
        |  CASE WHEN p_bar <= 0.0 OR p_bar >= 1.0 OR spread <= 0.0
        |    THEN NULL
        |    ELSE num * num / (p_bar * (1.0 - p_bar) * spread) END z2
        |FROM e""".stripMargin) { (s, d) =>
      Stats.cochranArmitage(Tables.table(s, d, "lineitem"),
        floor(col("l_quantity")).cast("long"),
        col("l_returnflag") === "R")
    },

    // Kendall tau-b over the contingency table (Stats.kendallTauB):
    // ordinal association of quantity and discount with tie
    // correction — cell-pair sums, never all-row pairs.
    dfQ("q277_kendall_tau",
      """WITH cells AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) x,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) y,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT
        |    SUM(CASE WHEN a.x < b.x AND a.y < b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) cc,
        |    SUM(CASE WHEN a.x < b.x AND a.y > b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) dd
        |  FROM cells a CROSS JOIN cells b),
        |m AS (SELECT CAST(SUM(c) AS HUGEINT) n FROM cells),
        |tx AS (SELECT SUM(CAST(nx * (nx - 1) AS HUGEINT)) n1x
        |  FROM (SELECT CAST(SUM(c) AS BIGINT) nx FROM cells GROUP BY x)),
        |ty AS (SELECT SUM(CAST(ny * (ny - 1) AS HUGEINT)) n1y
        |  FROM (SELECT CAST(SUM(c) AS BIGINT) ny FROM cells GROUP BY y))
        |SELECT CAST(n AS BIGINT) n, CAST(cc AS BIGINT) concordant,
        |  CAST(dd AS BIGINT) discordant,
        |  CASE WHEN CAST(n * (n - 1) AS DOUBLE) / 2.0
        |      - CAST(n1x AS DOUBLE) / 2.0 <= 0.0
        |    OR CAST(n * (n - 1) AS DOUBLE) / 2.0
        |      - CAST(n1y AS DOUBLE) / 2.0 <= 0.0 THEN NULL
        |    ELSE CAST(cc - dd AS DOUBLE)
        |      / (SQRT(CAST(n * (n - 1) AS DOUBLE) / 2.0
        |          - CAST(n1x AS DOUBLE) / 2.0)
        |        * SQRT(CAST(n * (n - 1) AS DOUBLE) / 2.0
        |          - CAST(n1y AS DOUBLE) / 2.0))
        |  END tau_b
        |FROM p CROSS JOIN m CROSS JOIN tx CROSS JOIN ty""".stripMargin) {
        (s, d) =>
      Stats.kendallTauB(Tables.table(s, d, "lineitem"),
        floor(col("l_quantity")).cast("long"),
        floor(col("l_discount") * 100).cast("long"))
    },

    // Runs test (Stats.runsTest): are high-value events randomly
    // interleaved in time or clumped — one lag window, exact counts,
    // fixed z tree.
    dfQ("q278_runs_test",
      """WITH s AS (SELECT ts, event_id,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END f
        |  FROM events),
        |l AS (SELECT f, LAG(f) OVER (ORDER BY ts, event_id) p FROM s),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    CAST(SUM(f) AS HUGEINT) n1,
        |    CAST(1 + SUM(CASE WHEN p IS NOT NULL AND p <> f
        |      THEN 1 ELSE 0 END) AS BIGINT) runs
        |  FROM l)
        |SELECT CAST(n AS BIGINT) n, CAST(n1 AS BIGINT) n1,
        |  CAST(n - n1 AS BIGINT) n2, runs,
        |  CASE WHEN n1 = 0 OR n - n1 = 0
        |    OR CAST(2 * n1 * (n - n1) * (2 * n1 * (n - n1) - n)
        |        AS DOUBLE)
        |      / CAST(n * n * (n - 1) AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE (CAST(runs AS DOUBLE)
        |      - (1.0 + CAST(2 * n1 * (n - n1) AS DOUBLE)
        |        / CAST(n AS DOUBLE)))
        |      / SQRT(CAST(2 * n1 * (n - n1) * (2 * n1 * (n - n1) - n)
        |          AS DOUBLE)
        |        / CAST(n * n * (n - 1) AS DOUBLE))
        |  END z
        |FROM m""".stripMargin) { (s, d) =>
      Stats.runsTest(Tables.events(s, d), "ts", "event_id",
        col("value") > 50.0)
    },

    // Distribution distances (Drift.distributionDistances): total
    // variation, Bhattacharyya overlap and squared Hellinger between
    // two sources' token mixes — ONE grouped count, sorted-category
    // folds, bounded metrics beside q201's JS and q130's PSI.
    dfQ("q279_dist_distances",
      """WITH ta AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |  FROM documents WHERE source = 'src0'),
        |tb AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) tok
        |  FROM documents WHERE source = 'src1'),
        |u AS (SELECT tok category, 'a' side FROM ta WHERE tok <> ''
        |  UNION ALL SELECT tok, 'b' FROM tb WHERE tok <> ''),
        |c AS (SELECT category,
        |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      na,
        |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      nb
        |  FROM u GROUP BY 1),
        |w AS (SELECT category, na, nb,
        |    ABS(na / SUM(na) OVER () - nb / SUM(nb) OVER ()) tv,
        |    SQRT((na / SUM(na) OVER ()) * (nb / SUM(nb) OVER ())) bc
        |  FROM c)
        |SELECT CAST(SUM(na) AS BIGINT) n_a, CAST(SUM(nb) AS BIGINT) n_b,
        |  CAST(COUNT(*) AS BIGINT) n_categories,
        |  0.5 * LIST_REDUCE(LIST(tv ORDER BY category), (a, b) -> a + b)
        |    total_variation,
        |  LIST_REDUCE(LIST(bc ORDER BY category), (a, b) -> a + b)
        |    bhattacharyya,
        |  1.0 - LIST_REDUCE(LIST(bc ORDER BY category), (a, b) -> a + b)
        |    hellinger_sq
        |FROM w""".stripMargin) { (s, d) =>
      val docs = Tables.table(s, d, "documents")
      def toks(src: String) = docs.filter(col("source") === src)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.Drift.distributionDistances(toks("src0"), toks("src1"),
        "tok")
    },

    // Vocabulary overlap matrix (TextAnalysis.vocabOverlap): pairwise
    // type-set Jaccard between the first five sources — the
    // slice-level "same language?" readout; inverted-index join,
    // group-bounded posting lists.
    dfQ("q280_vocab_overlap",
      """WITH ty AS (SELECT source g, tok token
        |  FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) tok
        |        FROM documents
        |        WHERE source IN ('src0','src1','src2','src3','src4'))
        |  WHERE tok <> '' GROUP BY 1, 2),
        |sz AS (SELECT g, CAST(COUNT(*) AS BIGINT) v FROM ty GROUP BY g),
        |sh AS (SELECT a.g ga, b.g gb, CAST(COUNT(*) AS BIGINT) shared
        |  FROM ty a JOIN ty b ON a.token = b.token AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT ga group_a, gb group_b, sa.v vocab_a, sb.v vocab_b,
        |  shared,
        |  CAST(shared AS DOUBLE) / (sa.v + sb.v - shared) jaccard
        |FROM sh JOIN sz sa ON sh.ga = sa.g JOIN sz sb ON sh.gb = sb.g
        |ORDER BY group_a, group_b""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.vocabOverlap(
          Tables.table(s, d, "documents")
            .filter(col("source").isin("src0", "src1", "src2", "src3",
              "src4")),
          "source", "text")
        .orderBy("group_a", "group_b")
    },

    // One-way ANOVA + eta² (Stats.anovaF): do mean prices differ by
    // return flag — the k-group mean test beside q166 (2-group),
    // q204 (ranks) and q234 (spreads); group-ordered between fold.
    dfQ("q281_anova",
      """WITH d AS (SELECT l_returnflag g,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) x
        |  FROM lineitem),
        |cl AS (SELECT g, CAST(COUNT(*) AS BIGINT) n,
        |    SUM(CAST(x AS HUGEINT)) s, SUM(CAST(x AS HUGEINT) * x) ss
        |  FROM d GROUP BY g),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) k,
        |    CAST(SUM(n) AS BIGINT) n, SUM(s) ts, SUM(ss) tss,
        |    LIST_REDUCE(LIST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
        |      ORDER BY g), (a, e) -> a + e) bsum
        |  FROM cl),
        |e AS (SELECT k, n,
        |    bsum - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / n between_,
        |    CAST(tss AS DOUBLE) - bsum within_,
        |    CAST(tss AS DOUBLE)
        |      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / n total_
        |  FROM t)
        |SELECT k, n,
        |  CASE WHEN k <= 1 OR n <= k OR within_ <= 0 THEN NULL
        |    ELSE (between_ / (k - 1)) / (within_ / (n - k)) END f_stat,
        |  CASE WHEN total_ <= 0 THEN NULL
        |    ELSE between_ / total_ END eta_sq
        |FROM e""".stripMargin) { (s, d) =>
      Stats.anovaF(Tables.table(s, d, "lineitem"), "l_returnflag",
        floor(col("l_extendedprice") * 100).cast("long"))
    },

    // Sample-ratio mismatch gate (Stats.multinomialGof over the hash
    // split): is the 50/50 assignment actually 50/50 — the FIRST
    // check of every A/B readout (a significant SRM chi2 invalidates
    // the experiment before any metric is read).
    dfQ("q282_srm",
      """WITH a AS (SELECT CASE WHEN CAST(CONCAT('0x', SUBSTRING(MD5(
        |      CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |      < 5000 THEN 'a' ELSE 'b' END arm
        |  FROM orders),
        |t AS (SELECT * FROM (VALUES ('a', 0.5), ('b', 0.5)) v(cat, p)),
        |o AS (SELECT arm cat, CAST(COUNT(*) AS BIGINT) n
        |  FROM a GROUP BY 1),
        |j AS (SELECT t.cat, t.p, COALESCE(o.n, 0) n
        |  FROM t LEFT JOIN o ON t.cat = o.cat),
        |tt AS (SELECT CAST(SUM(n) AS DOUBLE) nn FROM j),
        |w AS (SELECT cat, n, nn * p e FROM j CROSS JOIN tt)
        |SELECT CAST(COUNT(*) AS BIGINT) k, CAST(SUM(n) AS BIGINT) n,
        |  LIST_REDUCE(LIST((n - e) * (n - e) / e ORDER BY cat),
        |    (a, b) -> a + b) chi2
        |FROM w""".stripMargin) { (s, d) =>
      val arms = Tables.table(s, d, "orders")
        .select(when(Sampling.hashBucket(col("o_orderkey")) < 5000, "a")
          .otherwise("b").as("arm"))
      Stats.multinomialGof(arms, "arm", Seq(("a", 0.5), ("b", 0.5)))
    },

    // Shannon entropy per group (Stats.entropyByKey): language-mix
    // diversity per source — the one-distribution complement to the
    // PSI/JS drift family. Shares divided once, ln through the 2^-26
    // lnq grid, terms folded in sorted category order in-row (never a
    // windowed double SUM), 0.0-minus so a single-category source
    // reads +0.0 on both engines.
    dfQ("q287_entropy",
      """WITH c AS (SELECT source, lang AS category,
        |    CAST(COUNT(*) AS BIGINT) cnt
        |  FROM documents GROUP BY 1, 2),
        |tw AS (SELECT source, category, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) n FROM c),
        |e AS (SELECT source, category, cnt, n,
        |    (CAST(cnt AS DOUBLE) / n) *
        |      (FLOOR(LN(CAST(cnt AS DOUBLE) / n) * 67108864.0)
        |        / 67108864.0) AS trm
        |  FROM tw)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_categories,
        |  ROUND(0.0 - LIST_REDUCE(LIST(trm ORDER BY category),
        |    (a, b) -> a + b), 6) AS entropy
        |FROM e GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Stats.entropyByKey(Tables.table(s, d, "documents"), "source", "lang")
        .select(col("source"), col("n"), col("n_categories"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy("source")
    },

    // Weighted median per group (Stats.weightedMedianByKey): the
    // integer-weight contract makes every comparison exact — smallest
    // v with 2*cumweight >= total, one cumulative integer window over
    // the (group, value) pre-aggregate, state = distinct values per
    // group, not rows.
    dfQ("q288_weighted_median",
      """WITH t AS (SELECT event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) v,
        |    CAST(user_id % 7 + 1 AS BIGINT) w FROM events),
        |per AS (SELECT event_type, v, CAST(SUM(w) AS BIGINT) wv
        |  FROM t GROUP BY 1, 2),
        |cw AS (SELECT event_type, v, wv,
        |    CAST(SUM(wv) OVER (PARTITION BY event_type) AS BIGINT) total,
        |    CAST(SUM(wv) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
        |  FROM per)
        |SELECT event_type, CAST(MIN(v) AS BIGINT) AS weighted_median,
        |  CAST(MAX(total) AS BIGINT) AS total_weight
        |FROM cw WHERE cum * 2 >= total
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Stats.weightedMedianByKey(Tables.events(s, d), "event_type",
          floor(col("value") * 100).cast("long"),
          col("user_id") % 7 + 1)
        .select(col("event_type"), col("weighted_median"),
          col("total_weight"))
        .orderBy("event_type")
    },

    // Two-group log-rank test (Survival.logRank): did even-id users'
    // churn curve differ from odd-id users' — CMH with event times as
    // strata over q232's subject table. Per-time E/V are HUGEINT-exact
    // ratios divided once; the ΣE/ΣV double sums fold in ascending-
    // time order (LIST_REDUCE replay).
    dfQ("q289_log_rank",
      """WITH lt AS (SELECT user_id,
        |    (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 86400000000 t_dur,
        |    MAX(EPOCH_US(ts)) last_us
        |  FROM events GROUP BY user_id),
        |ce AS (SELECT MAX(EPOCH_US(ts)) end_us FROM events),
        |subj AS (SELECT t_dur, last_us <= end_us - 43200000000 obs,
        |    user_id % 2 = 0 arm FROM lt CROSS JOIN ce),
        |ag AS (SELECT t_dur t,
        |    CAST(SUM(CASE WHEN obs AND arm THEN 1 ELSE 0 END)
        |      AS BIGINT) d1,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) d,
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) a1,
        |    CAST(COUNT(*) AS BIGINT) a
        |  FROM subj GROUP BY 1),
        |r AS (SELECT t, d1, d,
        |    CAST(SUM(a1) OVER (ORDER BY t DESC ROWS UNBOUNDED
        |      PRECEDING) AS BIGINT) n1,
        |    CAST(SUM(a) OVER (ORDER BY t DESC ROWS UNBOUNDED
        |      PRECEDING) AS BIGINT) n
        |  FROM ag),
        |e AS (SELECT t, d1,
        |    CAST(CAST(d AS HUGEINT) * n1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) e1t,
        |    CASE WHEN n <= 1 THEN 0.0
        |      ELSE CAST(CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d)
        |          AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)
        |      END vt
        |  FROM r WHERE d > 0),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) n_times,
        |    CAST(COALESCE(SUM(d1), 0) AS BIGINT) o1,
        |    LIST_REDUCE(LIST(e1t ORDER BY t), (x, y) -> x + y) e1,
        |    LIST_REDUCE(LIST(vt ORDER BY t), (x, y) -> x + y) v
        |  FROM e)
        |SELECT n_times, o1, e1, v,
        |  CASE WHEN v <= 0 THEN NULL
        |    ELSE (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)
        |      / v END chi2
        |FROM f""".stripMargin) { (s, d) =>
      Survival.logRank(
        Survival.userLifetimes(Tables.events(s, d), "user_id", "ts",
          quietUs = 43200000000L),
        "duration_days", "observed",
        col("user_id") % 2 === 0)
    },

    // Degree assortativity (Components.degreeAssortativity): Newman's
    // r over q161's part-co-occurrence graph — hubs-link-to-hubs in
    // one number. DECIMAL(38)-exact moments over the directed mirror,
    // one division over two sqrts.
    dfQ("q290_assortativity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d FROM (
        |    SELECT u n FROM e UNION ALL SELECT v FROM e) x GROUP BY n),
        |dir AS (SELECT u, v FROM e UNION ALL SELECT v u, u v FROM e),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) m,
        |    CAST(SUM(a.d) AS HUGEINT) sx, CAST(SUM(b.d) AS HUGEINT) sy,
        |    SUM(CAST(a.d AS HUGEINT) * b.d) sxy,
        |    SUM(CAST(a.d AS HUGEINT) * a.d) sxx,
        |    SUM(CAST(b.d AS HUGEINT) * b.d) syy
        |  FROM dir JOIN deg a ON dir.u = a.n JOIN deg b ON dir.v = b.n)
        |SELECT CAST(m AS BIGINT) m_directed,
        |  CASE WHEN m * sxx - sx * sx <= 0 OR m * syy - sy * sy <= 0
        |    THEN NULL
        |    ELSE CAST(m * sxy - sx * sy AS DOUBLE)
        |      / (SQRT(CAST(m * sxx - sx * sx AS DOUBLE))
        |        * SQRT(CAST(m * syy - sy * sy AS DOUBLE))) END r
        |FROM m""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      Components.degreeAssortativity(e, "pa", "pb")
    },

    // Per-language lexical diversity (TextAnalysis.lexicalDiversity):
    // TTR, hapax share, Yule's K — template-spam vs prose per slice.
    // Exact integer type table, DECIMAL(38) Σf², fixed one-division
    // readout trees.
    dfQ("q291_lexical_diversity",
      """WITH f AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) f
        |  FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) tok
        |        FROM documents) x
        |  WHERE tok <> '' GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(SUM(f) AS BIGINT) n,
        |    CAST(COUNT(*) AS BIGINT) v,
        |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) v1,
        |    SUM(CAST(f AS HUGEINT) * f) m2
        |  FROM f GROUP BY 1)
        |SELECT lang, n n_tokens, v n_types, v1 n_hapax,
        |  CAST(v AS DOUBLE) / n ttr,
        |  CAST(v1 AS DOUBLE) / v hapax_ratio,
        |  10000.0 * (CAST(m2 AS DOUBLE) - CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) yules_k
        |FROM g ORDER BY lang""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.lexicalDiversity(
          Tables.table(s, d, "documents"), "lang", "text")
        .orderBy("lang")
    },

    // Wilcoxon signed-rank (Stats.wilcoxonSignedRank): q275's pairing
    // (per-user purchase vs non-purchase mean), rank-based so whale
    // users can't decide the A/B. Doubled ranks off the collapsed
    // |d| table; z = one division over one sqrt of exact HUGEINT
    // moments.
    dfQ("q292_wilcoxon",
      """WITH k AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) n1,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) s1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) n2,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) s2
        |  FROM events GROUP BY user_id),
        |dd AS (SELECT CAST(s1 AS DOUBLE) / n1
        |    - CAST(s2 AS DOUBLE) / n2 d
        |  FROM k WHERE n1 > 0 AND n2 > 0),
        |cells AS (SELECT ABS(d) a, d > 0 p,
        |    CAST(COUNT(*) AS BIGINT) cp
        |  FROM dd WHERE d <> 0 GROUP BY 1, 2),
        |byv AS (SELECT a v, CAST(SUM(cp) AS BIGINT) c
        |  FROM cells GROUP BY 1),
        |rk AS (SELECT v, c,
        |    CAST(2 * COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
        |      AS BIGINT) dr
        |  FROM byv),
        |m AS (SELECT CAST(COALESCE(SUM(cp), 0) AS HUGEINT) n,
        |    COALESCE(SUM(CASE WHEN p THEN CAST(cp AS HUGEINT) * dr
        |      ELSE 0 END), 0) w2
        |  FROM cells JOIN rk ON cells.a = rk.v),
        |t AS (SELECT CAST(COALESCE(SUM(c * c * c - c), 0) AS HUGEINT)
        |    ts FROM byv)
        |SELECT CAST(n AS BIGINT) n, CAST(w2 AS DOUBLE) / 2.0 w_plus,
        |  CASE WHEN n < 1
        |      OR 2 * n * (n + 1) * (2 * n + 1) - ts <= 0 THEN NULL
        |    ELSE CAST(2 * w2 - n * (n + 1) AS DOUBLE)
        |      / (2.0 * SQRT(CAST(2 * n * (n + 1) * (2 * n + 1) - ts
        |          AS DOUBLE) / 12.0)) END z
        |FROM m CROSS JOIN t""".stripMargin) { (s, d) =>
      Stats.wilcoxonSignedRank(Tables.events(s, d), "user_id",
        col("event_type") === "purchase",
        floor(col("value") * 100).cast("long"))
    },

    // Theil's uncertainty coefficient (Stats.theilsU): what fraction
    // of the uncertainty in lang does knowing source remove — the
    // normalized asymmetric companion to q223's raw MI. Same lnq grid
    // and sorted-cell in-row folds; u is one division.
    dfQ("q293_theils_u",
      """WITH c AS (SELECT lang x, source y, CAST(COUNT(*) AS BIGINT) c
        |  FROM documents GROUP BY 1, 2),
        |m AS (SELECT x, y, c,
        |    SUM(c) OVER (PARTITION BY x) cx,
        |    SUM(c) OVER (PARTITION BY y) cy,
        |    SUM(c) OVER () n FROM c),
        |w AS (SELECT x, y, n,
        |    (CAST(c AS DOUBLE) / n) * (FLOOR(LN(CAST(c * n AS DOUBLE)
        |      / (cx * cy)) * 67108864.0) / 67108864.0) mt FROM m),
        |mi AS (SELECT CAST(MAX(n) AS BIGINT) n,
        |    LIST_REDUCE(LIST(mt ORDER BY x, y), (a, b) -> a + b) mi
        |  FROM w),
        |xm AS (SELECT x, CAST(SUM(c) AS BIGINT) cx FROM c GROUP BY 1),
        |xn AS (SELECT x, cx, SUM(cx) OVER () n FROM xm),
        |hx AS (SELECT 0.0 - LIST_REDUCE(LIST(
        |    (CAST(cx AS DOUBLE) / n) * (FLOOR(LN(CAST(cx AS DOUBLE)
        |      / n) * 67108864.0) / 67108864.0) ORDER BY x),
        |    (a, b) -> a + b) h_x FROM xn)
        |SELECT n, h_x, mi,
        |  CASE WHEN h_x <= 0 THEN NULL ELSE mi / h_x END u
        |FROM mi CROSS JOIN hx""".stripMargin) { (s, d) =>
      Stats.theilsU(Tables.table(s, d, "documents"), "lang", "source")
    },

    // Friedman test (Stats.friedman): do the event types differ in
    // per-user mean value across users that saw all of them — the
    // repeated-measures nonparametric next to q275/q292. Conover's
    // tie form on doubled within-block ranks; chi2 is one division of
    // exact HUGEINT quantities.
    dfQ("q294_friedman",
      """WITH cell AS (SELECT user_id b, event_type t,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) s,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |cm AS (SELECT b, t, CAST(s AS DOUBLE) / c m FROM cell),
        |kt AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) kd FROM cell),
        |kb AS (SELECT b, t, m, COUNT(*) OVER (PARTITION BY b) nb
        |  FROM cm),
        |kept AS (SELECT b, t, m FROM kb CROSS JOIN kt WHERE nb = kd),
        |byv AS (SELECT b, m, CAST(COUNT(*) AS BIGINT) cv
        |  FROM kept GROUP BY 1, 2),
        |rk AS (SELECT b, m,
        |    CAST(2 * COALESCE(SUM(cv) OVER (PARTITION BY b ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cv + 1 AS BIGINT) dr
        |  FROM byv),
        |cr AS (SELECT kept.b, kept.t, rk.dr FROM kept
        |  JOIN rk ON kept.b = rk.b AND kept.m = rk.m),
        |pt AS (SELECT t, CAST(SUM(dr) AS HUGEINT) r4 FROM cr
        |  GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(DISTINCT b) AS HUGEINT) n,
        |    CAST(SUM(CAST(dr AS HUGEINT) * dr) AS HUGEINT) a4 FROM cr),
        |sq AS (SELECT
        |    CAST(SUM((r4 - n * (kd + 1)) * (r4 - n * (kd + 1)))
        |      AS HUGEINT) sq,
        |    MAX(n) n, CAST(MAX(kd) AS HUGEINT) kk, MAX(a4) a4
        |  FROM pt CROSS JOIN tot CROSS JOIN kt)
        |SELECT CAST(n AS BIGINT) n_blocks, CAST(kk AS BIGINT) k,
        |  CASE WHEN n < 1 OR kk < 2
        |      OR a4 - n * kk * (kk + 1) * (kk + 1) <= 0 THEN NULL
        |    ELSE CAST((kk - 1) * sq AS DOUBLE)
        |      / CAST(a4 - n * kk * (kk + 1) * (kk + 1) AS DOUBLE)
        |  END chi2
        |FROM sq""".stripMargin) { (s, d) =>
      Stats.friedman(Tables.events(s, d), "user_id", "event_type",
        floor(col("value") * 100).cast("long"))
    },

    // Average-neighbor-degree curve (Components.avgNeighborDegree):
    // q290's drill-down over the same part-co-occurrence graph —
    // where the degree mixing bends. Exact integer numerator/
    // denominator from one grouped agg, knn one division.
    dfQ("q295_avg_neighbor_degree",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d FROM (
        |    SELECT u n FROM e UNION ALL SELECT v FROM e) x GROUP BY n),
        |dir AS (SELECT u, v FROM e UNION ALL SELECT v u, u v FROM e),
        |j AS (SELECT a.d du, b.d dv FROM dir
        |  JOIN deg a ON dir.u = a.n JOIN deg b ON dir.v = b.n)
        |SELECT du k, CAST(COUNT(*) AS BIGINT) n_edges,
        |  CAST(SUM(CAST(dv AS HUGEINT)) AS DOUBLE) / COUNT(*) knn
        |FROM j GROUP BY 1 ORDER BY k""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      Components.avgNeighborDegree(e, "pa", "pb").orderBy("k")
    },

    // Rich-club coefficient (Components.richClub): hub-layer edge
    // density at degree cutoffs 2/8/32 over the q290 graph — do the
    // hubs wire to each other. Exact counts, phi one division, NULL
    // below two club members.
    dfQ("q296_rich_club",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d FROM (
        |    SELECT u n FROM e UNION ALL SELECT v FROM e) x GROUP BY n),
        |ks AS (SELECT CAST(UNNEST([2, 8, 32]) AS BIGINT) kc),
        |nk AS (SELECT kc, CAST(COUNT(*) AS BIGINT) n_nodes
        |  FROM deg CROSS JOIN ks WHERE d > kc GROUP BY 1),
        |j AS (SELECT a.d du, b.d dv FROM e
        |  JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n),
        |ek AS (SELECT kc, CAST(COUNT(*) AS BIGINT) n_edges
        |  FROM j CROSS JOIN ks WHERE du > kc AND dv > kc GROUP BY 1)
        |SELECT ks.kc k, COALESCE(n_nodes, 0) n_nodes,
        |  COALESCE(n_edges, 0) n_edges,
        |  CASE WHEN COALESCE(n_nodes, 0) < 2 THEN NULL
        |    ELSE CAST(2 * CAST(COALESCE(n_edges, 0) AS HUGEINT)
        |        AS DOUBLE)
        |      / CAST(CAST(COALESCE(n_nodes, 0) AS HUGEINT)
        |        * (COALESCE(n_nodes, 0) - 1) AS DOUBLE) END phi
        |FROM ks LEFT JOIN nk ON ks.kc = nk.kc
        |  LEFT JOIN ek ON ks.kc = ek.kc
        |ORDER BY k""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      Components.richClub(e, "pa", "pb", Seq(2L, 8L, 32L)).orderBy("k")
    },

    // Hosmer-Lemeshow calibration test (Stats.hosmerLemeshow): q174's
    // bins with value/400 as the predicted probability — the test-
    // statistic companion to q230's ECE. Terms fold in bin order;
    // degenerate bins (p at 0 or 1) contribute 0 and are counted.
    dfQ("q297_hosmer_lemeshow",
      """WITH b AS (SELECT LEAST(GREATEST(CAST(FLOOR((value / 400 - 0.0)
        |      / CAST(0.125 AS DOUBLE)) AS BIGINT), 0), 7) bin,
        |    CAST(COUNT(*) AS BIGINT) n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) pos,
        |    CAST(SUM(CAST(ROUND(value / 400 * 100) AS BIGINT))
        |      AS BIGINT) sc
        |  FROM events GROUP BY 1),
        |m AS (SELECT bin, n, pos, CAST(sc AS DOUBLE) / (100.0 * n) ms
        |  FROM b),
        |t AS (SELECT bin, n, pos,
        |    CASE WHEN ms <= 0.0 OR ms >= 1.0 THEN 0.0
        |      ELSE (pos - n * ms) * (pos - n * ms)
        |        / ((n * ms) * (1.0 - ms)) END tt,
        |    CASE WHEN ms <= 0.0 OR ms >= 1.0 THEN 1 ELSE 0 END dg
        |  FROM m)
        |SELECT CAST(SUM(n) AS BIGINT) n, CAST(COUNT(*) AS BIGINT) n_bins,
        |  CAST(SUM(dg) AS BIGINT) n_degenerate,
        |  LIST_REDUCE(LIST(tt ORDER BY bin), (a, b) -> a + b) chi2
        |FROM t""".stripMargin) { (s, d) =>
      Stats.hosmerLemeshow(Tables.table(s, d, "events"),
        col("value") / 400, col("event_type") === "purchase",
        bins = 8, lo = 0.0, hi = 1.0)
    },

    // Per-key Mann-Whitney rank-sum + Cliff's delta
    // (Stats.mannWhitneyByKey): did even-id users' value level shift
    // vs odd-id users', per event type — the location companion to
    // q243's per-key KS shape test, with the effect size a 10^9-row
    // p-value can't give. Doubled ranks off the per-key distinct-value
    // cells; exact HUGEINT moments, one division per readout.
    dfQ("q298_mann_whitney",
      """WITH t AS (SELECT event_type k,
        |    CAST(FLOOR(value * 100) AS BIGINT) v,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END a1,
        |    CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END a2
        |  FROM events),
        |bv AS (SELECT k, v, CAST(SUM(a1) AS BIGINT) d1,
        |    CAST(SUM(a2) AS BIGINT) d2
        |  FROM t GROUP BY 1, 2),
        |r AS (SELECT k, d1, d1 + d2 c,
        |    CAST(2 * COALESCE(SUM(d1 + d2) OVER (PARTITION BY k
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) + (d1 + d2) + 1 AS BIGINT) dr
        |  FROM bv),
        |g AS (SELECT k, CAST(SUM(d1) AS HUGEINT) n1,
        |    CAST(SUM(c - d1) AS HUGEINT) n2,
        |    CAST(SUM(CAST(d1 AS HUGEINT) * dr) AS HUGEINT) sdr1,
        |    CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) ts
        |  FROM r GROUP BY 1),
        |e AS (SELECT k, n1, n2,
        |    sdr1 - n1 * (n1 + 1) - n1 * n2 num2,
        |    n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - ts)
        |      varnum,
        |    n1 + n2 n
        |  FROM g WHERE n1 > 0 AND n2 > 0)
        |SELECT k event_type, CAST(n1 AS BIGINT) n1,
        |  CAST(n2 AS BIGINT) n2,
        |  CAST(num2 + n1 * n2 AS DOUBLE) / 2.0 u1,
        |  CAST(num2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) cliffs_delta,
        |  CASE WHEN varnum <= 0 THEN NULL
        |    ELSE CAST(num2 AS DOUBLE) / (2.0 * SQRT(
        |      CAST(varnum AS DOUBLE)
        |        / CAST(12 * n * (n - 1) AS DOUBLE))) END z
        |FROM e ORDER BY event_type""".stripMargin) { (s, d) =>
      Stats.mannWhitneyByKey(Tables.events(s, d), "event_type",
          col("user_id") % 2 === 0, col("user_id") % 2 =!= 0,
          floor(col("value") * 100).cast("long"))
        .orderBy("event_type")
    },

    // Cochran's Q test (Stats.cochranQ): did "high-value engagement"
    // rates differ across the click/purchase/signup surfaces for the
    // SAME users — the k-treatment extension of q235's McNemar and the
    // binary twin of q294's Friedman. Dense block completion rides a
    // broadcast cross join; the integer identity
    // Q = (k-1)(k·ΣC² - T²)/(k·T - ΣR²) clears every denominator, so
    // Q is ONE division of exact integers.
    dfQ("q299_cochran_q",
      """WITH obs AS (SELECT user_id b, event_type t,
        |    MAX(CASE WHEN value > 50 THEN 1 ELSE 0 END) s
        |  FROM events WHERE event_type IN ('click','purchase','signup')
        |  GROUP BY 1, 2),
        |dense AS (SELECT bb.b, tt.t, COALESCE(obs.s, 0) s
        |  FROM (SELECT DISTINCT b FROM obs) bb
        |  CROSS JOIN (VALUES ('click'),('purchase'),('signup')) tt(t)
        |  LEFT JOIN obs ON obs.b = bb.b AND obs.t = tt.t),
        |rb AS (SELECT b, CAST(SUM(s) AS BIGINT) r FROM dense GROUP BY b),
        |tr AS (SELECT CAST(COUNT(*) AS BIGINT) n_blocks,
        |    CAST(SUM(r) AS HUGEINT) tt, CAST(SUM(r*r) AS HUGEINT) r2
        |  FROM rb),
        |cj AS (SELECT CAST(SUM(c*c) AS HUGEINT) c2 FROM
        |  (SELECT t, CAST(SUM(s) AS HUGEINT) c FROM dense GROUP BY t) x)
        |SELECT n_blocks, 3 AS k, CAST(tt AS BIGINT) AS total_successes,
        |  CASE WHEN 3 * tt - r2 = 0 THEN NULL
        |    ELSE CAST(2 * (3 * c2 - tt * tt) AS DOUBLE)
        |      / CAST(3 * tt - r2 AS DOUBLE) END AS q
        |FROM tr CROSS JOIN cj""".stripMargin) { (s, d) =>
      Stats.cochranQ(Tables.events(s, d), "user_id", "event_type",
        col("value") > 50, Seq("click", "purchase", "signup"))
    },

    // Jonckheere-Terpstra ordered trend (Stats.jonckheereTerpstra):
    // does order value RISE across priority tiers (1-URGENT < ... <
    // 5-LOW in key order) — kruskalWallis with an ordered alternative.
    // Dense (group x value) grid windows (<=k rows per value
    // partition; per-group distinct-value bound), exact integer 2J,
    // Hollander-Wolfe tie-corrected variance as three fixed-order
    // exact-ratio terms.
    dfQ("q300_jonckheere",
      """WITH cells AS (SELECT o_orderpriority g,
        |    CAST(FLOOR(o_totalprice) AS BIGINT) v,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM orders GROUP BY 1, 2),
        |grid AS (SELECT gg.g, vv.v, COALESCE(cells.c, 0) c FROM
        |  (SELECT DISTINCT g FROM cells) gg
        |  CROSS JOIN (SELECT DISTINCT v FROM cells) vv
        |  LEFT JOIN cells ON cells.g = gg.g AND cells.v = vv.v),
        |w1 AS (SELECT g, v, c, CAST(COALESCE(SUM(c) OVER (
        |    PARTITION BY v ORDER BY g
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) bt FROM grid),
        |w2 AS (SELECT g, v, c, bt, CAST(COALESCE(SUM(bt) OVER (
        |    PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS HUGEINT) a FROM w1),
        |j AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * (2 * a + bt))
        |    AS HUGEINT) j2 FROM w2),
        |g1 AS (SELECT CAST(SUM(n) AS HUGEINT) nn,
        |    CAST(COUNT(*) AS BIGINT) k,
        |    SUM(CAST(n AS HUGEINT) * n) n2,
        |    SUM(CAST(n AS HUGEINT) * (n-1) * (2*n+5)) g25,
        |    SUM(CAST(n AS HUGEINT) * (n-1) * (n-2)) g3,
        |    SUM(CAST(n AS HUGEINT) * (n-1)) g2
        |  FROM (SELECT g, CAST(SUM(c) AS BIGINT) n FROM cells
        |        GROUP BY g) x),
        |t1 AS (SELECT SUM(CAST(t AS HUGEINT) * (t-1) * (2*t+5)) t25,
        |    SUM(CAST(t AS HUGEINT) * (t-1) * (t-2)) t3,
        |    SUM(CAST(t AS HUGEINT) * (t-1)) t2
        |  FROM (SELECT v, CAST(SUM(c) AS BIGINT) t FROM cells
        |        GROUP BY v) x),
        |m AS (SELECT *,
        |    CAST(nn*(nn-1)*(2*nn+5) - g25 - t25 AS DOUBLE) / 72e0
        |      + CAST(g3*t3 AS DOUBLE)
        |        / (36e0 * CAST(nn*(nn-1)*(nn-2) AS DOUBLE))
        |      + CAST(g2*t2 AS DOUBLE)
        |        / (8e0 * CAST(nn*(nn-1) AS DOUBLE)) varj
        |  FROM j CROSS JOIN g1 CROSS JOIN t1)
        |SELECT CAST(nn AS BIGINT) n, k,
        |  CAST(j2 AS DOUBLE) / 2e0 j_stat,
        |  CAST(nn*nn - n2 AS DOUBLE) / 4e0 e_j,
        |  CASE WHEN k < 2 OR nn < 3 OR varj <= 0e0 THEN NULL
        |    ELSE CAST(2*j2 - (nn*nn - n2) AS DOUBLE)
        |      / (4e0 * SQRT(varj)) END z
        |FROM m""".stripMargin) { (s, d) =>
      Stats.jonckheereTerpstra(Tables.table(s, d, "orders"),
        "o_orderpriority", floor(col("o_totalprice")).cast("long"))
    },

    // Directed reciprocity (Components.reciprocity) over the
    // line-position-ordered part graph (u -> v when u appears on an
    // earlier line than v in the same order): is part co-occurrence a
    // conversation or a broadcast. One distinct pass + a left-semi
    // self-join on the swapped pair — per-key <=1, linear.
    dfQ("q301_reciprocity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_linenumber,
        |    l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber < b.l_linenumber
        |  WHERE a.p <> b.p),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) m_directed FROM e),
        |r AS (SELECT CAST(COUNT(*) AS BIGINT) m_reciprocal FROM e
        |  WHERE EXISTS (SELECT 1 FROM e e2
        |                WHERE e2.u = e.v AND e2.v = e.u))
        |SELECT m_directed, m_reciprocal,
        |  CASE WHEN m_directed = 0 THEN NULL
        |    ELSE CAST(m_reciprocal AS DOUBLE) / m_directed END
        |    AS reciprocity
        |FROM m CROSS JOIN r""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_linenumber") < col("y.l_linenumber") &&
            col("x.p") =!= col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb"))
      Components.reciprocity(e, "pa", "pb")
    },

    // Global transitivity (Components.transitivity) over the q290
    // part-co-occurrence graph: the triangle/wedge ratio 3T/W — the
    // whole-graph companion to q161's per-node counts; the oracle
    // replays T with plain 3-way joins and W off the degree table.
    dfQ("q302_transitivity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |t AS (SELECT e1.u a, e1.v b, e2.v c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tc AS (SELECT CAST(COUNT(*) AS HUGEINT) t3 FROM t),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d FROM (
        |    SELECT u n FROM e UNION ALL SELECT v FROM e) x GROUP BY n),
        |w AS (SELECT CAST(SUM(CAST(d AS HUGEINT) * (d-1)) AS HUGEINT)
        |    w2 FROM deg)
        |SELECT CAST(t3 AS BIGINT) n_triangles,
        |  CAST(w2 / 2 AS BIGINT) n_wedges,
        |  CASE WHEN w2 = 0 THEN NULL
        |    ELSE CAST(6 * t3 AS DOUBLE) / CAST(w2 AS DOUBLE) END
        |    AS transitivity
        |FROM tc CROSS JOIN w""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      Components.transitivity(e, "pa", "pb")
    },

    // Fleiss' kappa (Quality.fleissKappa): chance-corrected agreement
    // among the 4 "raters" of every exactly-4-line order on the
    // returnflag "label" — the n>2-rater generalization of q238's
    // Cohen kappa for multi-annotator label QA. Exactly-n filter off
    // ONE cell table; P-bar and P-e are single divisions of exact
    // integer moments, kappa a fixed tree.
    dfQ("q303_fleiss_kappa",
      """WITH cells AS (SELECT l_orderkey i, l_returnflag cat,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM lineitem GROUP BY 1, 2),
        |keep AS (SELECT i FROM cells GROUP BY i HAVING SUM(c) = 4),
        |cc AS (SELECT cells.* FROM cells JOIN keep USING (i)),
        |a AS (SELECT CAST(COUNT(DISTINCT i) AS HUGEINT) n,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) c2 FROM cc),
        |b AS (SELECT CAST(SUM(CAST(cj AS HUGEINT) * cj) AS HUGEINT)
        |    cj2 FROM (SELECT cat, SUM(c) cj FROM cc GROUP BY cat) x),
        |m AS (SELECT n, c2, cj2,
        |    CAST(c2 - n * 4 AS DOUBLE) / CAST(n * 4 * 3 AS DOUBLE) pb,
        |    CAST(cj2 AS DOUBLE) / CAST((n * 4) * (n * 4) AS DOUBLE) pe
        |  FROM a CROSS JOIN b)
        |SELECT CAST(n AS BIGINT) n_items, 4 AS n_raters,
        |  CASE WHEN n = 0 THEN NULL ELSE pb END AS p_bar,
        |  CASE WHEN n = 0 THEN NULL ELSE pe END AS p_e,
        |  CASE WHEN n = 0 OR pe >= 1e0 THEN NULL
        |    ELSE (pb - pe) / (1e0 - pe) END AS kappa
        |FROM m""".stripMargin) { (s, d) =>
      graft.ops.Quality.fleissKappa(Tables.table(s, d, "lineitem"),
        "l_orderkey", "l_returnflag", nRaters = 4)
    },

    // Newman-Girvan modularity (Components.modularity) of the node%8
    // hash partition over the q290 part graph: the quality readout for
    // ANY community assignment (a hash partition should read ~0 — the
    // degree-artifact floor the label-prop communities must beat).
    // Q*4m^2 is an exact integer; Q one division.
    dfQ("q304_modularity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |lab AS (SELECT DISTINCT n, n % 8 c FROM
        |  (SELECT u n FROM e UNION ALL SELECT v FROM e) x),
        |tg AS (SELECT la.c ca, lb.c cb FROM e
        |  JOIN lab la ON e.u = la.n JOIN lab lb ON e.v = lb.n),
        |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) m FROM tg),
        |ec AS (SELECT ca c, CAST(COUNT(*) AS BIGINT) ec FROM tg
        |  WHERE ca = cb GROUP BY 1),
        |dc AS (SELECT c, CAST(COUNT(*) AS BIGINT) dc FROM
        |  (SELECT ca c FROM tg UNION ALL SELECT cb FROM tg) x
        |  GROUP BY 1),
        |j AS (SELECT dc.c, dc.dc, COALESCE(ec.ec, 0) ec
        |  FROM dc LEFT JOIN ec ON dc.c = ec.c)
        |SELECT CAST(COUNT(*) AS BIGINT) n_communities,
        |  CAST(MAX(m) AS BIGINT) m_edges,
        |  CASE WHEN MAX(m) = 0 THEN NULL ELSE
        |    CAST(SUM(4 * m * ec - CAST(dc AS HUGEINT) * dc) AS DOUBLE)
        |      / CAST(4 * MAX(m) * MAX(m) AS DOUBLE) END modularity
        |FROM j CROSS JOIN mm""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      val labels = e.select(explode(array(col("pa"), col("pb"))).as("n"))
        .distinct()
        .select(col("n"), (col("n") % 8).as("comm"))
      Components.modularity(e, "pa", "pb", labels, "n", "comm")
    },

    // Heaps'-law exponent (TextAnalysis.heapsLaw): vocabulary growth
    // V(T) = K*T^beta probed at power-of-two doc-id cutoffs — bounded
    // literal probes, never a row-scale doc-sequence window; OLS on
    // the lnq 2^-26 integer grid, exact DECIMAL moments, beta one
    // division.
    dfQ("q305_heaps_law",
      """WITH tk AS (SELECT doc_id id, tok FROM
        |  (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) tok
        |   FROM documents) x WHERE tok <> ''),
        |fd AS (SELECT tok, MIN(id) fd FROM tk GROUP BY tok),
        |nt AS (SELECT id, CAST(COUNT(*) AS BIGINT) nt FROM tk
        |  GROUP BY id),
        |cuts AS (SELECT CAST(POWER(2, i) AS BIGINT) cut
        |  FROM UNNEST(RANGE(0, 16)) t(i)),
        |v AS (SELECT cut, CAST(COUNT(*) AS BIGINT) v
        |  FROM fd CROSS JOIN cuts WHERE fd < cut GROUP BY cut),
        |t AS (SELECT cut, CAST(SUM(nt) AS BIGINT) t
        |  FROM nt CROSS JOIN cuts WHERE id < cut GROUP BY cut),
        |pts AS (SELECT t, MIN(v) v FROM
        |  (SELECT t.t, v.v FROM v JOIN t USING (cut)
        |   WHERE t.t > 0 AND v.v > 0) x GROUP BY t),
        |g AS (SELECT CAST(FLOOR(LN(t) * 67108864.0) AS BIGINT) x,
        |    CAST(FLOOR(LN(v) * 67108864.0) AS BIGINT) y FROM pts),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) n,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(y AS HUGEINT)) sy,
        |    SUM(CAST(x AS HUGEINT) * x) sxx,
        |    SUM(CAST(x AS HUGEINT) * y) sxy FROM g)
        |SELECT n AS n_probes,
        |  CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END AS beta,
        |  CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
        |    ELSE (CAST(sy * sxx - sx * sxy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE)) / 67108864.0 END
        |    AS ln_k
        |FROM m""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.heapsLaw(
        Tables.table(s, d, "documents"), "doc_id", "text")
    },

    // Page's L trend test (Stats.pageTrend): does per-user mean value
    // RISE across view -> click -> purchase — the ordered-alternative
    // Friedman, the repeated-measures twin of q300's Jonckheere.
    // Complete blocks, doubled within-block ranks, exact 2L/2E
    // integers, classical variance.
    dfQ("q306_page_trend",
      """WITH cell AS (SELECT user_id b, event_type t,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) s,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM events
        |  WHERE event_type IN ('view','click','purchase')
        |  GROUP BY 1, 2),
        |cm AS (SELECT b, t, CAST(s AS DOUBLE) / c m FROM cell),
        |kept AS (SELECT * FROM cm WHERE b IN
        |  (SELECT b FROM cm GROUP BY b HAVING COUNT(*) = 3)),
        |byv AS (SELECT b, m, CAST(COUNT(*) AS BIGINT) cv FROM kept
        |  GROUP BY 1, 2),
        |rk AS (SELECT b, m, CAST(2 * COALESCE(SUM(cv) OVER (
        |    PARTITION BY b ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cv + 1 AS BIGINT) dr FROM byv),
        |cr AS (SELECT kept.b, rk.dr,
        |    CASE kept.t WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |      ELSE 3 END j
        |  FROM kept JOIN rk ON kept.b = rk.b AND kept.m = rk.m),
        |m2 AS (SELECT CAST(COUNT(DISTINCT b) AS HUGEINT) bb,
        |    CAST(SUM(CAST(j AS HUGEINT) * dr) AS HUGEINT) l2 FROM cr)
        |SELECT CAST(bb AS BIGINT) n_blocks, 3 AS k,
        |  CAST(l2 AS DOUBLE) / 2e0 l_stat,
        |  CASE WHEN bb < 1 THEN NULL
        |    ELSE CAST(l2 - bb * 24 AS DOUBLE)
        |      / (2e0 * SQRT(CAST(bb * 288 AS DOUBLE) / 144e0)) END z
        |FROM m2""".stripMargin) { (s, d) =>
      Stats.pageTrend(Tables.events(s, d), "user_id", "event_type",
        floor(col("value") * 100).cast("long"),
        Seq("view", "click", "purchase"))
    },

    // Krippendorff's alpha (Quality.krippendorffAlpha): agreement on
    // the returnflag "label" across each order's VARIABLE lineitem
    // panel — the fleiss complement when raters per item differ.
    // Per-unit rationals grouped by DENOMINATOR (panel sizes are few)
    // so the only double fold runs in-row over <=|panels| terms.
    dfQ("q307_krippendorff",
      """WITH cells AS (SELECT l_orderkey u, l_returnflag cat,
        |    CAST(COUNT(*) AS BIGINT) c FROM lineitem GROUP BY 1, 2),
        |wm AS (SELECT u, cat, c,
        |    CAST(SUM(c) OVER (PARTITION BY u) AS BIGINT) m FROM cells),
        |k AS (SELECT * FROM wm WHERE m >= 2),
        |so AS (SELECT COALESCE(LIST_REDUCE(LIST(t ORDER BY d),
        |    (a, b) -> a + b), 0e0) so FROM
        |  (SELECT m - 1 d,
        |     CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE)
        |       / (m - 1) t
        |   FROM k GROUP BY m - 1) x),
        |mg AS (SELECT CAST(SUM(nc) AS HUGEINT) n,
        |    CAST(SUM(CAST(nc AS HUGEINT) * (nc - 1)) AS HUGEINT) ncc
        |  FROM (SELECT cat, CAST(SUM(c) AS BIGINT) nc FROM k
        |        GROUP BY cat) x)
        |SELECT CAST(n AS BIGINT) n_pairable,
        |  CASE WHEN n < 2 THEN NULL
        |    ELSE so / CAST(n AS DOUBLE) END s_o,
        |  CASE WHEN n < 2 THEN NULL
        |    ELSE CAST(ncc AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
        |    END s_e,
        |  CASE WHEN n < 2 OR CAST(ncc AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) >= 1e0 THEN NULL
        |    ELSE (so / CAST(n AS DOUBLE) - CAST(ncc AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE))
        |      / (1e0 - CAST(ncc AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)) END alpha
        |FROM so CROSS JOIN mg""".stripMargin) { (s, d) =>
      graft.ops.Quality.krippendorffAlpha(
        Tables.table(s, d, "lineitem"), "l_orderkey", "l_returnflag")
    },

    // Categorical assortativity (Components.attributeAssortativity):
    // do same-attribute (p % 5) parts preferentially co-occur — the
    // discrete-attribute Newman r next to q290's degree form.
    // r = (M*E_ii - SUM A_i^2)/(M^2 - SUM A_i^2), all exact integers.
    dfQ("q308_attr_assortativity",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |lab AS (SELECT DISTINCT n, n % 5 c FROM
        |  (SELECT u n FROM e UNION ALL SELECT v FROM e) x),
        |mir AS (SELECT u, v FROM e UNION ALL SELECT v u, u v FROM e),
        |tg AS (SELECT la.c ca, lb.c cb FROM mir
        |  JOIN lab la ON mir.u = la.n JOIN lab lb ON mir.v = lb.n),
        |eii AS (SELECT CAST(COUNT(*) AS HUGEINT) eii FROM tg
        |  WHERE ca = cb),
        |mg AS (SELECT CAST(COUNT(*) AS BIGINT) n_attrs,
        |    CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) a2,
        |    CAST(SUM(a) AS HUGEINT) m FROM
        |  (SELECT ca, CAST(COUNT(*) AS BIGINT) a FROM tg GROUP BY ca)
        |  x)
        |SELECT n_attrs, CAST(m AS BIGINT) m_directed,
        |  CASE WHEN m * m - a2 = 0 THEN NULL
        |    ELSE CAST(m * eii - a2 AS DOUBLE)
        |      / CAST(m * m - a2 AS DOUBLE) END r
        |FROM mg CROSS JOIN eii""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      val labels = e.select(explode(array(col("pa"), col("pb"))).as("n"))
        .distinct()
        .select(col("n"), (col("n") % 5).as("attr"))
      Components.attributeAssortativity(e, "pa", "pb", labels, "n",
        "attr")
    },

    // Chao1 richness (TextAnalysis.chao1Richness): how many types each
    // language's corpus HASN'T shown yet — the unseen-mass companion
    // to q305's Heaps exponent. Exact singleton/doubleton counts off
    // the frequency table, one division.
    dfQ("q309_chao1",
      """WITH f AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) f FROM
        |  (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) tok
        |   FROM documents) x WHERE tok <> '' GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) n_types,
        |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) f1,
        |  CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) f2,
        |  CAST(COUNT(*) AS BIGINT)
        |    + CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
        |        * (SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) - 1)
        |        AS DOUBLE)
        |      / (2e0 * (SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) + 1))
        |    AS chao1
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.chao1Richness(
          Tables.table(s, d, "documents"), "lang", "text")
        .orderBy("lang")
    },

    // Kendall's W coefficient of concordance (Stats.kendallW): do
    // users RANK the event types consistently — the multi-rater
    // ranking twin of q303's Fleiss agreement. Complete panels,
    // doubled within-rater ranks, tie-corrected denominator, ONE
    // division of exact integers.
    dfQ("q310_kendall_w",
      """WITH cell AS (SELECT user_id b, event_type t,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) s,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |kf AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) k FROM cell),
        |cm AS (SELECT b, t, CAST(s AS DOUBLE) / c m FROM cell),
        |kept AS (SELECT * FROM cm WHERE b IN
        |  (SELECT b FROM cm GROUP BY b
        |   HAVING COUNT(*) = (SELECT k FROM kf))),
        |byv AS (SELECT b, m, CAST(COUNT(*) AS BIGINT) cv FROM kept
        |  GROUP BY 1, 2),
        |rk AS (SELECT b, m, CAST(2 * COALESCE(SUM(cv) OVER (
        |    PARTITION BY b ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cv + 1 AS BIGINT) dr FROM byv),
        |tt AS (SELECT COALESCE(CAST(SUM(
        |    CAST(cv AS HUGEINT) * cv * cv - cv) AS HUGEINT), 0) tt
        |  FROM byv),
        |bf AS (SELECT CAST(COUNT(DISTINCT b) AS HUGEINT) bn FROM kept),
        |r2 AS (SELECT kept.t, CAST(SUM(rk.dr) AS HUGEINT) r2
        |  FROM kept JOIN rk ON kept.b = rk.b AND kept.m = rk.m
        |  GROUP BY kept.t),
        |s2 AS (SELECT COALESCE(CAST(SUM((r2 - bn * (k + 1))
        |      * (r2 - bn * (k + 1))) AS HUGEINT), 0) s2
        |  FROM r2 CROSS JOIN bf CROSS JOIN kf)
        |SELECT CAST(bn AS BIGINT) n_raters, CAST(k AS INT) k,
        |  CASE WHEN bn * bn * k * (k * k - 1) - bn * tt <= 0 THEN NULL
        |    ELSE CAST(3 * s2 AS DOUBLE)
        |      / CAST(bn * bn * k * (k * k - 1) - bn * tt AS DOUBLE) END w
        |FROM s2 CROSS JOIN bf CROSS JOIN kf CROSS JOIN tt""".stripMargin) {
      (s, d) =>
        Stats.kendallW(Tables.events(s, d), "user_id", "event_type",
          floor(col("value") * 100).cast("long"))
    },

    // Goodman–Kruskal gamma + Somers' D (Stats.gammaSomersD): the
    // directional ordinal-association pair off q277's quantized cell
    // machinery — gamma ignores ties, d_yx penalizes dependent-axis
    // ties (quantity → discount and the reverse).
    dfQ("q311_gamma_somers",
      """WITH cells AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) x,
        |    CAST(FLOOR(l_discount * 100) AS BIGINT) y,
        |    CAST(COUNT(*) AS BIGINT) c FROM lineitem GROUP BY 1, 2),
        |ps AS (SELECT
        |    COALESCE(SUM(CASE WHEN a.x < b.x AND a.y < b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0) cc,
        |    COALESCE(SUM(CASE WHEN a.x < b.x AND a.y > b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0) dd
        |  FROM cells a CROSS JOIN cells b),
        |mg AS (SELECT CAST(SUM(c) AS HUGEINT) n FROM cells),
        |tx AS (SELECT CAST(SUM(CAST(nx AS HUGEINT) * (nx - 1))
        |    AS HUGEINT) n1x FROM
        |  (SELECT x, CAST(SUM(c) AS BIGINT) nx FROM cells GROUP BY x) q),
        |ty AS (SELECT CAST(SUM(CAST(ny AS HUGEINT) * (ny - 1))
        |    AS HUGEINT) n1y FROM
        |  (SELECT y, CAST(SUM(c) AS BIGINT) ny FROM cells GROUP BY y) q)
        |SELECT CAST(n AS BIGINT) n, CAST(cc AS BIGINT) concordant,
        |  CAST(dd AS BIGINT) discordant,
        |  CASE WHEN cc + dd = 0 THEN NULL
        |    ELSE CAST(cc - dd AS DOUBLE) / CAST(cc + dd AS DOUBLE)
        |  END gamma,
        |  CASE WHEN n * (n - 1) - n1x = 0 THEN NULL
        |    ELSE CAST(2 * (cc - dd) AS DOUBLE)
        |      / CAST(n * (n - 1) - n1x AS DOUBLE) END d_yx,
        |  CASE WHEN n * (n - 1) - n1y = 0 THEN NULL
        |    ELSE CAST(2 * (cc - dd) AS DOUBLE)
        |      / CAST(n * (n - 1) - n1y AS DOUBLE) END d_xy
        |FROM ps CROSS JOIN mg CROSS JOIN tx CROSS JOIN ty""".stripMargin) {
      (s, d) =>
        Stats.gammaSomersD(Tables.table(s, d, "lineitem"),
          floor(col("l_quantity")).cast("long"),
          floor(col("l_discount") * 100).cast("long"))
    },

    // Winsorized mean (Stats.winsorizedMean): q243's trimmed mean with
    // the tails CLAMPED instead of dropped — n stays constant; the
    // winsorized sum is an exact integer divided once.
    dfQ("q312_winsorized_mean",
      """WITH d AS (SELECT l_returnflag g,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) x
        |  FROM lineitem),
        |dv AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) c FROM d
        |  GROUP BY 1, 2),
        |pref AS (SELECT g, x, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) upto,
        |    SUM(c) OVER (PARTITION BY g) n FROM dv),
        |wc AS (SELECT g, x, c, upto, n,
        |    CAST(FLOOR(n * 0.1) AS BIGINT) cut FROM pref),
        |mids AS (SELECT g, MAX(n) n,
        |    COALESCE(SUM(CASE WHEN LEAST(upto, n - cut)
        |        - GREATEST(upto - c, cut) > 0
        |      THEN CAST(x AS HUGEINT) * (LEAST(upto, n - cut)
        |        - GREATEST(upto - c, cut)) ELSE 0 END), 0) msum,
        |    MIN(CASE WHEN upto >= cut + 1 THEN x END) lo,
        |    MIN(CASE WHEN upto >= n - cut THEN x END) hi
        |  FROM wc GROUP BY g)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) n,
        |  CAST(msum + CAST(FLOOR(n * 0.1) AS BIGINT)
        |      * (CAST(lo AS HUGEINT) + hi) AS DOUBLE)
        |    / CAST(n AS DOUBLE) winsorized_mean
        |FROM mids ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Stats.winsorizedMean(Tables.table(s, d, "lineitem"),
          "l_returnflag", floor(col("l_extendedprice") * 100), 0.1)
        .orderBy("l_returnflag")
    },

    // Jarque–Bera normality (Stats.jarqueBera): skewness, kurtosis and
    // the JB score from four exact power sums — the shape check behind
    // every parametric assumption. Coarse units keep n³·Σx⁴ inside
    // DECIMAL(38) (the operator's magnitude contract).
    dfQ("q313_jarque_bera",
      """WITH d AS (SELECT CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) x
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) s1,
        |    SUM(CAST(x AS HUGEINT) * x) s2,
        |    SUM(CAST(x AS HUGEINT) * x * x) s3,
        |    SUM(CAST(x AS HUGEINT) * x * x * x) s4 FROM d),
        |c AS (SELECT n, n * s2 - s1 * s1 m2,
        |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 m3,
        |    n * n * n * s4 - 4 * n * n * s1 * s3
        |      + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 m4 FROM m),
        |g AS (SELECT n, m2,
        |    CAST(m3 AS DOUBLE)
        |      / (SQRT(CAST(m2 AS DOUBLE)) * CAST(m2 AS DOUBLE)) g1,
        |    CAST(m4 AS DOUBLE)
        |      / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) b2 FROM c)
        |SELECT CAST(n AS BIGINT) n,
        |  CASE WHEN n < 2 OR m2 <= 0 THEN NULL ELSE g1 END skewness,
        |  CASE WHEN n < 2 OR m2 <= 0 THEN NULL ELSE b2 END kurtosis,
        |  CASE WHEN n < 2 OR m2 <= 0 THEN NULL
        |    ELSE CAST(n AS DOUBLE) * (g1 * g1 / 6e0
        |      + (b2 - 3e0) * (b2 - 3e0) / 24e0) END jb
        |FROM g""".stripMargin) { (s, d) =>
      Stats.jarqueBera(Tables.table(s, d, "lineitem"),
        floor(col("l_extendedprice") / 1000).cast("long"))
    },

    // Durbin–Watson (Stats.durbinWatson): first-order serial
    // correlation of the order-revenue sequence in (date, orderkey)
    // order — exact integer numerator/denominator, the runsTest
    // partition-stitch instead of a one-task global lag window.
    dfQ("q314_durbin_watson",
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) t, o_orderkey id,
        |    CAST(FLOOR(o_totalprice / 100) AS BIGINT) x FROM orders),
        |l AS (SELECT x, LAG(x) OVER (ORDER BY t, id) p FROM d),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) s1, SUM(CAST(x AS HUGEINT) * x) s2,
        |    COALESCE(SUM(CASE WHEN p IS NOT NULL
        |      THEN CAST(x - p AS HUGEINT) * (x - p) ELSE 0 END), 0) d2
        |  FROM l)
        |SELECT CAST(n AS BIGINT) n,
        |  CASE WHEN n < 2 OR n * s2 - s1 * s1 <= 0 THEN NULL
        |    ELSE CAST(n * d2 AS DOUBLE)
        |      / CAST(n * s2 - s1 * s1 AS DOUBLE) END dw
        |FROM m""".stripMargin) { (s, d) =>
      Stats.durbinWatson(Tables.table(s, d, "orders")
          .select(col("o_orderdate").cast("date").as("t"),
            col("o_orderkey").as("id"), col("o_totalprice")),
        "t", "id", floor(col("o_totalprice") / 100))
    },

    // Ljung–Box portmanteau (Stats.ljungBox): are the first 3
    // autocorrelations of each event type's series jointly zero — the
    // one-number white-noise verdict composing q195's exact-rational
    // acf; the 3 terms fold in fixed ascending-lag order.
    dfQ("q315_ljung_box",
      """WITH t AS (SELECT event_type, ts, event_id,
        |    CAST(FLOOR(value * 64) AS BIGINT) x FROM events),
        |l AS (SELECT event_type, x,
        |    LEAD(x, 1) OVER w l1, LEAD(x, 2) OVER w l2,
        |    LEAD(x, 3) OVER w l3,
        |    LAG(x, 1) OVER w g1, LAG(x, 2) OVER w g2,
        |    LAG(x, 3) OVER w g3
        |  FROM t WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts, event_id)),
        |g AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) m, SUM(CAST(x * x AS HUGEINT)) sxx,
        |    SUM(CAST(x * l1 AS HUGEINT)) c1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(x AS HUGEINT) END) a1,
        |    SUM(CASE WHEN g1 IS NOT NULL THEN CAST(x AS HUGEINT) END) b1,
        |    SUM(CAST(x * l2 AS HUGEINT)) c2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(x AS HUGEINT) END) a2,
        |    SUM(CASE WHEN g2 IS NOT NULL THEN CAST(x AS HUGEINT) END) b2,
        |    SUM(CAST(x * l3 AS HUGEINT)) c3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(x AS HUGEINT) END) a3,
        |    SUM(CASE WHEN g3 IS NOT NULL THEN CAST(x AS HUGEINT) END) b3
        |  FROM l GROUP BY event_type),
        |r AS (SELECT event_type, n,
        |  CASE WHEN n <= 1 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c1 - n * m * (a1 + b1) + (n - 1) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r1,
        |  CASE WHEN n <= 2 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c2 - n * m * (a2 + b2) + (n - 2) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r2,
        |  CASE WHEN n <= 3 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c3 - n * m * (a3 + b3) + (n - 3) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r3
        |  FROM g)
        |SELECT event_type, CAST(n AS BIGINT) n, 3 AS lags,
        |  CASE WHEN n <= 3 OR r1 IS NULL OR r2 IS NULL OR r3 IS NULL
        |    THEN NULL
        |    ELSE CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2e0)
        |      * (0e0 + r1 * r1 / (CAST(n AS DOUBLE) - 1)
        |        + r2 * r2 / (CAST(n AS DOUBLE) - 2)
        |        + r3 * r3 / (CAST(n AS DOUBLE) - 3)) END q
        |FROM r ORDER BY event_type""".stripMargin) { (s, d) =>
      Stats.ljungBox(Tables.events(s, d), "event_type", "ts",
          floor(col("value") * 64).cast("long"), maxLag = 3,
          tieCol = "event_id")
        .orderBy("event_type")
    },

    // Lin's concordance correlation (Stats.linCcc): AGREEMENT between
    // discounted and list line revenue — Pearson can't see the scale
    // bias a systematic discount introduces, CCC prices it. One
    // division of exact integer moment combinations.
    dfQ("q316_lin_ccc",
      """WITH d AS (SELECT
        |    CAST(FLOOR(l_extendedprice * (1e0 - l_discount)) AS BIGINT) x,
        |    CAST(FLOOR(l_extendedprice) AS BIGINT) y FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) sx, SUM(CAST(y AS HUGEINT)) sy,
        |    SUM(CAST(x AS HUGEINT) * x) sxx,
        |    SUM(CAST(y AS HUGEINT) * y) syy,
        |    SUM(CAST(x AS HUGEINT) * y) sxy FROM d)
        |SELECT CAST(n AS BIGINT) n,
        |  CASE WHEN (n * sxx - sx * sx) + (n * syy - sy * sy)
        |      + (sx - sy) * (sx - sy) = 0 THEN NULL
        |    ELSE CAST(2 * (n * sxy - sx * sy) AS DOUBLE)
        |      / CAST((n * sxx - sx * sx) + (n * syy - sy * sy)
        |        + (sx - sy) * (sx - sy) AS DOUBLE) END ccc
        |FROM m""".stripMargin) { (s, d) =>
      Stats.linCcc(Tables.table(s, d, "lineitem"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        floor(col("l_extendedprice")))
    },

    // Adamic–Adar link prediction (Components.adamicAdar): score the
    // 2-hop pairs of the co-order part graph by inverse-log-degree
    // common-neighbor mass — which parts "should" co-occur next. The
    // hub guard (maxDegree) bounds the wedge volume; lnq-grid terms
    // fold per pair in sorted center order.
    dfQ("q317_adamic_adar",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey p
        |  FROM lineitem WHERE l_orderkey < 3000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d FROM (
        |    SELECT u n FROM e UNION ALL SELECT v FROM e) x
        |  GROUP BY n HAVING COUNT(*) <= 256),
        |adj AS (SELECT u, v FROM e UNION ALL SELECT v u, u v FROM e),
        |ad AS (SELECT adj.u, adj.v, deg.d FROM adj
        |  JOIN deg ON adj.u = deg.n),
        |w AS (SELECT x.v a, y.v b, x.u c,
        |    1e0 / (FLOOR(LN(x.d) * 67108864.0) / 67108864.0) t
        |  FROM ad x JOIN ad y ON x.u = y.u AND x.v < y.v),
        |sc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) common_neighbors,
        |    0e0 + LIST_REDUCE(LIST(t ORDER BY c), (p, q) -> p + q)
        |      aa_score
        |  FROM w GROUP BY a, b)
        |SELECT sc.a, sc.b, common_neighbors, aa_score,
        |  COALESCE(e2.l, FALSE) linked
        |FROM sc LEFT JOIN (SELECT u a, v b, TRUE l FROM e) e2
        |  USING (a, b)
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 3000)
        .select(col("l_orderkey"), col("l_partkey").as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      Components.adamicAdar(e, "pa", "pb", maxDegree = 256)
        .orderBy("a", "b")
    },

    // Moran's I + Geary's C (Components.moranGeary): is a numeric node
    // attribute AUTOCORRELATED over the co-order part graph — the
    // numeric companion of q308's categorical assortativity; both
    // statistics are one division of exact scaled-deviation integers.
    dfQ("q318_moran_geary",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 300 p
        |  FROM lineitem WHERE l_orderkey < 2000),
        |e AS (SELECT DISTINCT a.p u, b.p v FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |lab AS (SELECT DISTINCT n, n % 17 x FROM
        |  (SELECT u n FROM e UNION ALL SELECT v FROM e) z),
        |mir AS (SELECT u, v FROM e UNION ALL SELECT v u, u v FROM e),
        |tg AS (SELECT mir.u, la.x xa, lb.x xb FROM mir
        |  JOIN lab la ON mir.u = la.n JOIN lab lb ON mir.v = lb.n),
        |nodes AS (SELECT DISTINCT u n, xa x FROM tg),
        |nm AS (SELECT CAST(COUNT(*) AS HUGEINT) nn,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) s,
        |    SUM(CAST(x AS HUGEINT) * x) sxx FROM nodes),
        |em AS (SELECT CAST(COUNT(*) AS HUGEINT) w,
        |    SUM(CAST(xa AS HUGEINT) * xb) sab,
        |    CAST(SUM(CAST(xa AS HUGEINT)) AS HUGEINT) sa,
        |    CAST(SUM(CAST(xb AS HUGEINT)) AS HUGEINT) sb,
        |    COALESCE(SUM(CAST(xa - xb AS HUGEINT) * (xa - xb)), 0) sd2
        |  FROM tg)
        |SELECT CAST(nn AS BIGINT) n_nodes, CAST(w AS BIGINT) m_directed,
        |  CASE WHEN nn * nn * sxx - nn * s * s <= 0 OR w = 0 THEN NULL
        |    ELSE CAST(nn * (nn * nn * sab - nn * s * (sa + sb)
        |        + w * s * s) AS DOUBLE)
        |      / CAST(w * (nn * nn * sxx - nn * s * s) AS DOUBLE)
        |  END moran_i,
        |  CASE WHEN nn * nn * sxx - nn * s * s <= 0 OR w = 0 THEN NULL
        |    ELSE CAST((nn - 1) * nn * nn * sd2 AS DOUBLE)
        |      / CAST(2 * w * (nn * nn * sxx - nn * s * s) AS DOUBLE)
        |  END geary_c
        |FROM em CROSS JOIN nm""".stripMargin) { (s, d) =>
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), (col("l_partkey") % 300).as("p"))
        .distinct()
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.p") < col("y.p"))
        .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      val labels = e.select(explode(array(col("pa"), col("pb"))).as("n"))
        .distinct()
        .select(col("n"), (col("n") % 17).as("attr"))
      Components.moranGeary(e, "pa", "pb", labels, "n", "attr")
    },

    // Intraclass correlation ICC(1) (Stats.icc1): how much of an
    // event's value variance is the USER rather than the draw — the
    // one-way random-effects reliability off q281's ANOVA machinery,
    // with the unbalanced-panel k0 correction.
    dfQ("q319_icc",
      """WITH d AS (SELECT user_id g,
        |    CAST(FLOOR(value * 100) AS BIGINT) x FROM events),
        |cl AS (SELECT g, CAST(COUNT(*) AS BIGINT) n,
        |    SUM(CAST(x AS HUGEINT)) s, SUM(CAST(x AS HUGEINT) * x) ss
        |  FROM d GROUP BY g),
        |bn AS (SELECT n, SUM(s * s) s2 FROM cl GROUP BY n),
        |b AS (SELECT 0e0 + LIST_REDUCE(LIST(CAST(s2 AS DOUBLE) / n
        |    ORDER BY n), (a, e) -> a + e) bsum FROM bn),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) gk,
        |    CAST(SUM(n) AS BIGINT) n, SUM(s) ts, SUM(ss) tss,
        |    SUM(CAST(n AS HUGEINT) * n) n2, bsum
        |  FROM cl CROSS JOIN b GROUP BY bsum),
        |e AS (SELECT gk, n,
        |    bsum - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
        |      / CAST(n AS DOUBLE) ssb,
        |    CAST(tss AS DOUBLE) - bsum ssw,
        |    (CAST(n AS DOUBLE) - CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(gk AS DOUBLE) - 1e0) k0
        |  FROM t)
        |SELECT gk AS n_targets, n,
        |  CASE WHEN gk < 2 OR n <= gk
        |      OR ssb / (CAST(gk AS DOUBLE) - 1e0)
        |        + (k0 - 1e0) * (ssw / (CAST(n AS DOUBLE)
        |          - CAST(gk AS DOUBLE))) <= 0 THEN NULL
        |    ELSE (ssb / (CAST(gk AS DOUBLE) - 1e0)
        |        - ssw / (CAST(n AS DOUBLE) - CAST(gk AS DOUBLE)))
        |      / (ssb / (CAST(gk AS DOUBLE) - 1e0)
        |        + (k0 - 1e0) * (ssw / (CAST(n AS DOUBLE)
        |          - CAST(gk AS DOUBLE)))) END icc1
        |FROM e""".stripMargin) { (s, d) =>
      Stats.icc1(Tables.events(s, d), "user_id",
        floor(col("value") * 100).cast("long"))
    },

    // Partial autocorrelation at lags 1-3 (Stats.pacf3): which lag
    // carries each event type's serial dependence — Durbin-Levinson
    // unrolled over q195's exact-rational acf; every phi is a fixed
    // double tree.
    dfQ("q320_pacf",
      """WITH t AS (SELECT event_type, ts, event_id,
        |    CAST(FLOOR(value * 64) AS BIGINT) x FROM events),
        |l AS (SELECT event_type, x,
        |    LEAD(x, 1) OVER w l1, LEAD(x, 2) OVER w l2,
        |    LEAD(x, 3) OVER w l3,
        |    LAG(x, 1) OVER w g1, LAG(x, 2) OVER w g2,
        |    LAG(x, 3) OVER w g3
        |  FROM t WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts, event_id)),
        |g AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) n,
        |    SUM(CAST(x AS HUGEINT)) m, SUM(CAST(x * x AS HUGEINT)) sxx,
        |    SUM(CAST(x * l1 AS HUGEINT)) c1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(x AS HUGEINT) END) a1,
        |    SUM(CASE WHEN g1 IS NOT NULL THEN CAST(x AS HUGEINT) END) b1,
        |    SUM(CAST(x * l2 AS HUGEINT)) c2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(x AS HUGEINT) END) a2,
        |    SUM(CASE WHEN g2 IS NOT NULL THEN CAST(x AS HUGEINT) END) b2,
        |    SUM(CAST(x * l3 AS HUGEINT)) c3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(x AS HUGEINT) END) a3,
        |    SUM(CASE WHEN g3 IS NOT NULL THEN CAST(x AS HUGEINT) END) b3
        |  FROM l GROUP BY event_type),
        |r AS (SELECT event_type, n,
        |  CASE WHEN n <= 1 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c1 - n * m * (a1 + b1) + (n - 1) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r1,
        |  CASE WHEN n <= 2 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c2 - n * m * (a2 + b2) + (n - 2) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r2,
        |  CASE WHEN n <= 3 OR n * n * sxx - n * m * m = 0 THEN NULL ELSE
        |    CAST(n * n * c3 - n * m * (a3 + b3) + (n - 3) * m * m AS DOUBLE)
        |      / CAST(n * n * sxx - n * m * m AS DOUBLE) END r3
        |  FROM g)
        |SELECT event_type, CAST(n AS BIGINT) n, r1 AS pacf1,
        |  CASE WHEN r1 IS NULL OR r2 IS NULL
        |      OR 1e0 - r1 * r1 = 0 THEN NULL
        |    ELSE (r2 - r1 * r1) / (1e0 - r1 * r1) END pacf2,
        |  CASE WHEN r1 IS NULL OR r2 IS NULL OR r3 IS NULL
        |      OR 1e0 - r1 * r1 = 0
        |      OR 1e0 - (r1 * (1e0 - (r2 - r1 * r1) / (1e0 - r1 * r1)))
        |        * r1 - ((r2 - r1 * r1) / (1e0 - r1 * r1)) * r2 = 0
        |    THEN NULL
        |    ELSE (r3 - (r1 * (1e0 - (r2 - r1 * r1) / (1e0 - r1 * r1)))
        |        * r2 - ((r2 - r1 * r1) / (1e0 - r1 * r1)) * r1)
        |      / (1e0 - (r1 * (1e0 - (r2 - r1 * r1) / (1e0 - r1 * r1)))
        |        * r1 - ((r2 - r1 * r1) / (1e0 - r1 * r1)) * r2)
        |  END pacf3
        |FROM r ORDER BY event_type""".stripMargin) { (s, d) =>
      Stats.pacf3(Tables.events(s, d), "event_type", "ts",
          floor(col("value") * 64).cast("long"), tieCol = "event_id")
        .orderBy("event_type")
    },

    // RAKE keyword extraction (TextAnalysis.rakeKeywords): corpus-level
    // keyphrases from stopword-delimited candidate runs — deg/freq word
    // ratios, positional in-row phrase fold, deterministic top-20.
    dfQ("q321_rake_keywords",
      """WITH ph0 AS (SELECT UNNEST(STRING_SPLIT(REGEXP_REPLACE(text,
        |    '\b(the|a|is|of|to|and|in|on)\b', '|', 'g'), '|')) p0
        |  FROM documents),
        |ph1 AS (SELECT REGEXP_REPLACE(TRIM(p0), ' +', ' ', 'g') p
        |  FROM ph0),
        |ph AS (SELECT p, STRING_SPLIT(p, ' ') ws FROM ph1
        |  WHERE p <> '' AND LEN(STRING_SPLIT(p, ' ')) <= 4),
        |wx AS (SELECT UNNEST(ws) w, CAST(LEN(ws) AS BIGINT) l FROM ph),
        |wstats AS (SELECT w, CAST(COUNT(*) AS BIGINT) freq,
        |    CAST(SUM(l) AS BIGINT) deg FROM wx GROUP BY w),
        |occ AS (SELECT p, CAST(COUNT(*) AS BIGINT) n_occ FROM ph
        |  GROUP BY p),
        |wp AS (SELECT o.p, o.n_occ, u.i,
        |    STRING_SPLIT(o.p, ' ')[u.i] w FROM occ o
        |  CROSS JOIN UNNEST(RANGE(1,
        |    LEN(STRING_SPLIT(o.p, ' ')) + 1)) u(i)),
        |jt AS (SELECT wp.p, wp.n_occ, wp.i,
        |    CAST(ws.deg AS DOUBLE) / ws.freq r
        |  FROM wp JOIN wstats ws ON wp.w = ws.w),
        |sc AS (SELECT p, n_occ,
        |    0e0 + LIST_REDUCE(LIST(r ORDER BY i), (x, y) -> x + y) score
        |  FROM jt GROUP BY p, n_occ)
        |SELECT p AS phrase, n_occ, score FROM sc
        |ORDER BY score DESC, phrase LIMIT 20""".stripMargin) { (s, d) =>
      graft.ops.TextAnalysis.rakeKeywords(
        Tables.table(s, d, "documents"), "text",
        stopwords = Seq("the", "a", "is", "of", "to", "and", "in", "on"))
    },

    // Restricted mean survival time (Survival.rmst): the area under
    // q193's churn KM curve up to 30 days — "days of activity banked
    // in the first month", the censoring-proof one-number summary.
    dfQ("q322_rmst",
      """WITH lt AS (
        |  SELECT user_id,
        |    (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 86400000000 t_dur,
        |    MAX(EPOCH_US(ts)) last_us
        |  FROM events GROUP BY user_id),
        |ce AS (SELECT MAX(EPOCH_US(ts)) end_us FROM events),
        |subj AS (
        |  SELECT t_dur, last_us <= end_us - 43200000000 obs
        |  FROM lt CROSS JOIN ce),
        |ag AS (
        |  SELECT t_dur t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) c
        |  FROM subj GROUP BY 1),
        |r AS (SELECT t, d,
        |        CAST(SUM(d + c) OVER (ORDER BY t DESC
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) n_risk
        |      FROM ag),
        |e AS (SELECT t, d, n_risk FROM r WHERE d > 0),
        |arr AS (SELECT
        |    LIST(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |         ORDER BY t) fs,
        |    LIST(t ORDER BY t) ts
        |  FROM e),
        |x AS (SELECT fs, UNNEST(ts) t,
        |        UNNEST(GENERATE_SERIES(1, LEN(ts))) i
        |      FROM arr),
        |km AS (SELECT t, LIST_REDUCE(fs[1:i], (a, b) -> a * b) survival
        |  FROM x),
        |st AS (SELECT t, survival, LEAD(t) OVER (ORDER BY t) nt FROM km),
        |ct AS (SELECT t, survival
        |    * (LEAST(COALESCE(CAST(nt AS DOUBLE), 3e1), 3e1)
        |      - LEAST(CAST(t AS DOUBLE), 3e1)) c2 FROM st),
        |f AS (SELECT MIN(t) t1,
        |    0e0 + LIST_REDUCE(LIST(c2 ORDER BY t), (a, b) -> a + b) area
        |  FROM ct)
        |SELECT 3e1 tau, LEAST(CAST(t1 AS DOUBLE), 3e1) + area rmst
        |FROM f""".stripMargin) { (s, d) =>
      Survival.rmst(
        Survival.userLifetimes(Tables.events(s, d), "user_id", "ts",
          quietUs = 43200000000L),
        "duration_days", "observed", Seq.empty, tau = 30.0)
    },

    // Brier score (Stats.brierScore): does a normalized event value
    // "predict" purchases — the proper scoring rule next to q230's
    // calibration bins; dyadic score lattice, sorted cell fold, skill
    // vs the base rate.
    dfQ("q323_brier",
      """WITH cells AS (SELECT
        |    CAST(FLOOR(value / 5e2 * 4096) AS BIGINT) q,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT CAST(SUM(c) AS HUGEINT) n,
        |    CAST(SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS HUGEINT) n1,
        |    CAST(COUNT(*) AS BIGINT) n_cells,
        |    0e0 + LIST_REDUCE(LIST(
        |      CAST(c AS DOUBLE) * (CAST(q AS DOUBLE) / 4096 - y)
        |        * (CAST(q AS DOUBLE) / 4096 - y) ORDER BY q, y),
        |      (a, b) -> a + b) bsum
        |  FROM cells)
        |SELECT CAST(n AS BIGINT) n, n_cells,
        |  CASE WHEN n = 0 THEN NULL
        |    ELSE bsum / CAST(n AS DOUBLE) END brier,
        |  CASE WHEN n = 0 OR n1 = 0 OR n1 = n THEN NULL
        |    ELSE 1e0 - (bsum / CAST(n AS DOUBLE))
        |      / (CAST(n1 * (n - n1) AS DOUBLE)
        |        / CAST(n * n AS DOUBLE)) END brier_skill
        |FROM m""".stripMargin) { (s, d) =>
      Stats.brierScore(Tables.events(s, d),
        col("value") / lit(5e2), col("event_type") === "purchase")
    }
  )
}
