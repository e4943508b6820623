package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted-index construction — the classic distributed-text workload
  * (term → sorted posting list), and the substrate for the contamination
  * / n-gram-overlap checks elsewhere in the layer: a standing index lets
  * a benchmark-overlap query probe terms instead of rescanning the
  * corpus.
  *
  * Scale shape: explode to (term, doc) pairs, one distinct (shuffle on
  * the pair), one groupBy term (shuffle on term) whose aggregation
  * builds the posting list. Posting lists are per-term — the classic
  * skew risk is stopword terms with corpus-sized lists, which is why
  * `minDf`/`maxDfShare` exist: production indexes drop or truncate the
  * head terms (a maxDfShare of 0.5 halves the worst list at any corpus
  * size).
  */
object Indexing {

  /** One row per term: (term, df, postings) with postings ascending.
    * Tokenization is the engine-wide lower + single-space split; terms
    * in fewer than `minDf` or more than `maxDfShare`·N docs are dropped
    * (the latter computed against the distinct document count, one tiny
    * extra aggregate).
    *
    * Scale contract (r11): when the HIGH-df gate is active
    * (maxDfShare < 1), terms are filtered BY A SEPARATE df PASS before
    * the postings are collected — the postings array is a single
    * aggregation buffer of df doc-ids, so building a stopword's
    * postings and THEN dropping them would materialize ~N ids (8 GB
    * for "the" on a 10⁹-doc corpus) in one buffer regardless of the
    * cap; with the prefilter, maxDfShare·N bounds every buffer BY
    * CONSTRUCTION (the two-pass path cuts the shared tokenize+distinct
    * with cache(), the pmiCollocations discipline). minDf ALONE keeps
    * the cheaper one-pass shape: a post-aggregation minDf filter only
    * drops SMALL arrays, and an uncapped index keeps its stopword
    * postings in the OUTPUT anyway — there is no build-then-drop
    * waste to avoid. Callers indexing raw web text must set
    * maxDfShare. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L, maxDfShare: Double = 1.0): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxDfShare > 0.0 && maxDfShare <= 1.0,
      s"maxDfShare must be in (0, 1], got $maxDfShare")
    val pairs = docs
      .select(col(idCol).as("doc"),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    val nDocs = docs.agg(countDistinct(col(idCol)).as("__n"))
    if (maxDfShare == 1.0) {
      // no high-df gate: one-pass shape; minDf post-filters (drops only
      // small arrays — no buffer hazard)
      val idx = pairs
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(col("doc"))).as("postings"))
      if (minDf == 1L) idx else idx.filter(col("df") >= minDf)
    } else {
      val p = Cut.rows(pairs)
      val kept = p.groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") >= minDf &&
          col("df") <= lit(maxDfShare) * col("__n"))
        .select("term", "df")
      p.join(kept, Seq("term"))
        .groupBy("term")
        .agg(max(col("df")).as("df"),
          sort_array(collect_list(col("doc"))).as("postings"))
    }
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene idf form
    * ln(1 + (N − df + ½)/(df + ½))) for a literal term query over the
    * corpus — the classic "find training docs about X" probe, and the
    * scoring layer on top of [[invertedIndex]]'s posting lists.
    *
    * Scale shape: one token explode; per-doc lengths and the corpus
    * (Σdl, N) stats are one aggregation each; the query-term postings
    * (tf) shuffle on (doc, term) but are pre-filtered to the query's
    * terms, so downstream joins against the per-term df (≤ |terms| rows)
    * and the stats row are broadcasts. No driver-side state beyond the
    * literal term list.
    *
    * Determinism: the per-doc score is a SUM of per-term doubles, and
    * IEEE addition is order-dependent — a plain aggregation would be
    * partitioning-dependent in final ulps. The per-term scores are
    * folded in SORTED term order (collect_list → array_sort →
    * aggregate), so the float result is bit-identical on any
    * partitioning and any engine that replays the same fold order —
    * which is what makes BM25 oracle-able cross-engine. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val toks = docs.select(col(idCol).as("doc"),
      explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy("doc").agg(count(lit(1)).as("dl")).transform(Cut.rows)
    // exact integer corpus totals; ONE division to a double at use site
    val stats = dl.agg(sum("dl").as("tot"), count(lit(1)).as("nd"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(countDistinct("doc").as("dfq"))
    val scored = tf
      .join(broadcast(dfq), "term")
      .join(dl, "doc")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot").cast("double") / col("nd"))
      .withColumn("idf",
        // quantized ln (q201 finding): idf feeds the hash-checked score
        Exact.lnq(lit(1.0) + (col("nd") - col("dfq") + lit(0.5)) /
          (col("dfq") + lit(0.5))))
      .withColumn("s",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy("doc").agg(
      count(lit(1)).as("n_terms"),
      aggregate(array_sort(collect_list(struct(col("term"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
  }

  /** Reciprocal rank fusion (Cormack et al., SIGIR'09) — the standard
    * way to combine heterogeneous retrieval systems (BM25 + dense ANN +
    * recency, …) without score calibration: fused(q, d) =
    * Σ_systems 1/(kConst + rank_s(q, d)), summing only over systems
    * that ranked d. Rank-based, so wildly different score scales fuse
    * sanely; kConst (60 in the paper) damps the head.
    *
    * Input: one row per (query, doc, system, rank) — the caller
    * produces each system's ranking (use row_number with a doc-id
    * tiebreak so ranks are total). One grouped collect per (q, d) and
    * one ranking window per query — both shuffle on the query key; no
    * all-systems join chain. Each 1/(k+rank) term is a single IEEE
    * division; terms fold in SORTED system order (the bm25/q159
    * ordered-fold discipline), so the double — and the fused ranking,
    * tie-broken by doc — replays bit-for-bit cross-engine. */
  /** Retrieval-quality evaluation — MRR, recall@k and nDCG@k per
    * query from a ranked results table and graded relevance judgments
    * (qrels): the readout that closes the loop on [[bm25]]/[[rrfFuse]]
    * and any ANN retriever. One left join of results to qrels on
    * (query, doc) — rank-k result lists are tiny per query, so the
    * whole evaluation is one shuffle on the query key plus one grouped
    * fold; qrel totals ride a second small grouped count.
    *
    * Determinism: ranks and relevance grades are integral; RR is ONE
    * division by the first relevant rank; DCG folds gain/log₂(r+1)
    * in rank order with the log through [[graft.ops.Exact.lnq]] (both
    * engines' raw logs are 1-ulp loose) — log₂(x) = lnq(x)/lnq(2),
    * two quantized terms and ONE division per rank; IDCG replays the
    * same fold over the ideal ordering (grades descending). nDCG is
    * NULL for a query with no relevant docs (0/0 — report it, don't
    * fake a zero). */
  def retrievalEval(results: DataFrame, qrels: DataFrame,
      queryCol: String, docCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val res = results.select(col(queryCol).as("q"), col(docCol).as("d"),
        col(rankCol).cast("long").as("r"))
      .filter(col("r") <= k)
    val rel = qrels.select(col(queryCol).as("q"), col(docCol).as("d"),
      col(relCol).cast("long").as("rel"))
    val log2 = (x: org.apache.spark.sql.Column) =>
      Exact.lnq(x) / Exact.lnq(lit(2.0))
    val joined = res.join(rel, Seq("q", "d"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val perQ = joined.groupBy("q").agg(
      count(lit(1)).cast("long").as("n_results"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).cast("long")
        .as("n_rel_at_k"),
      min(when(col("rel") > 0, col("r"))).as("first_rel_rank"),
      aggregate(
        array_sort(collect_list(struct(col("r"),
          (col("rel").cast("double") /
            log2(col("r").cast("double") + lit(1.0))).as("__g")))),
        lit(0.0), (acc, e) => acc + e.getField("__g")).as("dcg"))
    // ideal DCG: the query's qrel grades sorted descending fill ranks
    // 1..min(k, n_rel) — computed from the qrels side so a retriever
    // that misses every relevant doc still gets the right denominator
    val wRel = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("rel").desc, col("d"))
    val ideal = rel.filter(col("rel") > 0)
      .withColumn("__ir", row_number().over(wRel).cast("long"))
      .groupBy("q").agg(
        count(lit(1)).cast("long").as("n_rel_total"),
        aggregate(
          array_sort(collect_list(struct(col("__ir"),
            when(col("__ir") <= k,
              col("rel").cast("double") /
                log2(col("__ir").cast("double") + lit(1.0)))
              .otherwise(lit(0.0)).as("__g")))),
          lit(0.0), (acc, e) => acc + e.getField("__g")).as("idcg"))
    perQ.join(ideal, Seq("q"), "left")
      .select(col("q"), col("n_results"),
        coalesce(col("n_rel_total"), lit(0L)).as("n_rel_total"),
        col("n_rel_at_k"), col("first_rel_rank"),
        when(col("first_rel_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_rel_rank")).as("rr"),
        when(coalesce(col("n_rel_total"), lit(0L)) === 0, lit(null))
          .otherwise(col("n_rel_at_k").cast("double") /
            col("n_rel_total")).as("recall_at_k"),
        col("dcg"),
        when(coalesce(col("idcg"), lit(0.0)) <= 0.0, lit(null))
          .otherwise(col("dcg") / col("idcg")).as("ndcg_at_k"))
  }

  def rrfFuse(rankings: DataFrame, queryCol: String, docCol: String,
              systemCol: String, rankCol: String, kConst: Int = 60,
              topK: Int = 10): DataFrame = {
    require(kConst >= 1, s"kConst must be >= 1, got $kConst")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val term = lit(1.0) / (lit(kConst) + col(rankCol))
    val fused = rankings
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(systemCol).as("__s"), term.as("__t"))
      .groupBy("__q", "__d")
      .agg(count(lit(1)).as("n_systems"),
        aggregate(array_sort(collect_list(struct(col("__s"), col("__t")))),
          lit(0.0), (acc, x) => acc + x.getField("__t")).as("score"))
    fused.withColumn("fused_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__q"))
          .orderBy(col("score").desc, col("__d"))))
      .filter(col("fused_rank") <= topK)
      .select(col("__q").as(queryCol), col("__d").as(docCol),
        col("n_systems").cast("long").as("n_systems"), col("score"),
        col("fused_rank").cast("long").as("fused_rank"))
  }
}
