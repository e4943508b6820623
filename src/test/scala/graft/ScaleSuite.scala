package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{RangeJoin, Skew}

/** Scale-pattern equivalence tests: the band-bucketed range join, salted
  * aggregation/join, and the SparkSessionExtensions injection path must
  * all produce results identical to their naive formulations. */
class ScaleSuite extends SparkTestBase {

  test("banded interval join equals naive residual-predicate range join") {
    val ev = Tables.table(spark, sf0001, "events")
      .select("event_id", "ts", "user_id")
    val e1 = ev.filter(col("user_id") < 50).alias("e1")
    val e2 = ev.alias("e2")
    val naive = e1.join(e2,
        col("e1.user_id") === col("e2.user_id") &&
          col("e2.ts") > col("e1.ts") &&
          col("e2.ts") <= col("e1.ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("e1.event_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = RangeJoin.intervalFollowJoin(
        ev.filter(col("user_id") < 50), ev,
        "user_id", "ts", 3600L * 1000000L)
      .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == naive && naive.nonEmpty)
  }

  test("saltedAggregate equals plain groupBy aggregation") {
    val li = Tables.table(spark, sf0001, "lineitem")
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(li, Seq("l_returnflag"), "l_orderkey",
        salts = 8,
        partial = Seq(("l_quantity", "sum", "s"), ("l_quantity", "count", "n")))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("saltedAggregate rejects empty and non-decomposable agg specs") {
    val li = Tables.table(spark, sf0001, "lineitem")
    intercept[IllegalArgumentException] {
      Skew.saltedAggregate(li, Seq("l_returnflag"), "l_orderkey", 8, Nil)
    }
    // avg does not re-combine losslessly across salts — rejected up front
    // (compose it as sum+count; scaladoc documents the recipe)
    val ex = intercept[IllegalArgumentException] {
      Skew.saltedAggregate(li, Seq("l_returnflag"), "l_orderkey", 8,
        Seq(("l_quantity", "avg", "a")))
    }
    assert(ex.getMessage.contains("avg"))
    intercept[IllegalArgumentException] {
      Skew.saltedAggregate(li, Seq("l_returnflag"), "l_orderkey", 0,
        Seq(("l_quantity", "sum", "s")))
    }
  }

  test("saltedJoin equals plain equi-join") {
    val orders = Tables.table(spark, sf0001, "orders")
    val customer = Tables.table(spark, sf0001, "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = Skew.saltedJoin(orders, customer, "o_custkey",
        saltFrom = "o_orderkey", salts = 4)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("column pruning reaches the scan: projection reads only its columns") {
    val plan = Tables.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .filter(col("l_quantity") > 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("l_orderkey") && !plan.contains("l_extendedprice"),
      plan.take(1500))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity,10"), plan.take(1500))
  }

  test("J10: broadcast hints reach the physical plan (SQL hint + API)") {
    Tables.register(spark, sf0001)
    val viaSql = spark.sql(
      """SELECT /*+ BROADCAST(c) */ c.c_mktsegment, COUNT(*) n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin)
    assert(viaSql.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val viaApi = Tables.table(spark, sf0001, "orders")
      .join(broadcast(Tables.table(spark, sf0001, "customer")),
        col("o_custkey") === col("c_custkey"))
    assert(viaApi.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("AsOf.join plans one shuffle on the key (DESIGN.md claim)") {
    val ev = Tables.table(spark, sf0001, "events").filter(col("user_id") < 20)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("ts").as("p_ts"))
    val plan = graft.ops.AsOf.join(ev, purchases, "user_id", "ts", "ts",
      Seq("p_ts")).queryExecution.executedPlan.toString
    // the union-merge-window plan: exactly one hash exchange (the window's
    // partitionBy key) and no join operator at all
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${plan.take(1800)}")
    assert(!plan.contains("Join"), "as-of must not plan a join operator")
  }

  test("Sessionize plans one shuffle on the user key (DESIGN.md claim)") {
    val ev = Tables.table(spark, sf0001, "events").filter(col("user_id") < 20)
    val plan = graft.ops.Sessionize.sessionize(ev, "user_id", "ts",
      "event_id", 1800).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
    assert(!plan.contains("Join"), "sessionize must not plan a join")
  }

  test("Resample gapFill+locf plans one scan, two hash shuffles, no join") {
    val ev = Tables.table(spark, sf0001, "events").filter(col("user_id") < 6)
    val sparse = graft.ops.Resample.bucketAgg(ev, "user_id", "ts", "hour",
      Seq("n" -> count(lit(1))))
    val filled = graft.ops.Resample.forwardFill(
      graft.ops.Resample.gapFill(sparse, "user_id", 3600L),
      "user_id", Seq("n"))
    val plan = filled.queryExecution.executedPlan.toString
    // the span+bucket-map formulation: the input is read ONCE, densified
    // map-side, and never joined back
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n${plan.take(1500)}")
    assert(!plan.contains("Join"), "gap fill must not plan a join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2,
      s"expected 2 hash exchanges (bucket agg, per-key agg+window), got $exchanges")
  }

  test("groupCap ranks map-side via WindowGroupLimit (skew guard)") {
    // the per-group cap is a row_number ≤ k filter; Spark 4 must push it
    // down as a WindowGroupLimit partial limit BEFORE the exchange, so a
    // hot key ships at most k·mappers rows instead of its whole group —
    // this is what keeps domain caps safe on skewed corpora
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = graft.ops.Sampling.groupCap(docs, "lang", "doc_id", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"group cap must plan a map-side group limit:\n${plan.take(1500)}")
  }

  test("oovRate plans a broadcast join on the vocab, never a corpus shuffle by token") {
    val docs = Tables.table(spark, sf0001, "documents")
    val vocab = graft.ops.Vocab.induceVocab(docs, "text", 1000)
    val plan = graft.ops.Vocab.oovRate(docs, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    // the vocab side is top-K rows and must broadcast into the
    // membership probe — the corpus-sized exploded token stream must
    // not shuffle to meet it
    assert(plan.contains("BroadcastHashJoin [token"),
      s"vocab membership must be a broadcast join on token:\n${plan.take(1500)}")
    // exactly ONE token shuffle is legitimate: the induction's
    // frequency aggregate (map-side partial first, so it carries
    // (token, count) rows, not the corpus)
    val tokenExchanges = "hashpartitioning\\(token".r.findAllIn(plan).size
    assert(tokenExchanges == 1,
      s"expected only the induction agg to shuffle by token, got $tokenExchanges")
    assert(plan.contains("partial_count"),
      "induction frequency agg must combine map-side")
  }

  test("tokenBudgetSample plans one shuffle on the group key, no global sort") {
    val docs = Tables.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    val plan = graft.ops.Sampling.tokenBudgetSample(docs, "source",
        "doc_id", "nt", 2000L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
    assert(!plan.contains("Exchange rangepartitioning"),
      "the running-sum window must not plan a global sort")
    assert(!plan.contains("Join"), "token budget must not plan a join")
  }

  test("charChunks plans a pure generate projection: zero exchanges, zero joins") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = graft.ops.Chunking.charChunks(docs, "doc_id", "text", 256, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), "explode must plan a Generate")
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    assert(!plan.contains("Join"), "chunking must not join")
  }

  test("ivfAssign plans a pure projection: zero exchanges, zero joins") {
    import spark.implicits._
    val emb = Tables.table(spark, sf0001, "embeddings")
    // both assignment plans — per-centroid inline literals (small nlist)
    // and the single array-literal HOF fallback (large nlist) — must stay
    // map-only: zero exchanges, zero joins
    for (nCents <- Seq(2, 20)) {
      val cents = (0 until nCents)
        .map(i => (i, Seq.tabulate(64)(d => 0.1 * ((i + d) % 7 - 3))))
        .toDF("cell", "centroid")
      val plan = graft.ops.Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"cell assignment (nlist=$nCents) must be map-only:\n$plan")
      assert(!plan.contains("Join"),
        s"centroids (nlist=$nCents) must inline as literals, not join")
    }
  }

  test("invertedIndex plans the two classic IR shuffles plus the count broadcast") {
    val docs = Tables.table(spark, sf0001, "documents")
    // minDf-only call: keeps the one-pass shape — distinct +
    // groupBy(term) + a post-filter that only drops SMALL arrays
    val plan0 = graft.ops.Indexing.invertedIndex(docs, "doc_id", "text",
        minDf = 2L)
      .queryExecution.executedPlan.toString
    val shuffles0 = "Exchange hashpartitioning".r.findAllIn(plan0).size
    assert(shuffles0 <= 2, s"minDf-only: expected <= 2 exchanges, got " +
      s"$shuffles0:\n$plan0")
    // high-df-gated call: the r11 prefilter shape — the df pass and the
    // join add exchanges, but a stopword's postings buffer is never
    // built (the 8-GB-array-then-drop hazard); doc-count broadcasts
    val plan = graft.ops.Indexing.invertedIndex(docs, "doc_id", "text",
        minDf = 2L, maxDfShare = 0.5)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 5, s"gated: expected <= 5 hash exchanges, got " +
      s"$shuffles:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "doc-count relation must broadcast")
    // the prefilter must sit BELOW the postings aggregation: exactly one
    // collect_list in the plan, fed by the join, never followed by the
    // df filter
    assert("collect_list".r.findAllIn(plan).size >= 1)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("postings")),
      "no post-aggregation df filter on the postings")
  }

  test("contextPack plans a frozen-pid scan + broadcast base join, no global window") {
    import spark.implicits._
    val in = (1L to 1000L).map(i => (i, i % 7)).toDF("id", "toks")
    val df = graft.ops.Packing.contextPack(in, "id", "toks", 100L, 8)
    val plan = df.queryExecution.executedPlan.toString
    // r10: the range exchange is materialized behind a localCheckpoint
    // (pids must be ONE fact shared by the window and bases branches —
    // see Ranks.globalRowNumber), so the visible plan starts from the
    // checkpointed RDD scan instead of "Exchange rangepartitioning".
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the checkpoint-frozen scan:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "partition bases must broadcast, not shuffle")
    // the DATA window must be keyed by partition id (the tiny bases
    // window — ≤ nParts rows — is the only unpartitioned one)
    assert(plan.contains("windowspecdefinition(__pid"),
      s"data window not keyed by partition id:\n${plan.take(1500)}")
    // and the packs must still be partition-count invariant end to end
    val alt = graft.ops.Packing.contextPack(in.repartition(13), "id",
      "toks", 100L, 3)
    assert(df.select("id", "pack_first", "pack_last").collect().toSet ==
      alt.select("id", "pack_first", "pack_last").collect().toSet)
  }

  test("contaminationScore plans shingle equi-joins, never doc×bench pairs") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = graft.ops.TextAnalysis.contaminationScore(
      docs.filter(col("doc_id") < 200), docs.filter(col("doc_id") >= 400),
      "doc_id", "text", n = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "must stay an equi-join")
  }

  test("MinHash-LSH scales: 20x-replicated corpus yields planted pairs, not N²") {
    // Build a 10,000-doc corpus: each sf0.01 document (500 distinct texts)
    // replicated 20x with a distinct appended token, so every base doc
    // becomes a 20-clique of near-dups (pairwise Jaccard ≈ 0.97). The LSH
    // join must return ≈ 500 * C(20,2) planted pairs — bounded by the
    // planted structure — and NOT degrade toward the ~50M all-pairs space.
    val base = Tables.table(spark, sf001, "documents").select("doc_id", "text")
    val replicated = base
      .withColumn("i", explode(sequence(lit(0), lit(19))))
      .select((col("doc_id") * 100 + col("i")).as("doc_id"),
        concat(col("text"), lit(" copytoken"), col("i")).as("text"))
    assert(replicated.count() == 10000)
    val t0 = System.nanoTime()
    val pairs = graft.ops.Dedup.minHashNearDupPairs(
      replicated, "doc_id", "text", shingleN = 3, threshold = 0.8)
    val nPairs = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"10k docs → $nPairs pairs in $secs%.1f s")
    val planted = 500L * (20 * 19 / 2) // 95,000 within-clique pairs
    // recall ≥ ~0.85 of planted; upper bound allows cross-base near-dups
    // that exist in the fixture (e.g. docs 87~134 → up to 400 cross pairs
    // per such base pair) but nothing close to quadratic blowup
    assert(nPairs > (planted * 0.85).toLong, s"recall too low: $nPairs")
    assert(nPairs < planted + 20000L, s"candidate blowup: $nPairs")
    // cross-base pairs must come from a handful of fixture-planted near-dup
    // base families (each contributes up to 400 copy-cross pairs), never a
    // broad quadratic mixing. NB: integer division — `/` on longs is a
    // double divide in Spark SQL and would misclassify within-clique pairs.
    val crossBase = pairs.filter(expr("a div 100") =!= expr("b div 100"))
      .select(expr("a div 100").as("ba"), expr("b div 100").as("bb"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"cross-base near-dup families: ${crossBase.size}")
    assert(crossBase.size <= 30, s"unexpected cross-base mixing: $crossBase")
  }

  test("plan lint: no accidental Cartesian products across the whole corpus") {
    // queries whose SEMANTICS are a cross/nested-loop join (tiny side or
    // deliberate all-pairs) — everything else must plan as an equi-join
    val allowed = Set(
      "q17_cross_join",        // 5×25 Cartesian by definition
      "q23b_scalar_subquery",  // scalar subquery joins a 1-row relation
      "q62_cosine_topk",       // all-pairs vs 5 broadcast query vectors
      "q72_ann_topk",          // exact dispatch: 5-query side → q62 shape
      "q66_similar_pairs",     // thresholded all-pairs (vec_id < 200)
      "q64_tfidf",             // CROSS JOIN with a 1-row count relation
      "q76_ivf_topk",          // query×centroid probe (both tiny, broadcast)
      "q77_embedding_neardup", // LSH-pruned pair generation
      "q107_importance",       // CROSS JOIN with the 1-row totals relation
      "q109_psi_drift",        // CROSS JOIN with the 1-row min/max bounds
      "q110_pq_topk",          // ADC scan vs 5 broadcast query LUTs
      "q111_inverted_index",   // CROSS JOIN with the 1-row doc-count relation
      "q112_bigram_lm",        // CROSS JOIN with the 1-row vocab-size relation
      "q118_ccnet_buckets",    // CROSS JOIN with the 1-row tercile thresholds
      "q120_mad_outliers",     // CROSS JOIN with the 1-row median/MAD stats
      "q159_bm25",             // CROSS JOIN with the 1-row corpus-stats relation
      "q160_temp_mixture",     // CROSS JOIN with the 1-row Σw relation
      "q167_equidepth_hist",   // CROSS JOIN with the 1-row boundary array
      "q185_quantile_normalize", // CROSS JOIN with the 1-row knot array
      "q193_kaplan_meier",     // CROSS JOIN with the 1-row corpus-end scalar
      "q204_kruskal",          // CROSS JOIN with the 1-row tie-correction row
      "q218_hits",             // CROSS JOIN with the 1-row round-max (L∞
                               // renormalization; lazy since the r12
                               // cut-below-normalization rewrite — the raw
                               // score table is the checkpointed side)
      "q221_woe_iv",           // CROSS JOIN with the 1-row totals + IV fold
      "q223_mutual_info",      // CROSS JOIN with the 1-row MI-total fold
      "q226_conformal",        // CROSS JOIN with the 1-row conformal q
      "q228_lift_table",       // CROSS JOIN with the 1-row totals row
      "q230_ece",              // CROSS JOIN with the 1-row bin-total row
      "q232_nelson_aalen",     // CROSS JOIN with the 1-row corpus-end scalar
      "q238_cohen_kappa",      // CROSS JOIN with the 1-row p_e numerator
      "q242_rfm",              // CROSS JOIN with the 1-row corpus-end scalar
      "q246_neyman",           // CROSS JOIN with the 1-row Σ N_h·S_h fold
      "q249_vocab_coverage",   // 3-row broadcast k-checkpoint probe
      "q251_decayed_sum",      // CROSS JOIN with the 1-row corpus-end scalar
      "q262_eb_shrinkage",     // CROSS JOINs with the 1-row prior/moments
      "q263_rolling_origin",   // 1-row corpus-end + k-row fold table
      "q264_decompose",        // CROSS JOIN with the 1-row centering scalar
      "q265_multinomial_gof",  // CROSS JOIN with the 1-row total scalar
      "q267_burstiness",       // CROSS JOIN with the 1-row doc-count scalar
      "q277_kendall_tau",      // deliberate cell-table cross (cells², never rows²)
      "q282_srm",              // CROSS JOIN with the 1-row total scalar (GOF)
      "q289_log_rank",         // CROSS JOIN with the 1-row corpus-end scalar
                               // (userLifetimes, the q232 shape)
      "q292_wilcoxon",         // CROSS JOIN with the 1-row tie-correction row
                               // (the q204 kruskal shape)
      "q293_theils_u",         // CROSS JOIN of the 1-row MI and H(X) folds
      "q294_friedman",         // 1-row treatment-count + moment rows
      "q296_rich_club",        // 3-row broadcast degree-cutoff probe
                               // (the q249 k-checkpoint shape)
      "q299_cochran_q",        // 3-row literal treatment grid + 1-row
                               // ΣC²/ΣR² readout rows
      "q300_jonckheere",       // k-row distinct-group grid (bounded by
                               // the ordered-factor contract) + 1-row
                               // moment rows
      "q301_reciprocity",      // CROSS JOIN with the 1-row reciprocal
                               // count
      "q302_transitivity",     // CROSS JOIN with the 1-row triangle
                               // total
      "q303_fleiss_kappa",     // CROSS JOIN of the 1-row ΣC² row
      "q304_modularity",       // CROSS JOIN with the 1-row edge count
      "q305_heaps_law",        // 16-row literal power-of-two probe cuts
      "q307_krippendorff",     // CROSS JOIN of the 1-row S_o fold and
                               // 1-row margins
      "q308_attr_assortativity", // CROSS JOIN with the 1-row E_ii count
      "q310_kendall_w",        // CROSS JOINs with the 1-row k/b/tie rows
      "q311_gamma_somers",     // deliberate cell-table cross (the q277
                               // shape: ≤51×11 quantized cells)
      "q313_jarque_bera",      // 1-row moment readout
      "q315_ljung_box",        // composes q195's acf (no cross at all —
                               // listed for the broadcast readout only)
      "q316_lin_ccc",          // 1-row moment readout
      "q318_moran_geary",      // CROSS JOIN with the 1-row node-moment
                               // row (edge fold × broadcast node fold)
      "q319_icc",              // CROSS JOIN with the 1-row between-group
                               // readout (the q313/q316 1-row×1-row shape;
                               // crossJoin(broadcast(bs)) in Stats.icc1)
      "q322_rmst")             // CROSS JOIN with the 1-row corpus-end
                               // scalar (userLifetimes, the q193 shape)
    val offenders = SparkEntry.corpus.flatMap { q =>
      try {
        val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
        val bad = (plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")) &&
          !allowed.contains(q.name)
        if (bad) Some(q.name) else None
      } catch { case _: Throwable => None } // plan-only lint; failures caught elsewhere
    }
    assert(offenders.isEmpty,
      s"unexpected Cartesian/NLJ in: ${offenders.mkString(", ")}")
  }

  test("GraftExtensions injects functions into a fresh session (no Registry call)") {
    // create the suite's lazy shared session first: forced only after the
    // clear below, it would resolve to the new session itself
    val shared = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark, "must be a new session for the test to be meaningful")
      val cos = s2.sql(
        "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D))")
        .collect()(0).getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val sh = s2.sql("SELECT shingles('a b c', 2)").collect().map(_.getString(0))
      assert(sh.toSeq == Seq("a b", "b c"))
      assert(s2.sql("SELECT size(winnow('abcdefghij', 3, 2))")
        .collect()(0).getInt(0) > 0)
      // PQ kernels: encode against an inline literal codebook, score via ADC
      val code = s2.sql(
        """SELECT pq_encode(array(1.0D, 0.0D),
          |  array(array(array(1.0D), array(0.0D)),
          |        array(array(9.0D), array(0.0D))))""".stripMargin)
        .collect()(0).getAs[Array[Byte]](0)
      assert(code.toSeq == Seq[Byte](0, 1),
        s"s0: 1.0 → centroid 0; s1: 0.0 → centroid 1; got ${code.toSeq}")
      val adc = s2.sql(
        "SELECT pq_adc(X'0001', array(array(5.0D, 9.0D), array(2.0D, 3.0D)))")
        .collect()(0).getDouble(0)
      assert(adc == 5.0 + 3.0)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("CBO: ANALYZE TABLE stats reach the optimizer; join-reorder result unchanged") {
    // SURVEY §4.1 optional path: table+column statistics + cost-based join
    // reorder. On a real warehouse this is `ANALYZE TABLE` after load; here
    // the q57b snowflake shape runs with and without CBO and must agree,
    // and the catalog stats must be visible to the optimizer.
    Tables.register(spark, sf0001)
    val tables = Seq("nation", "supplier", "customer", "orders", "lineitem")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS cbo_$t")
      spark.table(t).write.saveAsTable(s"cbo_$t")
      spark.sql(s"ANALYZE TABLE cbo_$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    val q =
      """SELECT sn.n_name supp_nation, cn.n_name cust_nation,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) volume
        |FROM cbo_supplier s
        |JOIN cbo_lineitem l ON s.s_suppkey = l.l_suppkey
        |JOIN cbo_orders o   ON o.o_orderkey = l.l_orderkey
        |JOIN cbo_customer c ON c.c_custkey = o.o_custkey
        |JOIN cbo_nation sn  ON sn.n_nationkey = s.s_nationkey
        |JOIN cbo_nation cn  ON cn.n_nationkey = c.c_nationkey
        |GROUP BY sn.n_name, cn.n_name
        |ORDER BY supp_nation, cust_nation""".stripMargin
    def run(): Seq[(String, String, Double)] =
      spark.sql(q).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val plain = run()
    val conf = spark.conf
    conf.set("spark.sql.cbo.enabled", "true")
    conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // row-count stats from ANALYZE are visible to the optimizer
      val stats = spark.table("cbo_lineitem")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined && stats.rowCount.get.toLong > 0,
        s"expected catalog rowCount under CBO, got $stats")
      assert(run() == plain) // reordered plan, identical answer
    } finally {
      conf.set("spark.sql.cbo.enabled", "false")
      conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS cbo_$t"))
    }
  }

  test("pqTopK: ADC rank is group-limited pre-exchange; re-rank joins survivors by broadcast") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val (encoded, cb) = graft.ops.Similarity.pqIndex(
      emb, "vec_id", "embedding", m = 8, kCent = 16)
    val df = graft.ops.Similarity.pqTopK(encoded, cb,
      emb.filter(col("vec_id") < 3).select("vec_id"), k = 3, rerankFactor = 4)
    val plan = df.queryExecution.executedPlan.toString
    // the round-4 scale-killer was a full per-query corpus sort: the rank
    // filter must now rewrite to a partial window-group-limit on the map
    // side, so each partition forwards at most k·rerank rows per query
    assert(plan.contains("WindowGroupLimit"),
      s"rank stage must be group-limited:\n${plan.take(3000)}")
    assert(plan.contains("Partial"),
      "map-side partial group limit must precede the exchange")
    // survivor re-rank joins back to the encoded table broadcast-side —
    // the corpus side must never shuffle for it
    assert(!plan.contains("SortMergeJoin"),
      s"survivor join must broadcast:\n${plan.take(3000)}")
    assert(df.collect().nonEmpty)
  }

  test("zorderBy: every output file holds a small rectangle in BOTH dimensions") {
    val li = Tables.table(spark, sf0001, "lineitem")
      .select("l_partkey", "l_suppkey")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
      .resolve("li").toString
    graft.ops.Layout.zorderBy(li, "l_partkey", "l_suppkey",
      bits = 16, nFiles = 8).write.parquet(dir)
    val g = li.agg(
      (max("l_partkey") - min("l_partkey")).cast("double"),
      (max("l_suppkey") - min("l_suppkey")).cast("double")).head()
    val (gx, gy) = (g.getDouble(0), g.getDouble(1))
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).cast("double").as("sx"),
        (max("l_suppkey") - min("l_suppkey")).cast("double").as("sy"))
      .agg(avg("sx"), avg("sy"), count(lit(1))).head()
    val (sx, sy, nf) = (spans.getDouble(0), spans.getDouble(1), spans.getLong(2))
    assert(nf >= 4, s"expected multiple z-range files, got $nf")
    // 8 z-range partitions split the leading interleaved bits: each file
    // must cover a FRACTION of both key ranges — the property plain
    // single-key sorting cannot give — with area ~1/8 of the global box
    assert(sx < 0.75 * gx, s"avg partkey span $sx vs global $gx")
    assert(sy < 0.75 * gy, s"avg suppkey span $sy vs global $gy")
    assert((sx / gx) * (sy / gy) < 0.3,
      s"files must cover small rectangles: ${(sx / gx) * (sy / gy)}")
  }

  test("zorderByN: three clustered columns all shrink per file") {
    val li = Tables.table(spark, sf0001, "lineitem")
      .select("l_partkey", "l_suppkey", "l_orderkey")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder3")
      .resolve("li").toString
    graft.ops.Layout.zorderByN(li,
      Seq("l_partkey", "l_suppkey", "l_orderkey"),
      bits = 16, nFiles = 8).write.parquet(dir)
    val g = li.agg(
      (max("l_partkey") - min("l_partkey")).cast("double"),
      (max("l_suppkey") - min("l_suppkey")).cast("double"),
      (max("l_orderkey") - min("l_orderkey")).cast("double")).head()
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).cast("double").as("sx"),
        (max("l_suppkey") - min("l_suppkey")).cast("double").as("sy"),
        (max("l_orderkey") - min("l_orderkey")).cast("double").as("sz"))
      .agg(avg("sx"), avg("sy"), avg("sz")).head()
    // 8 files = the top 3 interleaved bits = one leading bit per
    // dimension: every dimension is split, none is sacrificed
    val fracs = (0 until 3).map(i => spans.getDouble(i) / g.getDouble(i))
    assert(fracs.forall(_ < 0.85), s"per-file spans: $fracs")
    assert(fracs.product < 0.4,
      s"files must cover small boxes, got volume ${fracs.product}")
  }

  test("cusum/ksTest plan per-key window shuffles, no joins, no global sort") {
    val ev = Tables.table(spark, sf0001, "events")
    val cusumPlan = graft.ops.Stats.cusum(ev, "user_id", "ts",
      floor(col("value") * 64).cast("long"), "event_id")
      .queryExecution.executedPlan.toString
    assert(!cusumPlan.contains("Join"), "cusum must not plan a join")
    assert(!cusumPlan.contains("Exchange rangepartitioning"),
      "cusum must not plan a global sort")
    val ksPlan = graft.ops.Stats.ksTest(ev, "user_id",
      col("event_type") === "click", col("event_type") === "purchase",
      floor(col("value") * 64).cast("long"))
      .queryExecution.executedPlan.toString
    assert(!ksPlan.contains("Join"), "ksTest must not plan a join")
    // the KS windows ride the distinct-value agg's (key, value)
    // grouping; only per-key exchanges appear
    assert(!ksPlan.contains("Exchange rangepartitioning"),
      "ksTest must not plan a global sort")
  }

  test("paretoFront joins back a broadcast frontier, never all-pairs") {
    val p = Tables.table(spark, sf0001, "part").select(col("p_partkey"),
      col("p_size"), floor(col("p_retailprice") * 100).cast("long")
        .as("price_c"))
    val df = graft.ops.Stats.paretoFront(p, "p_size", "price_c")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline must not plan an all-pairs join:\n${plan.take(1500)}")
    df.write.mode("overwrite").format("noop").save()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the frontier join-back should broadcast the frontier")
  }

  test("looTargetEncode broadcasts the category table; bootstrap spreads the base") {
    val y = Tables.table(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        floor(col("o_totalprice")).cast("long").as("yv"))
    val loo = graft.ops.Stats.looTargetEncode(y, "o_orderpriority",
      col("yv"))
    loo.write.mode("overwrite").format("noop").save()
    val looPlan = loo.queryExecution.executedPlan.toString
    assert(looPlan.contains("BroadcastHashJoin"),
      s"LOO join-back should broadcast under AQE:\n${looPlan.take(1500)}")
    val ev = Tables.events(spark, sf0001)
    val bPlan = graft.ops.Sampling.poissonBootstrap(ev, "event_type",
      "event_id", floor(col("value") * 1000).cast("long"), 8, 0.25, "t")
      .queryExecution.executedPlan.toString
    // the pre-expansion spread is a round-robin exchange BEFORE the
    // generator, so the b-fold hash pipeline never runs on one split
    assert(bPlan.contains("Exchange RoundRobinPartitioning"),
      s"bootstrap must spread the base before exploding:\n${bPlan.take(1500)}")
    assert(bPlan.indexOf("Exchange RoundRobinPartitioning") >
      bPlan.indexOf("Generate") || bPlan.contains("Generate"),
      "generator present")
  }

  test("Drift.psi is single-pass across columns: 3 scans for any k (bounds+ref+cur)") {
    val ev = Tables.table(spark, sf0001, "events")
    val ref = ev.filter(col("user_id") % 2 === 0)
    val cur = ev.filter(col("user_id") % 2 =!= 0)
    val df = graft.ops.Drift.psi(ref, cur, Seq("value", "user_id", "event_id"))
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 3,
      s"expected 3 parquet scans for 3 monitored columns, got $scans:\n${plan.take(3000)}")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("value", "user_id", "event_id"),
      "one row per column, in argument order")
  }
}
