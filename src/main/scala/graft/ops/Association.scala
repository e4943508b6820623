package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket association mining — the support/confidence/lift
  * readout over any basket definition (a session's event types, an
  * order's parts, a document's vocabulary terms). PMI (q183) is
  * ln(lift) over document baskets; this is the general operator with
  * the retail-analytics vocabulary.
  *
  * Scale shape: rows collapse to DISTINCT (basket, item) first; the
  * within-basket self-join fans out quadratically only in distinct
  * items per basket (sessions and orders are short). Support counts
  * stay integral; confidence and lift are single divisions of exact
  * integer products, so the doubles hash-replay cross-engine.
  */
object Association {

  /** Pair rules a→b over baskets identified by `basketCols`:
    * (item_a, item_b, c_ab, c_a, c_b, confidence = c_ab/c_a,
    * lift = c_ab·N/(c_a·c_b)) for unordered pairs with
    * c_ab ≥ `minSupport`, item_a < item_b.
    *
    * `maxBasket` (default off) is the [[itemItemCosine]] hot-key cap
    * transplanted: ONE bot basket with 10⁵ distinct items would put
    * its 5×10⁹ pairs in ONE join task (per-key quadratic — the r11
    * corpus audit class). A basket above the cap keeps its `maxBasket`
    * items of smallest md5(basket‖item) — deterministic, layout-free.
    * Support counts touching a capped basket's dropped items are
    * undercounted; use a pre-filtered interaction table when exact
    * support on pathological baskets matters. */
  def liftPairs(df: DataFrame, basketCols: Seq[String], itemCol: String,
                minSupport: Long = 1L,
                maxBasket: Int = Int.MaxValue): DataFrame = {
    require(basketCols.nonEmpty, "liftPairs needs basket key columns")
    require(maxBasket >= 1, s"maxBasket must be >= 1, got $maxBasket")
    val bk: Seq[Column] = basketCols.map(col)
    // the distinct basket-item table feeds FOUR consumers (the basket
    // count action, singles, and both self-join sides) — uncut, the
    // whole upstream (q192 feeds a sessionize window chain) re-plans
    // per consumer (audited: 4 static events scans)
    val b0 = Cut.rows(df.select(bk :+ col(itemCol).as("item"): _*).distinct())
    val b =
      if (maxBasket == Int.MaxValue) b0
      else b0.withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(bk: _*)
            .orderBy(md5(concat_ws("#",
              bk.map(_.cast("string")) :+ col("item").cast("string"): _*)),
              col("item"))))
        .filter(col("__r") <= maxBasket).drop("__r").transform(Cut.rows)
    val nBaskets = b.select(bk: _*).distinct().count()
    // item-cardinality-bounded, consumed by BOTH direction joins
    val singles = b.groupBy("item").agg(count(lit(1)).as("c"))
      .transform(Cut.summary)
    val pairs = b.select(bk :+ col("item").as("item_a"): _*)
      .join(b.select(bk :+ col("item").as("item_b"): _*), basketCols)
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    pairs
      .join(singles.select(col("item").as("item_a"), col("c").as("c_a")),
        "item_a")
      .join(singles.select(col("item").as("item_b"), col("c").as("c_b")),
        "item_b")
      .select(col("item_a"), col("item_b"), col("c_ab").cast("long").as("c_ab"),
        col("c_a").cast("long").as("c_a"), col("c_b").cast("long").as("c_b"),
        (col("c_ab").cast("double") / col("c_a")).as("confidence"),
        ((col("c_ab") * lit(nBaskets)).cast("double") /
          (col("c_a") * col("c_b"))).as("lift"))
  }

  /** Item-item cosine neighbors — the classic co-occurrence
    * recommender (Sarwar et al., WWW'01) over implicit feedback:
    * cos(i,j) = |U_i ∩ U_j| / (√|U_i|·√|U_j|) on distinct (user, item)
    * interactions, top `k` neighbors per item. Same within-basket
    * (= per-user) self-join bound as [[liftPairs]] — quadratic only in
    * distinct items per user, never corpus-wide all-pairs; at 100 TB
    * cap per-user basket size first (a user with 10⁵ items is a bot,
    * not a signal). Both (i,j) and (j,i) directions are emitted so
    * each item gets its full neighbor list from ONE grouped count of
    * unordered pairs.
    *
    * Determinism: counts integral; each cosine is co / (√cᵢ·√cⱼ) with
    * correctly-rounded sqrts — ONE division; the per-item top-k rank
    * breaks cosine ties by neighbor id.
    *
    * `maxBasket` caps the per-user distinct-item basket: a user above
    * the cap keeps only their `maxBasket` items of smallest
    * md5(user‖item) — a fixed pseudo-random subsample, so the cap is
    * deterministic and engine-replayable. The self-join's fan-out is
    * then ≤ maxBasket² per user regardless of skew: one 10⁵-item bot
    * account would otherwise alone contribute 10¹⁰ pairs (≈ the whole
    * corpus's pair volume) to the shuffle. Recall trade-off: co-counts
    * that depend on a capped user's dropped items are undercounted —
    * acceptable for neighbor RANKING (heavy users carry near-zero
    * signal per interaction; Sarwar et al. §4 downweights them
    * outright), not for exact support counting (use [[liftPairs]] with
    * a pre-filtered interaction table there). Default disables the cap
    * so fixture-scale oracles replay the uncapped semantics. */
  def itemItemCosine(df: DataFrame, userCol: String, itemCol: String,
                     k: Int, minCo: Long = 1L,
                     maxBasket: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxBasket >= 1, s"maxBasket must be >= 1, got $maxBasket")
    // the distinct interaction table feeds both self-join sides and
    // the singles count. cache(): ReuseExchange CAN share the one
    // materialized distinct across the three consumers (A/B'd at
    // sf0.1, identical timings) — but exchange reuse is an optimizer
    // accident, not a guarantee (the r10 rank-desync bug), and uncut
    // the static plan re-reads lineitem⋈orders six times; the cache
    // makes the single-pass shape explicit at zero measured cost.
    // r16 (guide §2.4 — share one exchange): hash-partitioning by u
    // BEFORE the distinct satisfies the distinct's (u, item) clustering
    // requirement (u is a subset of the keys, so equal pairs co-locate)
    // AND the per-user self-join's (u) requirement — ONE exchange of the
    // interaction table instead of three (the old distinct-by-(u,item)
    // exchange plus one per join side above the cache).
    val b0 = df.select(col(userCol).as("u"), col(itemCol).as("item"))
      .repartition(col("u"))
      .dropDuplicates("u", "item").transform(Cut.rows)
    // when the cap is active, the cut must sit ABOVE the capping
    // window too: b feeds three consumers (singles + both self-join
    // sides), and uncut each would replay the per-user row_number
    // window (a full shuffle + sort) from b0 — the same multi-consumer
    // re-plan the b0 cache exists to prevent.
    val b =
      if (maxBasket == Int.MaxValue) b0
      else b0.withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("u")
            .orderBy(md5(concat_ws("#", col("u").cast("string"),
              col("item").cast("string"))), col("item"))))
        .filter(col("__r") <= maxBasket).drop("__r").transform(Cut.rows)
    // item-cardinality-bounded, consumed by BOTH direction joins
    val singles = b.groupBy("item").agg(count(lit(1)).as("c"))
      .transform(Cut.summary)
    // per-user self-join for the co-counts. The in-row alternative
    // (collect per-user baskets, explode i<j index pairs) was A/B'd
    // at sf0.1 and is ~70% SLOWER (15.8 s vs 9.5 s isolated): the
    // nested-transform pair generation defeats whole-stage codegen's
    // tight join loop, and the downstream pair shuffle is identical
    // either way. ReuseExchange already shares b across both sides.
    val co = b.select(col("u"), col("item").as("item_a"))
      .join(b.select(col("u"), col("item").as("item_b")), Seq("u"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    // both directions from ONE consumer of co: an in-row explode of the
    // two orientations, not a union of two reads (the union re-planned
    // the whole self-join + pair aggregation per branch)
    val both = co.select(explode(array(
        struct(col("item_a"), col("item_b"), col("co")),
        struct(col("item_b").as("item_a"), col("item_a").as("item_b"),
          col("co")))).as("__p"))
      .select(col("__p.*"))
    val scored = both
      .join(singles.select(col("item").as("item_a"), col("c").as("c_a")),
        "item_a")
      .join(singles.select(col("item").as("item_b"), col("c").as("c_b")),
        "item_b")
      .select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("co").cast("long").as("co"),
        col("c_a").cast("long").as("c_item"),
        col("c_b").cast("long").as("c_neighbor"),
        (col("co").cast("double") /
          (sqrt(col("c_a").cast("double")) *
            sqrt(col("c_b").cast("double")))).as("cosine"))
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("item")
          .orderBy(col("cosine").desc, col("neighbor"))))
      .filter(col("rank") <= k)
  }
}
