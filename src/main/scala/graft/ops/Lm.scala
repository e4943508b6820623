package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet-style gate: score
  * every document by its average bigram log-likelihood under a LM
  * trained on a trusted TARGET corpus (docs that "read like" the target
  * score high; boilerplate/gibberish scores low). One level up from
  * [[Importance]]'s unigram ratio: bigrams see local word order.
  *
  * Add-one smoothing over the target vocabulary:
  *   P(w | p) = (c₂(p,w) + 1) / (c₁(p) + |V|)
  * so unseen bigrams and unseen history words both stay finite (an
  * unseen history scores 1/|V| per token). Documents with fewer than
  * two tokens produce no bigrams and drop out, same as every LM
  * perplexity tool.
  *
  * Scale shape: the LM is two count tables (bigram + history) built
  * with one shuffle each on the TARGET corpus — vocabulary-sized,
  * corpus-size independent, persistable and reusable across batches.
  * Scoring joins the exploded source bigrams against them (broadcast
  * when the LM is small, shuffle otherwise — AQE's call) and aggregates
  * per doc. No windows, no driver loops.
  */
object Lm {

  /** Filtered lower-cased token array (empty tokens removed) — the
    * engine-wide reproducible tokenization. */
  private def toks(textCol: Column): Column =
    filter(split(lower(textCol), " "), _ =!= "")

  /** (id, p, w) bigram pairs; docs with < 2 tokens yield none. */
  private def bigrams(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val ws = toks(col(textCol))
    val pairs = when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("p"), b.as("w"))))
      .otherwise(array())
    df.select(col(idCol).as("id"), explode(pairs).as("bg"))
      .select(col("id"), col("bg.p").as("p"), col("bg.w").as("w"))
  }

  /** (id, n_bigrams, score): score = mean ln P(w|p) under the
    * target-trained smoothed bigram LM. More negative = less
    * target-like. */
  def bigramScore(source: DataFrame, target: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val tb = bigrams(target, idCol, textCol)
    // c2 is vocabulary-sized and feeds both the score join and c1 —
    // materialize it once, and DERIVE c1 by re-aggregating c2
    // (Σ_w c₂(p,w) = c₁(p)) so the corpus-sized bigram explode is
    // scanned once, not twice.
    val c2 = tb.groupBy("p", "w").agg(count(lit(1)).as("n2"))
      .transform(Cut.summary)
    val c1 = c2.groupBy("p").agg(sum("n2").as("n1"))
    val v = target.select(explode(toks(col(textCol))).as("u"))
      .agg(countDistinct("u").as("nv"))
    bigrams(source, idCol, textCol)
      .join(c2, Seq("p", "w"), "left_outer")
      .join(c1, Seq("p"), "left_outer")
      .crossJoin(broadcast(v))
      .select(col("id"),
        // quantized ln (q201 finding): raw Math.log is 1-ulp loose vs
        // glibc and the per-bigram lp doubles feed a hash-checked score
        Exact.lnq((coalesce(col("n2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("n1"), lit(0L)) + col("nv"))).as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), avg("lp").as("score"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): split a scored corpus into head/middle/tail by
    * score terciles (head = most target-like). The thresholds come from
    * ONE percentile aggregation — a `probs.length`-element row broadcast
    * back into a map-only label projection. Deliberately NOT an
    * ntile-over-everything window: a global ntile is a single-reducer
    * sort of the corpus, while this plan touches the data twice with no
    * global sort at any size. Labels compare on the 6-dp-rounded score
    * so the bucket edges are engine-reproducible. */
  def perplexityBuckets(scored: DataFrame, scoreCol: String = "score",
                        probs: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                        labels: Seq[String] =
                          Seq("tail", "middle", "head"),
                        exact: Boolean = true): DataFrame = {
    require(labels.length == probs.length + 1,
      s"need ${probs.length + 1} labels for ${probs.length} cut points")
    require(probs == probs.sorted && probs.forall(p => p > 0 && p < 1),
      s"cut points must be ascending in (0,1): $probs")
    val s = round(col(scoreCol), 6)
    // exact=false: the 100 TB dial — exact percentile buffers every
    // score in the final agg buffer (the winsorize discipline); the
    // t-digest thresholds shift bucket EDGES only, within sketch error
    val pctFn = if (exact) "percentile" else "approx_percentile"
    val accuracy = if (exact) "" else ", 10000"
    val th = scored.agg(expr(
      s"$pctFn(round(`$scoreCol`, 6), array(${probs.mkString(", ")})" +
        s"$accuracy)").as("__th"))
    val bucket = probs.indices.reverse.foldLeft(lit(labels.last): Column) {
      case (acc, i) =>
        when(s <= element_at(col("__th"), i + 1), lit(labels(i))).otherwise(acc)
    }
    scored.crossJoin(broadcast(th))
      .withColumn("bucket", bucket)
      .drop("__th")
  }
}
