package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection importance weighting (the DSIR recipe, Xie et al.
  * 2023, arXiv:2302.03169): score every document in a broad SOURCE
  * corpus by the log-likelihood ratio of its unigrams under a TARGET
  * domain language model vs the source model, with add-one smoothing
  * over the joint vocabulary. High scores = "looks like the target
  * domain" — the standard first stage of quality-targeted pretraining
  * data selection (followed by [[Sampling.weightedSample]] to draw the
  * training subset).
  *
  * Scale shape: two vocabulary aggregations (shuffle on term), one join
  * from the exploded source terms to the vocabulary-sized weight table
  * (broadcast when the vocabulary is small, shuffle otherwise — left to
  * AQE), one per-doc aggregation. The weight table is corpus-size
  * independent and reusable across batches; nothing in the plan holds a
  * document in memory. DSIR proper hashes features into a fixed number
  * of buckets to bound the vocabulary — [[hashedImportanceWeights]] is
  * that variant (xxhash64 buckets, so the weight table is exactly
  * `buckets` rows at any corpus size).
  */
object Importance {

  /** Lower-cased single-space unigrams — deliberately the simplest
    * cross-engine-reproducible tokenization (empty tokens dropped). */
  private def terms(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")

  private def weights(srcTerms: DataFrame,
                      tgtTerms: DataFrame): DataFrame = {
    val sv = srcTerms.groupBy("w").agg(count(lit(1)).as("cs"))
    val tv = tgtTerms.groupBy("w").agg(count(lit(1)).as("ct"))
    // vocabulary-sized and consumed twice (weights + totals): uncut,
    // the two corpus-sized term aggregations and the full-outer join
    // run twice (read in the q107 plan audit)
    val voc = sv.join(tv, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("cs"), lit(0L)).as("cs"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .transform(Cut.summary)
    val tot = voc.agg(sum("cs").as("ts"), sum("ct").as("tt"),
      count(lit(1)).as("v"))
    // Exact.lnq, not raw log: the weight doubles are hash-compared, and
    // Java/glibc ln disagree by 1 ulp on real inputs (q201 finding)
    voc.crossJoin(broadcast(tot))
      .select(col("w"),
        (Exact.lnq((col("ct") + lit(1.0)) / (col("tt") + col("v"))) -
          Exact.lnq((col("cs") + lit(1.0)) / (col("ts") + col("v"))))
          .as("wt"))
  }

  /** (id, n_tokens, score) for every source document with at least one
    * token. score = Σ over token OCCURRENCES of the smoothed
    * log(p_target/p_source) term weight. */
  def importanceWeights(source: DataFrame, target: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val st = terms(source, idCol, textCol)
    val tt = terms(target, idCol, textCol).select("w")
    st.join(weights(st, tt), Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score"))
  }

  /** DSIR-faithful bounded-vocabulary variant: terms are hashed into
    * `buckets` xxhash64 buckets before counting, so the weight table is
    * exactly `buckets` rows at ANY corpus size (the published recipe
    * uses 10k buckets of hashed n-grams). Not cross-engine oracle-able
    * (the oracle dialect lacks xxhash64) — covered by the equivalence
    * property in the test suite instead. */
  def hashedImportanceWeights(source: DataFrame, target: DataFrame,
                              idCol: String, textCol: String,
                              buckets: Int = 10000): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def bucketed(docs: DataFrame): DataFrame =
      terms(docs, idCol, textCol)
        .withColumn("w", pmod(xxhash64(col("w")), lit(buckets.toLong)))
    val st = bucketed(source)
    val tt = bucketed(target).select("w")
    st.join(weights(st, tt), Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score"))
  }
}
