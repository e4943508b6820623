package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation: the composite pipeline a
  * 100 TB pretraining-data run actually executes, built from the engine's
  * operators in the canonical order —
  *
  *   1. quality gate (cheap projections first: token counts, stopword and
  *      punctuation ratios — drops junk before anything expensive),
  *   2. language filter (stopword-vote language ID),
  *   3. exact dedup (content-hash),
  *   4. near-dedup (MinHash-LSH banded candidate join),
  *
  * ordered so each stage shrinks the input of the costlier stage after it.
  * Returns the cleaned corpus plus a per-stage attrition report (the
  * numbers a data curator audits).
  */
object CorpusPrep {

  final case class PrepConfig(
      minTokens: Long = 5,
      maxTokens: Long = 1 << 20,
      maxStopwordRatio: Double = 0.9,
      minStopwordRatio: Double = 0.0,
      allowedLangs: Seq[String] = Nil, // empty = keep all
      nearDupThreshold: Double = 0.8,
      shingleN: Int = 3)

  final case class PrepReport(
      input: Long, afterQuality: Long, afterLang: Long,
      afterExact: Long, kept: Long)

  /** Distribution-relative quality gate: drop the bottom `dropFrac` of
    * documents by a quality metric (default: stopword ratio, the
    * strongest single prose signal of [[TextAnalysis.qualityColumns]]).
    * Fixed thresholds go stale as the crawl mix drifts; a quantile cut
    * tracks the distribution. The cutoff is one approx_percentile
    * aggregate (t-digest, mergeable — a single tiny job at any corpus
    * size); the gate itself is a projection filter. The approximation
    * moves the cutoff, never the ordering: everything kept is at least
    * as good as everything dropped. */
  def qualityQuantileGate(docs: DataFrame, textCol: String,
                          dropFrac: Double,
                          metric: Option[org.apache.spark.sql.Column] = None,
                          accuracy: Int = 10000): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1,
      s"dropFrac must be in [0, 1), got $dropFrac")
    if (dropFrac == 0) docs
    else {
      val m = metric.getOrElse(
        TextAnalysis.qualityColumns(textCol).toMap.apply("stopword_ratio"))
      val withM = docs.withColumn("__m", m)
      val cut = withM
        .agg(expr(s"approx_percentile(__m, $dropFrac, $accuracy)"))
        .head().getDouble(0)
      withM.filter(col("__m") >= cut).drop("__m")
    }
  }

  def prepare(docs: DataFrame, idCol: String, textCol: String,
              cfg: PrepConfig = PrepConfig()): (DataFrame, PrepReport) = {
    // The quality metrics and language guess are pure codegen'd
    // projections, so the gate booleans ride along every row and ALL gate
    // attrition counts come from ONE conditional aggregation over ONE scan
    // — not a count() action (full pass) per stage. At 100 TB that is the
    // difference between reading the crawl once and reading it three
    // times before dedup even starts (VERDICT r1 perf audit of q79).
    val metrics = TextAnalysis.qualityColumns(textCol).toMap
    val qOk = metrics("n_tokens").between(cfg.minTokens, cfg.maxTokens) &&
      metrics("stopword_ratio")
        .between(cfg.minStopwordRatio, cfg.maxStopwordRatio)
    val lOk =
      if (cfg.allowedLangs.isEmpty) lit(true)
      else TextAnalysis.languageGuess(textCol).isin(cfg.allowedLangs: _*)
    val flagged = docs
      .withColumn("__q", qOk)
      .withColumn("__ql", qOk && lOk)
    val g = flagged.agg(
      count(lit(1)).as("input"),
      count(when(col("__q"), 1)).as("after_quality"),
      count(when(col("__ql"), 1)).as("after_lang")).collect()(0)
    val (input, afterQuality, afterLang) =
      (g.getLong(0), g.getLong(1), g.getLong(2))
    val afterLangDf = Cut.rows(flagged.filter(col("__ql")).drop("__q", "__ql"))

    // afterLang IS dedupCorpus's input count — pass it down so the
    // report costs no extra corpus scan
    val (cleaned, dedupReport) = Dedup.dedupCorpus(
      afterLangDf, idCol, textCol, cfg.shingleN, cfg.nearDupThreshold,
      knownInput = Some(afterLang))

    (cleaned, PrepReport(
      input = input,
      afterQuality = afterQuality,
      afterLang = afterLang,
      afterExact = afterLang - dedupReport.exactRemoved,
      kept = dedupReport.kept))
  }
}
