package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training pipelines (SURVEY.md
  * §2.8c; the train/val/test assignment every corpus build runs).
  *
  * The split is a pure projection on a content-stable hash of the id —
  * no RNG, no state: the same row lands in the same split on any cluster
  * size, any run, any engine (MD5 is the cross-engine anchor; the q82
  * oracle recomputes the identical assignment in DuckDB SQL). That
  * determinism is what makes 100 TB splits auditable and incrementally
  * extendable — new data slots in without reshuffling old assignments.
  */
object Sampling {

  /** Deterministic bucket in [0, buckets): first 8 MD5 hex digits of the
    * stringified id as an integer, mod buckets. Fully codegen'd. */
  def hashBucket(id: Column, buckets: Int = 10000): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("bigint"), lit(buckets.toLong))

  /** Adds a `split` column assigning each row to a named split by
    * cumulative weight over the hash bucket (weights are normalized, so
    * (8,1,1) and (0.8,0.1,0.1) are equivalent). Deterministic and
    * engine-reproducible; thresholds are integral buckets. */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)],
                buckets: Int = 10000): DataFrame =
    hashSplitOn(df, col(idCol), splits, buckets)

  /** Iterative proportional fitting (raking) to UNIFORM margins — the
    * two-axis corpus rebalancer: one multiplicative weight per
    * (rowCat, colCat) cell such that after `iters` sweeps the weighted
    * mass is (approximately) equal across row categories AND across
    * column categories simultaneously — e.g. balance a training corpus
    * by language × source when per-axis resampling would unbalance the
    * other axis. Classic Deming–Stephan; converges geometrically for
    * strictly positive cells.
    *
    * The corpus-scale work is ONE grouped count producing the CELL
    * table (row-cardinality × col-cardinality — vocabulary-scale by
    * definition); the sweeps themselves run DRIVER-SIDE over the
    * collected cells (the bounded-driver-state altitude of the
    * k-means quantizer and BPE merge table — a raking problem with a
    * corpus-sized category product is mis-specified, not under-
    * distributed). Determinism: cell counts integral; margins fold in
    * sorted category order; each factor is ONE division of the
    * uniform target by its margin; weights are products of factors in
    * a fixed sweep order — all IEEE ops an oracle replays verbatim.
    * Returns (rowCol, colCol, n, weight); apply by joining on the two
    * categories.
    *
    * `maxCells` ENFORCES the bounded-driver-state altitude (the
    * Bpe.train(maxWords) / ivfIndex(trainSample) discipline): the cell
    * table is counted distributively before collect(), and a category
    * product above the bound fails fast with the mis-specification
    * message instead of OOMing the driver — two high-cardinality
    * columns make a raking problem ill-posed, not under-distributed. */
  def ipfWeights(df: DataFrame, rowCol: String, colCol: String,
                 iters: Int = 2, maxCells: Long = 100000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    val spark = df.sparkSession
    val cellTab = df.select(col(rowCol).cast("string").as("__r"),
        col(colCol).cast("string").as("__c"))
      .groupBy("__r", "__c").agg(count(lit(1)).as("n"))
      .transform(Cut.rows) // consumed twice: the bound count, then the collect
    val cells = try {
      val nCells = cellTab.count()
      require(nCells <= maxCells,
        s"ipfWeights: $nCells distinct ($rowCol, $colCol) cells exceed " +
          s"maxCells=$maxCells — IPF raking sweeps the cell table " +
          s"driver-side (bounded-driver-state altitude); a category " +
          s"product this large means the raking axes are mis-specified, " +
          s"not that the sweep should be distributed. Coarsen the " +
          s"categories or raise maxCells deliberately.")
      cellTab
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
    } finally Cut.release(cellTab) // both consumers done (eager-action op)
    val rows = cells.map(_._1).distinct.sorted
    val colsK = cells.map(_._2).distinct.sorted
    val nTotal = cells.map(_._3).sum.toDouble
    val rowT = nTotal / rows.length
    val colT = nTotal / colsK.length
    val w = scala.collection.mutable.Map[(String, String), Double]() ++
      cells.map(t => (t._1, t._2) -> 1.0)
    for (_ <- 1 to iters) {
      // row sweep: margins fold in sorted col order (LIST_REDUCE shape)
      for (r <- rows) {
        var s = 0.0
        for (t <- cells if t._1 == r) s += w((t._1, t._2)) * t._3
        val f = rowT / s
        for (t <- cells if t._1 == r) w((t._1, t._2)) *= f
      }
      for (c <- colsK) {
        var s = 0.0
        for (t <- cells if t._2 == c) s += w((t._1, t._2)) * t._3
        val f = colT / s
        for (t <- cells if t._2 == c) w((t._1, t._2)) *= f
      }
    }
    import spark.implicits._
    cells.map(t => (t._1, t._2, t._3, w((t._1, t._2)))).toSeq
      .toDF(rowCol, colCol, "n", "weight")
  }

  /** Rolling-origin backtest folds — time-series cross-validation
    * (expanding-window form): fold i trains on everything up to
    * cutoff_i and tests on the following `horizon` whole-day window,
    * with cutoffs spaced `step` days back from the corpus end.
    * Random k-folds leak the future into training; the embargoed
    * split (q182) gives ONE honest split — this gives the k of them a
    * forecast backtest needs. Emits one row per (fold, in-scope row):
    * (fold, role ∈ train|test, …cols) — a deliberate ≤ k× expansion,
    * bounded by `folds` exactly like the Poisson bootstrap's b×.
    * Integral day arithmetic throughout; rows after a fold's test
    * window are absent from that fold. One broadcast of the 1-row
    * corpus-end scalar; no shuffles beyond it. */
  def rollingOriginFolds(df: DataFrame, tsCol: String, folds: Int,
                         horizonDays: Long, stepDays: Long): DataFrame = {
    require(folds >= 1 && horizonDays >= 1 && stepDays >= 1,
      s"bad folds/horizon/step: $folds/$horizonDays/$stepDays")
    val endUs = df.agg(max(unix_micros(col(tsCol))).as("__end"))
    val day = call_function("div", unix_micros(col(tsCol)),
      lit(86400000000L))
    val endDay = call_function("div", col("__end"), lit(86400000000L))
    val foldDf = df.sparkSession.range(folds.toLong)
      .select(col("id").as("fold"))
    // fold f cutoff = endDay − horizon − f·step (fold 0 is the latest)
    df.crossJoin(broadcast(endUs))
      .withColumn("__d", day)
      .withColumn("__endDay", endDay)
      .crossJoin(broadcast(foldDf))
      .withColumn("__cut",
        col("__endDay") - lit(horizonDays) - col("fold") * lit(stepDays))
      .filter(col("__d") <= col("__cut") + lit(horizonDays))
      .withColumn("role",
        when(col("__d") <= col("__cut"), lit("train"))
          .otherwise(lit("test")))
      .drop("__end", "__d", "__endDay", "__cut")
  }

  /** Stratified k-fold assignment — cross-validation folds that are
    * EXACTLY balanced within every stratum (hash-mod folds are only
    * balanced in expectation; a small stratum can land lopsided):
    * rows rank within their stratum by (md5(id), id) — a deterministic
    * pseudo-random order — and fold = rank mod k, so per (stratum,
    * fold) counts differ by at most 1. One per-stratum ranking window;
    * reproducible under re-runs and repartitioning. */
  def stratifiedFolds(df: DataFrame, strataCol: String, idCol: String,
                      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("fold",
      pmod(row_number().over(w).cast("long") - 1, lit(k.toLong)))
  }

  /** [[hashSplit]] with an arbitrary key expression (the core the
    * row-id and grouped splits share). */
  def hashSplitOn(df: DataFrame, key: Column,
                  splits: Seq[(String, Double)],
                  buckets: Int = 10000): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "positive weights")
    val total = splits.map(_._2).sum
    val thresholds = splits.map(_._2).scanLeft(0.0)(_ + _)
      .tail.map(w => math.round(w / total * buckets))
    // A weight below ~0.5/buckets of the total rounds to the previous
    // threshold and its split would silently receive zero buckets
    // (ADVICE r2) — fail fast; callers can raise `buckets`.
    require((0L +: thresholds).zip(thresholds).forall { case (a, b) => a < b },
      s"split weights too small for $buckets buckets (thresholds " +
        s"${thresholds.mkString(",")} must be strictly increasing); " +
        "raise `buckets` or merge tiny splits")
    val b = hashBucket(key, buckets)
    val assign = splits.map(_._1).zip(thresholds).init
      .foldRight(lit(splits.last._1)) { case ((name, t), rest) =>
        when(b < t, name).otherwise(rest)
      }
    df.withColumn("split", assign)
  }

  /** Leakage-safe split: every row sharing the (possibly multi-column)
    * group key lands in the SAME split. Splitting a corpus by row id
    * leaks — near-duplicates, pages from one site, chunks of one
    * document end up straddling train/test and inflating eval. Hashing
    * the GROUP key instead makes the group atomic: the whole site /
    * document / author moves as one unit. Weights therefore apportion
    * GROUPS, not rows — a corpus dominated by a few huge groups will
    * see row-level proportions drift, which is the correct trade
    * (the alternative IS the leak). Same MD5 anchor as [[hashSplit]];
    * multi-column keys join on U+0001 (CHR(1) in the DuckDB replay —
    * must not appear inside key values), so an independent engine
    * reproduces the assignment. Pure projection — no shuffle, no
    * group-by. */
  def groupedHashSplit(df: DataFrame, groupCols: Seq[String],
                       splits: Seq[(String, Double)],
                       buckets: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val key = concat_ws("\u0001",
      groupCols.map(c => col(c).cast("string")): _*)
    hashSplitOn(df, key, splits, buckets)
  }

  /** Stratified sample: per-stratum fractions (seeded Bernoulli per
    * stratum via Spark's `sampleBy` — the standard class-balancing
    * primitive; one scan, no shuffle). */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       fractions: Map[String, Double],
                       seed: Long = 42L): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Mixture sampling — the data-mixing primitive of a pretraining run:
    * each source (the value of `sourceCol`) is kept at its own rate,
    * e.g. code ×1.0, web ×0.3, forums ×0.1. Deterministic MD5-bucket
    * rule per row (the q82 anchor), so the mixture is reproducible and
    * auditable by an independent engine, and re-runs on grown sources
    * keep previously-selected rows selected. Unlisted sources drop
    * (rate 0). Pure projection filter — no shuffle, no RNG. */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
                    rates: Map[String, Double],
                    buckets: Int = 10000): DataFrame = {
    require(rates.nonEmpty && rates.values.forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val b = hashBucket(col(idCol), buckets)
    val threshold = rates.foldLeft(lit(0.0)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r * buckets)).otherwise(acc)
    }
    df.filter(b < threshold)
  }

  /** Per-group cap — the diversity limit of a curation pipeline (at most
    * `cap` documents per domain/language/source): deterministic keep
    * rule = the `cap` members with the smallest MD5 bucket (ties broken
    * by id), so the survivors are a stable pseudo-random subset, not
    * whatever partition order produced. One shuffle on the group key. */
  def groupCap(df: DataFrame, groupCol: String, idCol: String,
               cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(hashBucket(col(idCol), 1 << 30), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap).drop("__rk")
  }

  /** Token-budget sampling — the "take N tokens per source" primitive
    * of a training-mix build (mixture weights are specified in TOKENS,
    * not documents, because that is what the model trains on):
    * within each group, documents are taken in deterministic MD5-hash
    * order (ties by id — a stable pseudo-random order any engine
    * reproduces) while the RUNNING token total stays within `budget`.
    * Strict prefix rule: the first document that would overflow the
    * budget stops the group — simple, auditable, and exactly
    * replayable as a cumulative-sum window in SQL; the budget error is
    * at most one document.
    *
    * `tokenCol` is the per-document token count (precomputed — pair
    * with [[TextAnalysis.tokenCounts]]). One shuffle on the group key
    * for the per-group window; no global sort. */
  def tokenBudgetSample(df: DataFrame, groupCol: String, idCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(groupCol)
      .orderBy(hashBucket(col(idCol), 1 << 30), col(idCol))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") <= budget).drop("__cum")
  }

  /** Deterministic epoch shuffle: a reproducible pseudo-random total
    * order — ORDER BY md5(epoch ‖ id). Different epochs give different,
    * fixed permutations; any engine reproduces the order. The sort is
    * Spark's usual range-partitioned distributed sort. */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Long): DataFrame =
    df.orderBy(md5(concat_ws("#", lit(epoch), col(idCol).cast("string"))),
      col(idCol))

  /** Deterministic weight-proportional sample of `k` rows: the
    * Efraimidis–Spirakis A-Res rule (priority = u^(1/w), take the top
    * k) with the uniform u derived from the MD5 bucket instead of an
    * RNG — so the sample is reproducible and auditable like every other
    * sampler here, and rows with twice the weight have (exactly) twice
    * the inclusion odds in the limit. Priorities are computed as a
    * projection; selection is one global top-k (rank via ln(u)/w, which
    * is monotone with u^(1/w) and numerically safer). Zero-weight rows
    * never win over positive-weight rows. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, buckets: Int = 1 << 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // u in (0, 1]: shift the bucket by one so u is never 0
    val u = (hashBucket(col(idCol), buckets) + 1).cast("double") / buckets
    // quantized ln (q201 finding): the priority ranks a hash-checked
    // top-k, and a raw-ln 1-ulp flip near a rank boundary would change
    // the selected set
    val priority = when(col(weightCol) > 0, Exact.lnq(u) / col(weightCol))
      .otherwise(lit(Double.NegativeInfinity))
    // larger priority wins (log u is negative; dividing by a larger
    // weight moves it toward 0)
    df.withColumn("__p", priority)
      .orderBy(col("__p").desc, col(idCol))
      .limit(k)
      .drop("__p")
  }

  /** Cross-split near-duplicate leakage report — the audit every
    * train/test split needs before an eval number is trusted: a near-dup
    * pair with one member in train and one in test leaks the answer.
    * `pairs` is any near-dup pair set (exact Jaccard, MinHash, SemDeDup —
    * all tiers here emit (a, b) pairs); `assign` is a [[hashSplit]]-style
    * (id, split) table. Returns one row per unordered split pair with
    * the pair count and a `leaked` flag on the cross-split rows.
    *
    * Scale shape: two equi-joins on the id (the assignment side is a
    * projection of the corpus — AQE broadcasts it when small) and one
    * grouped count on ≤ splits² keys. The expensive part — the pair
    * set — is an input, so the audit composes with whichever dedup tier
    * already ran instead of re-mining pairs. */
  def splitLeakage(pairs: DataFrame, assign: DataFrame, idCol: String,
                   aCol: String = "a", bCol: String = "b"): DataFrame = {
    val sa = assign.select(col(idCol).as(aCol), col("split").as("__sa"))
    val sb = assign.select(col(idCol).as(bCol), col("split").as("__sb"))
    pairs.join(sa, Seq(aCol)).join(sb, Seq(bCol))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
  }

  /** Temperature-smoothed mixture allocation (the T5/PaLM α-sampling
    * rule): given per-source sizes n_i, allocate a document budget
    * proportionally to n_i^α — α = 1 is proportional, α = 0 uniform,
    * α ≈ 0.3–0.7 upweights small high-quality sources without drowning
    * in the largest crawl. Returns one row per source with its exact
    * integer allocation; allocations sum to the budget via
    * largest-remainder rounding (floor each ideal share, then +1 to the
    * largest fractional remainders, ties to the lexicographically
    * smallest source).
    *
    * Scale shape: one grouped count over the corpus, then everything
    * runs on the per-source aggregate — cardinality = #sources, bounded
    * and tiny, so the single-partition windows here are windows over a
    * handful of rows, not the corpus. Determinism: Σ n_i^α is an IEEE
    * sum, so it is folded in sorted source order (the bm25 discipline);
    * every downstream comparison is then engine-reproducible. */
  def temperatureAllocation(df: DataFrame, sourceCol: String,
                            alpha: Double, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    val W = org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", pow(col("n_docs").cast("double"), lit(alpha)))
    // order-free total: sorted-order fold over the (tiny) source list
    val tot = counts.agg(
      aggregate(array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("sumw"))
    val ideal = counts.crossJoin(broadcast(tot))
      .withColumn("ideal", lit(budget.toDouble) * col("w") / col("sumw"))
      .withColumn("base", floor(col("ideal")).cast("long"))
      .withColumn("frac", col("ideal") - col("base"))
    // leftover = budget − Σ base; the Σ and the remainder rank are
    // windows over #sources rows (see scaladoc) — not corpus-sized
    val leftover = lit(budget) - sum("base").over(W.partitionBy())
    val rk = row_number().over(
      W.partitionBy().orderBy(col("frac").desc, col("source")))
    ideal
      .withColumn("alloc",
        col("base") + when(rk <= leftover, 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("alloc"))
  }

  /** Leakage-safe temporal split with an embargo gap (the purged split
    * of time-series ML): rows at or before `cutoff` train, rows after
    * cutoff + `embargoSeconds` test, and the embargo window between is
    * DROPPED from both — a model trained through the cutoff must not be
    * evaluated on rows its label horizon could still touch. Pure
    * zero-shuffle projection; microsecond-exact boundaries (both
    * comparisons are timestamp comparisons, no epoch truncation). */
  def temporalSplit(df: DataFrame, tsCol: String, cutoff: String,
                    embargoSeconds: Long): DataFrame = {
    require(embargoSeconds >= 0, s"embargo must be >= 0: $embargoSeconds")
    val cut = to_timestamp(lit(cutoff))
    val testFrom = to_timestamp(lit(cutoff)) +
      expr(s"INTERVAL $embargoSeconds SECOND")
    df.withColumn("split",
      when(col(tsCol) <= cut, "train")
        .when(col(tsCol) > testFrom, "test")
        .otherwise("embargo"))
  }

  /** Poisson(1) CDF thresholds P(X ≤ k), k = 0..8 — the inverse-CDF
    * ladder for hash-derived bootstrap weights. Written as literals so
    * BOTH engines parse the identical decimal text. */
  private[ops] val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726562, 0.9994058151824182,
    0.999916758850712, 0.9999897508033254, 0.9999988747974021)

  /** Weighted sampling WITHOUT replacement, k per group — the
    * Efraimidis–Spirakis A-ES scheme: each row draws a key
    * ln(u)/w (u uniform from the row's hash, w its weight) and the k
    * LARGEST keys per group are exactly a weight-proportional
    * without-replacement draw. One projection + one per-group top-k
    * window — no sequential reservoir, no driver state, deterministic
    * under re-runs and repartitioning (the property a reproducible
    * corpus-mixing pipeline needs; [[weightedSample]] is the
    * with-replacement/Bernoulli counterpart).
    *
    * Exactness: u = (hash + ½)/2³² is an exact dyadic in (0,1); ln goes
    * through [[Exact.lnq]] (the 2⁻²⁶ grid — raw libm ln is 1-ulp loose
    * cross-engine); the single division by w is correctly rounded from
    * identical inputs; ties broken by id. */
  def weightedSampleWithoutReplacement(df: DataFrame, groupCol: String,
      idCol: String, w: Column, k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hv = conv(substring(md5(concat_ws(":",
        col(idCol).cast("string"), lit(seed))), 1, 8), 16, 10)
      .cast("bigint")
    val u = (hv.cast("double") + lit(0.5)) / lit(4294967296.0)
    // guard mirrors weightedSample: a non-positive weight must never
    // outrank a valid row (ln(u)<0, so ln(u)/w>0 for w<0 — it would
    // silently ALWAYS win; w=0 divides by zero). Sink it instead.
    val key = when(w > lit(0), Exact.lnq(u) / w)
      .otherwise(lit(Double.NegativeInfinity))
    val ranked = df
      .withColumn("__wk", key)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
          .orderBy(col("__wk").desc, col(idCol))))
    ranked.filter(col("__rk") <= k)
      .withColumnRenamed("__wk", "sample_key")
      .withColumnRenamed("__rk", "sample_rank")
  }

  /** Poisson bootstrap confidence interval for a per-group mean — THE
    * scale-right resampling scheme: classical bootstrap draws n rows
    * with replacement per replicate (a global sample per replicate — b
    * full shuffles), while the Poisson approximation gives every row an
    * independent Poisson(1) replication weight, so ALL b replicates are
    * computed in ONE pass: explode each row into (row, replicate) pairs
    * with a weight from the hash-derived uniform, then one grouped agg
    * and one b-row-per-group ranking window. Cost is a deterministic
    * b× map-side expansion — no data-sized shuffle per replicate, no
    * driver-side sampling state.
    *
    * Determinism/oracle discipline: one md5 of "id:block:seed" serves
    * FOUR replicates (replicate r reads hex slice r mod 4 of block
    * r ÷ 4 — a 4× cut of the dominant hashing cost; the slices of one
    * digest are independent uniforms); u = slice/2³² is an EXACT
    * dyadic double fed through the literal [[PoissonCdf]] ladder;
    * replicate means divide exact integer sums ONCE (pass an integral
    * `x`); the CI bounds are order statistics of the b replicate means
    * (ranks ⌊α/2·b⌋+1 and b−⌊α/2·b⌋, ties broken by replicate id), not
    * interpolated percentiles — every step replays bit-for-bit
    * cross-engine. A replicate that draws zero total weight
    * (probability e^(−n·b)) yields a NULL mean and is excluded on both
    * engines. */
  def poissonBootstrap(df: DataFrame, groupCol: String, idCol: String,
                       x: Column, b: Int, alpha: Double,
                       seed: String): DataFrame = {
    require(b >= 4, s"need at least 4 replicates, got $b")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val loR = (alpha / 2 * b).toInt + 1
    val hiR = b - (alpha / 2 * b).toInt
    // Spread the PRE-expansion rows across the cluster: the b× explode
    // is narrow, so a source that arrives in few splits (one small
    // parquet file; a filtered scan) would otherwise run the entire
    // hash+weight pipeline on those few cores. Repartitioning the base
    // costs 1/b of the exploded volume — measured 10× on the fixture
    // bench (single-split parquet: 3.8 s → 0.4 s steady-state).
    val base = df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
        x.as("__x"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val est = base.groupBy("__g").agg(count(lit(1)).as("n"),
      (sum("__x").cast("double") / count(lit(1))).as("estimate"))
    val digest = md5(concat_ws(":", col("__id").cast("string"),
      call_function("div", col("__r"), lit(4)).cast("string"), lit(seed)))
    val u = conv(call_function("substring", digest,
        (pmod(col("__r"), lit(4)) * 8 + 1).cast("int"), lit(8)), 16, 10)
      .cast("bigint").cast("double") / lit(4294967296.0)
    val w = PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.length): Column) {
      case ((t, k), rest) => when(col("__u") < t, lit(k)).otherwise(rest)
    }
    val means = base
      .withColumn("__r", explode(sequence(lit(0L), lit((b - 1).toLong))))
      .withColumn("__u", u).withColumn("__w", w)
      .groupBy("__g", "__r")
      .agg(sum(col("__w")).as("__sw"),
        sum(col("__w") * col("__x")).as("__swx"))
      .withColumn("__m", when(col("__sw") === 0, lit(null))
        .otherwise(col("__swx").cast("double") / col("__sw")))
      .filter(col("__m").isNotNull)
    val ranked = means.withColumn("__rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
        .orderBy(col("__m"), col("__r"))))
    val ci = ranked.filter(col("__rk") === loR || col("__rk") === hiR)
      .groupBy("__g")
      .agg(min(when(col("__rk") === loR, col("__m"))).as("ci_lo"),
        min(when(col("__rk") === hiR, col("__m"))).as("ci_hi"))
    est.join(ci, "__g")
      .select(col("__g").as(groupCol), col("n").cast("long").as("n"),
        col("estimate"), col("ci_lo"), col("ci_hi"))
  }
}
