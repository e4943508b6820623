package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Descriptive multi-column statistics computed the scale-right way:
  * everything from ONE scan, ONE aggregation.
  *
  * The naive correlation matrix loops `df.stat.corr(a, b)` over pairs —
  * k·(k−1)/2 full scans of a 100 TB table. Here all pairwise moments ride
  * a single Aggregate (Spark's corr/covar are single-pass streaming
  * aggregates with map-side partials), the one-row result is exploded to
  * long format driver-free, and the scan reads only the k probed columns
  * (column pruning reaches the parquet scan — asserted in the suite).
  */
object Stats {

  /** Long-format Pearson correlation + sample covariance over every
    * unordered column pair: (col_a, col_b, corr, cov) with col_a < col_b
    * in the given order. One job, one scan, one shuffle-free final row.
    * NULLs are handled pairwise (Spark/ANSI corr semantics: rows where
    * either side is NULL are skipped for that pair). */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(corr(col(a), col(b)).as(s"__corr_${a}_$b"),
        covar_samp(col(a), col(b)).as(s"__cov_${a}_$b"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"__corr_${a}_$b").as("corr"), col(s"__cov_${a}_$b").as("cov"))
    }
    one.select(explode(array(entries: _*)).as("e")).select("e.*")
  }

  /** Equi-depth histogram — ANALYZE-style optimizer statistics: `buckets`
    * buckets of (approximately) equal row count; boundaries are the
    * buckets−1 exact interpolating percentiles broadcast back; bucket
    * assignment is a pure projection (count of boundaries strictly
    * below the value). Use a power-of-two bucket count so every
    * percentage k/buckets is binary-exact — both engines then parse
    * identical boundary percentiles, which is what makes the histogram
    * oracle-able.
    *
    * r17 (VERDICT r16 item 4, guide §2): the exact boundary pass is no
    * longer one `percentile(x, ps)` aggregate — that operator merges
    * and SORTS every partial value→count map on a SINGLE reducer (583k
    * distinct values per 600k rows at sf0.1; unbounded at 100 TB).
    * Boundaries now come from a distributed distinct-value
    * cumulative-count pass ([[cumCountsFromCounts]]'s bucketed prefix
    * sum) that reproduces `Percentile`'s result bit-for-bit: for knot p
    * the position is (N−1)·p (N = non-null count), lowerKey/higherKey
    * are the distinct values whose [cb, cb+count) rank span contains
    * floor/ceil(position), and the interpolation
    * (hi−pos)·lowerKey + (pos−lo)·higherKey — applied only when hi > lo
    * and the keys differ, exactly Percentile's two short-circuits — is
    * the same IEEE double arithmetic in the same order. (Corner shared
    * with grouping semantics engine-wide: Percentile's map keeps -0.0
    * and 0.0 as distinct keys with an unstable sort between them while
    * groupBy normalizes; indistinguishable unless a knot lands exactly
    * between signed zeros.)
    *
    * `exact = false` stays the bounded-buffer t-digest dial
    * (`approx_percentile`, accuracy 10⁴) for corpora where even the
    * distinct-value table is unwelcome; exact remains the default so
    * the q167 oracle replays unchanged. */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
                         buckets: Int, exact: Boolean = true): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val x = col(valueCol).cast("double")
    val ps = (1 until buckets).map(_.toDouble / buckets).toArray
    val bnds =
      if (exact) exactPercentiles(df, x, ps)
      else df.agg(approx_percentile(x, typedLit(ps), lit(10000)).as("__bnds"))
    df.crossJoin(broadcast(bnds))
      .withColumn("bucket", size(filter(col("__bnds"), b => x > b)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(x).as("lo"), max(x).as("hi"))
  }

  /** Distributed exact interpolating percentiles — one row with
    * `__bnds`: the values `percentile(x, ps)` would return, computed
    * without its single-reducer map merge+sort (see the
    * [[equiDepthHistogram]] scaladoc for the bit-for-bit argument).
    * `private[graft]` so the equivalence probe can compare it against
    * the builtin directly. */
  private[graft] def exactPercentiles(df: DataFrame, x: Column,
                                      ps: Array[Double]): DataFrame = {
    val vc = df.filter(x.isNotNull).groupBy(x.as("__v"))
      .agg(count(lit(1)).as("__c"))
    // cut before the range shuffle samples it (the groupedPrefixSums
    // input cut); the cumulative table feeds three consumers (the N
    // aggregate, the knot join and its broadcast build)
    val cum = cumCountsFromCounts(Cut.summary(vc)).transform(Cut.rows)
    val knots = cum.agg(sum("__c").as("__n"))
      .select(posexplode(typedLit(ps)).as(Seq("__k", "__p")), col("__n"))
      .select(col("__k"),
        ((col("__n") - 1).cast("double") * col("__p")).as("__pos"))
      .select(col("__k"), col("__pos"),
        floor(col("__pos")).as("__lo"), ceil(col("__pos")).as("__hi"))
    // ONE pass over cum finds both rank keys: a knot's floor/ceil ranks
    // differ by at most 1, so the rows whose [cb, cb+c) span contains
    // either rank satisfy cb <= hi && lo < cb+c (≤ 2 rows per knot),
    // and the per-knot aggregate separates lowerKey from higherKey.
    val inLo = col("__cb") <= col("__lo") &&
      col("__lo") < col("__cb") + col("__c")
    val inHi = col("__cb") <= col("__hi") &&
      col("__hi") < col("__cb") + col("__c")
    cum.join(broadcast(knots),
        col("__cb") <= col("__hi") && col("__lo") < col("__cb") + col("__c"))
      .groupBy(col("__k"), col("__pos"), col("__lo"), col("__hi"))
      .agg(max(when(inLo, col("__v"))).as("__lk"),
        max(when(inHi, col("__v"))).as("__hk"))
      .select(col("__k"),
        when(col("__hi") === col("__lo") || col("__hk") === col("__lk"),
          col("__lk"))
          .otherwise(
            (col("__hi").cast("double") - col("__pos")) * col("__lk") +
              (col("__pos") - col("__lo").cast("double")) * col("__hk"))
          .as("__bnd"))
      .agg(collect_list(struct(col("__k"), col("__bnd"))).as("__kb"))
      // empty input ⇒ null boundary array, matching percentile()'s
      // null result (so the all-null-column corner is unchanged)
      .select(when(size(col("__kb")) === 0,
          lit(null).cast("array<double>"))
        .otherwise(transform(array_sort(col("__kb")),
          s => s.getField("__bnd"))).as("__bnds"))
  }

  /** Per-group Welch two-sample t-test: does `valueCol` differ between
    * the rows where `cohort` is true and the rest? Returns one row per
    * group with both cohorts' (n, mean), the t statistic, and the
    * Welch–Satterthwaite degrees of freedom — the A/B readout every
    * events pipeline ends in.
    *
    * ONE scan, ONE aggregation: both cohorts' moments ride the same
    * grouped aggregate as conditional columns (`avg(when(cohort, x))`
    * skips the other cohort's rows as nulls), and the t/df formulas are
    * a projection over the six aggregates — closed-form, no second
    * pass, no per-cohort job. */
  def welchT(df: DataFrame, groupCol: String, cohort: Column,
             valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val a = when(cohort, x); val b = when(!cohort, x)
    val agg = df.groupBy(col(groupCol))
      .agg(count(a).as("n1"), avg(a).as("m1"), var_samp(a).as("v1"),
        count(b).as("n2"), avg(b).as("m2"), var_samp(b).as("v2"))
    // squares spelled x*x, not pow(x, 2): Java Math.pow and C libm pow
    // may differ in the last ulp, multiplication never does
    val se1 = col("v1") / col("n1"); val se2 = col("v2") / col("n2")
    val se = se1 + se2
    agg
      .withColumn("t", (col("m1") - col("m2")) / sqrt(se))
      .withColumn("df",
        (se * se) /
          (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)))
  }

  /** ROC-AUC for a binary classifier — the evaluation readout of every
    * quality-classifier gate ([[graft.ops.Classifier]]): the probability
    * a random positive outscores a random negative, ties counted half
    * (the Mann–Whitney U formulation, which IS the area under the ROC
    * curve with tie interpolation).
    *
    * Exact-integer discipline: rows first collapse to one row per
    * (group, score) with positive/negative counts — ONE shuffle that
    * also dedups the prefix-sum input — then a running negative count
    * over ascending score gives each score's "negatives strictly below"
    * in integers, and the numerator Σ pos·(2·neg_below + neg_tied)
    * stays integral until the single final division by 2·n₁·n₀. No
    * floating accumulation anywhere, so the value is bit-identical on
    * any engine and partitioning (the q158/q159 discipline) and
    * hash-oracle-able.
    *
    * Scale: the window runs over the DISTINCT-score table, partitioned
    * by `groups` when given. Real classifier scores are
    * finite-precision (quantize first if truly continuous); grouped
    * calls never see a single-partition window. */
  def rocAuc(df: DataFrame, score: Column, positive: Column,
             groups: Seq[String] = Nil): DataFrame = {
    val gcols = groups.map(col)
    val perScore = df
      .groupBy(gcols :+ score.as("__s"): _*)
      .agg(sum(when(positive, 1L).otherwise(0L)).as("__p"),
        sum(when(positive, 0L).otherwise(1L)).as("__g"))
    val w = (if (groups.isEmpty) Window.partitionBy()
             else Window.partitionBy(gcols: _*))
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val negBelow = coalesce(sum(col("__g")).over(w), lit(0L))
    val contrib2 = col("__p") * (lit(2L) * negBelow + col("__g"))
    perScore
      .withColumn("__c2", contrib2)
      .groupBy(gcols: _*)
      .agg(sum("__p").cast("long").as("n_pos"),
        sum("__g").cast("long").as("n_neg"),
        sum("__c2").cast("long").as("num2"))
      .withColumn("auc",
        // single-class groups have no ranking to score: NULL, not a
        // divide-by-zero (ANSI mode makes x/0 an ERROR, not NaN)
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))))
  }

  /** Calibration table: equal-width score bins over [lo, hi) (outliers
    * clamp to the edge bins), each with row count, positive count, the
    * observed positive rate, and the mean score — is a score of 0.8
    * actually right 80% of the time? Pure projection + ONE grouped
    * aggregation. The mean accumulates in exact integer hundredths
    * (`ROUND(score·100)`) and divides once, so bins hash-replay
    * cross-engine; rates are single divisions of exact counts. */
  def calibrationBins(df: DataFrame, score: Column, positive: Column,
                      bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins >= 2 && hi > lo, s"bad bin spec: $bins over [$lo, $hi)")
    val width = (hi - lo) / bins
    val raw = floor((score - lit(lo)) / lit(width)).cast("long")
    val bin = least(greatest(raw, lit(0L)), lit(bins - 1L))
    df.select(bin.as("bin"),
        when(positive, 1L).otherwise(0L).as("__p"),
        round(score * 100).cast("long").as("__cents"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__p").cast("long").as("pos"),
        sum("__cents").cast("long").as("sum_cents"))
      .withColumn("pos_rate", col("pos").cast("double") / col("n"))
      .withColumn("mean_score",
        col("sum_cents").cast("double") / (lit(100.0) * col("n")))
      .drop("sum_cents")
  }

  /** Expected calibration error over [[calibrationBins]]: ECE =
    * Σ_b (n_b/N)·|pos_rate_b − mean_score_b| — the one-number summary
    * model monitoring alarms on. The fold runs in-row over the sorted
    * bin table (the woeIv discipline; never a windowed double sum) and
    * each term is assembled from the bins' already-hash-stable
    * columns. Returns one row: (n, n_bins, ece). */
  def expectedCalibrationError(df: DataFrame, score: Column,
                               positive: Column, bins: Int, lo: Double,
                               hi: Double): DataFrame = {
    val b = calibrationBins(df, score, positive, bins, lo, hi)
    val withT = b.crossJoin(broadcast(b.agg(sum("n").as("__nn"))))
      .withColumn("__t", (col("n").cast("double") / col("__nn")) *
        abs(col("pos_rate") - col("mean_score")))
    withT.agg(sum("n").cast("long").as("n"),
      count(lit(1)).cast("long").as("n_bins"),
      aggregate(array_sort(collect_list(struct(col("bin"), col("__t")))),
        lit(0.0), (acc, e) => acc + e.getField("__t")).as("ece"))
  }

  /** Pearson chi-squared test of independence between two categorical
    * columns, with Cramér's V effect size — does language depend on
    * source, does status depend on priority?
    *
    * ONE raw-data shuffle (the contingency-cell aggregation); everything
    * after runs over the cell table, which is |A|·|B| rows — small by
    * the definition of "categorical" — so the global windows that
    * compute marginals, category counts, and the ordered statistic fold
    * never touch raw data again (no second scan, no cache needed).
    *
    * Determinism discipline: observed counts and marginals stay
    * integral; each cell's contribution is
    * (o·N − r·c)²/(r·c·N) — the numerator difference exact in BIGINT,
    * then exactly one double square and one division per cell — and the
    * statistic folds in sorted (a, b) cell order via a running window
    * sum (the q159 idiom), so the double result is bit-identical on any
    * engine and partitioning, and hash-oracle-able. */
  def chiSquared(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val wAll = Window.partitionBy()
    val t = cells
      .withColumn("r", sum("o").over(Window.partitionBy("a")))
      .withColumn("c", sum("o").over(Window.partitionBy("b")))
      .withColumn("n", sum("o").over(wAll))
      .withColumn("fa", when(row_number().over(
        Window.partitionBy("a").orderBy("b")) === 1, 1L).otherwise(0L))
      .withColumn("fb", when(row_number().over(
        Window.partitionBy("b").orderBy("a")) === 1, 1L).otherwise(0L))
    val u = t
      .withColumn("na", sum("fa").over(wAll))
      .withColumn("nb", sum("fb").over(wAll))
      .withColumn("d", (col("o") * col("n") - col("r") * col("c"))
        .cast("double"))
      .withColumn("den", col("r").cast("double") * col("c") * col("n"))
    val cum = u
      .withColumn("chi2", sum(col("d") * col("d") / col("den")).over(
        Window.orderBy("a", "b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("a").desc, col("b").desc)))
    cum.filter(col("rn") === 1)
      .select(col("chi2"),
        ((col("na") - 1) * (col("nb") - 1)).cast("long").as("dof"),
        col("n").cast("long").as("n"),
        when(least(col("na"), col("nb")) === 1, lit(null)).otherwise(
          sqrt(col("chi2") /
            (col("n") * least(col("na") - 1, col("nb") - 1))))
          .as("cramers_v"))
  }

  /** One-way ANOVA on MEANS — the k-group generalization of the
    * two-sample t ([[welchT]]) on the raw values ([[brownForsythe]]
    * runs the same F on |x − median| to test SPREADS; [[kruskalWallis]]
    * is its rank-based cousin): F = (SS_between/(k−1)) /
    * (SS_within/(N−k)), plus η² = SS_between/SS_total — the effect
    * size reviewers ask for next. ONE grouped aggregation of
    * DECIMAL(38,0)-exact moments; the between-group Σ Sᵢ²/nᵢ folds in
    * group order (in-row ordered fold — never a windowed double sum);
    * the grand term and both df divisions are single divisions. NULL
    * F on degenerate designs (k ≤ 1, N ≤ k, zero within-variance). */
  def anovaF(df: DataFrame, groupCol: String, x: Column): DataFrame = {
    val cells = df.select(col(groupCol).as("__g"),
        x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("n"), sum(col("__x").cast(dec38)).as("s"),
        sum((col("__x") * col("__x")).cast(dec38)).as("ss"))
    cells.agg(
        count(lit(1)).cast("long").as("k"),
        sum("n").cast("long").as("n"),
        sum(col("s")).cast(dec38).as("__ts"),
        sum(col("ss")).cast(dec38).as("__tss"),
        aggregate(
          array_sort(collect_list(struct(col("__g"),
            (col("s").cast("double") * col("s").cast("double") /
              col("n")).as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__bsum"))
      .select(col("k"), col("n"),
        (col("__bsum") - col("__ts").cast("double") *
          col("__ts").cast("double") / col("n")).as("__between"),
        (col("__tss").cast("double") - col("__bsum")).as("__within"),
        (col("__tss").cast("double") - col("__ts").cast("double") *
          col("__ts").cast("double") / col("n")).as("__total"))
      .select(col("k"), col("n"),
        when(col("k") <= 1 || col("n") <= col("k") ||
          col("__within") <= 0, lit(null))
          .otherwise((col("__between") / (col("k") - 1)) /
            (col("__within") / (col("n") - col("k")))).as("f_stat"),
        when(col("__total") <= 0, lit(null))
          .otherwise(col("__between") / col("__total")).as("eta_sq"))
  }

  /** Cochran–Armitage trend test — is a binary rate MONOTONE in an
    * ordered exposure (defect rate by batch size bucket, conversion
    * by engagement tier)? χ² treats the groups as unordered and
    * throws the ordering away; the trend statistic
    * z² = [Σ w(y_g − n_g·p̄)]² / (p̄(1−p̄)·[Σ w²n_g − (Σ w n_g)²/N])
    * uses the integral scores `w` = the group keys themselves. ONE
    * grouped conditional count; every sum is DECIMAL(38,0)-exact and
    * the statistic is a fixed tree with three divisions. NULL on a
    * degenerate p̄ ∈ {0, 1} or zero score spread. */
  def cochranArmitage(df: DataFrame, score: Column, outcome: Column)
      : DataFrame = {
    val cells = df.select(score.cast("long").as("__w"),
        when(outcome, 1L).otherwise(0L).as("__y"))
      .filter(col("__w").isNotNull)
      .groupBy("__w").agg(count(lit(1)).as("ng"), sum("__y").as("yg"))
    val m = cells.agg(sum(col("ng").cast(dec38)).as("n"),
      sum(col("yg").cast(dec38)).as("y"),
      sum((col("__w") * col("ng")).cast(dec38)).as("swn"),
      sum((col("__w") * col("yg")).cast(dec38)).as("swy"),
      sum((col("__w") * col("__w")).cast(dec38) * col("ng").cast(dec38))
        .as("swwn"))
    val pbar = col("y").cast("double") / col("n").cast("double")
    val num = col("swy").cast("double") -
      col("swn").cast("double") * pbar
    val spread = col("swwn").cast("double") -
      col("swn").cast("double") * col("swn").cast("double") /
        col("n").cast("double")
    m.select(col("n").cast("long").as("n"),
      col("y").cast("long").as("n_pos"), pbar.as("p_bar"),
      when(pbar <= 0.0 || pbar >= 1.0 || spread <= 0.0, lit(null))
        .otherwise(num * num / (pbar * (lit(1.0) - pbar) * spread))
        .as("z2"))
  }

  /** Kendall's tau-b from the CONTINGENCY table — rank correlation of
    * two ORDINAL variables with tie correction, computed entirely on
    * the cell table (all-pairs τ is O(n²) and dead at scale; the cell
    * form is exact and cellcount²-bounded — use bucketed/ordinal
    * inputs, which is what τ-b is for): concordant/discordant pair
    * counts are Σ over cell pairs of n_ij·n_kl with (i−k)(j−l) > 0
    * resp. < 0, and τ_b = (C − D)/√((n₀−n₁)(n₀−n₂)). All counts
    * DECIMAL-exact; one division over two sqrts. */
  def kendallTauB(df: DataFrame, x: Column, y: Column): DataFrame = {
    // the quantized cell table is grid-bounded but feeds FIVE
    // consumers (both cross-join sides + three marginal aggs) — uncut,
    // the raw scan re-plans per consumer (audited: 5 lineitem scans)
    val cells = df.select(x.cast("long").as("__x"),
        y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy("__x", "__y").agg(count(lit(1)).as("c"))
      .transform(Cut.summary)
    val a = cells.select(col("__x").as("xi"), col("__y").as("yi"),
      col("c").as("ci"))
    val b = cells.select(col("__x").as("xk"), col("__y").as("yk"),
      col("c").as("ck"))
    val pairSums = a.crossJoin(b)
      .agg(
        sum(when(col("xi") < col("xk") && col("yi") < col("yk"),
          (col("ci") * col("ck")).cast(dec38))
          .otherwise(lit(0).cast(dec38))).as("cc"),
        sum(when(col("xi") < col("xk") && col("yi") > col("yk"),
          (col("ci") * col("ck")).cast(dec38))
          .otherwise(lit(0).cast(dec38))).as("dd"))
    val marg = cells.agg(sum(col("c").cast(dec38)).as("n"),
      sum((col("c") * (col("c") - 1)).cast(dec38)).as("tpairs"))
    val tx = cells.groupBy("__x").agg(sum("c").as("nx"))
      .agg(sum((col("nx") * (col("nx") - 1)).cast(dec38)).as("n1x"))
    val ty = cells.groupBy("__y").agg(sum("c").as("ny"))
      .agg(sum((col("ny") * (col("ny") - 1)).cast(dec38)).as("n1y"))
    pairSums.crossJoin(broadcast(marg)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n").cast("long").as("n"),
        col("cc").cast("long").as("concordant"),
        col("dd").cast("long").as("discordant"),
        {
          val n0 = (col("n") * (col("n") - 1)).cast("double") / 2.0
          val n1 = col("n1x").cast("double") / 2.0
          val n2 = col("n1y").cast("double") / 2.0
          when((n0 - n1) <= 0.0 || (n0 - n2) <= 0.0, lit(null))
            .otherwise((col("cc") - col("dd")).cast("double") /
              (sqrt(n0 - n1) * sqrt(n0 - n2)))
        }.as("tau_b"))
  }

  /** Wald–Wolfowitz runs test — is a time-ordered boolean sequence
    * RANDOM, or does it clump (autocorrelated residual signs, bursty
    * failures, streaky labels)? R = number of runs = 1 + sign changes;
    * under randomness μ = 1 + 2n₁n₂/n and
    * σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)); z = (R − μ)/σ. Counts and the
    * sign-change comparison are integral; μ, σ and z are fixed trees
    * with DECIMAL-exact numerators. NULL when either symbol is absent
    * or σ² ≤ 0.
    *
    * NO single-task global lag window (de-windowed r10): sign changes
    * are counted per RANGE PARTITION of the (ts, id) order (local lag
    * within each partition), then the partition-boundary changes are
    * stitched from the partition-count-bounded (first, last) flag
    * table — min_by/max_by on the in-partition order — so the global
    * sequence never funnels through one task. Exactly the sign-change
    * count of the fully ordered sequence: every adjacent pair is
    * either in-partition (local lag) or a boundary pair (stitch). */
  def runsTest(df: DataFrame, tsCol: String, idCol: String,
               flag: Column): DataFrame = {
    val seq0 = df.select(col(tsCol).as("__ts"), col(idCol).as("__id"),
      when(flag, 1L).otherwise(0L).as("__f"))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = seq0.repartitionByRange(nParts, col("__ts"), col("__id"))
      .withColumn("__pid", spark_partition_id())
    val wloc = Window.partitionBy("__pid").orderBy("__ts", "__id")
    val local = parted.withColumn("__prev", lag("__f", 1).over(wloc))
      .groupBy("__pid").agg(
        count(lit(1)).as("__cnt"), sum("__f").as("__s1"),
        sum(when(col("__prev").isNotNull &&
          col("__prev") =!= col("__f"), 1L).otherwise(0L)).as("__tr"),
        min_by(col("__f"), struct(col("__ts"), col("__id"))).as("__first"),
        max_by(col("__f"), struct(col("__ts"), col("__id"))).as("__last"))
    // boundary stitch over the ≤ numShufflePartitions-row table
    val wp = Window.orderBy("__pid")
    val stitched = local.withColumn("__plast", lag("__last", 1).over(wp))
      .agg(sum("__cnt").cast(dec38).as("n"),
        sum("__s1").cast(dec38).as("n1"),
        (lit(1L) + sum(col("__tr")) +
          sum(when(col("__plast").isNotNull &&
            col("__plast") =!= col("__first"), 1L).otherwise(0L)))
          .cast("long").as("runs"))
    stitched
      .withColumn("n2", col("n") - col("n1"))
      .select(col("n").cast("long").as("n"),
        col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"), col("runs"),
        {
          val twoN1N2 = (lit(2).cast(dec38) * col("n1") * col("n2"))
          val mu = lit(1.0) + twoN1N2.cast("double") /
            col("n").cast("double")
          val varNum = (twoN1N2 * (twoN1N2 - col("n"))).cast("double")
          val varDen = (col("n") * col("n") * (col("n") - 1))
            .cast("double")
          val v = varNum / varDen
          when(col("n1") === lit(0).cast(dec38) ||
            col("n2") === lit(0).cast(dec38) || v <= 0.0, lit(null))
            .otherwise((col("runs").cast("double") - mu) / sqrt(v))
        }.as("z"))
  }

  /** Cronbach's alpha — internal-consistency of k parallel item
    * scores (rater panels, rubric dimensions, ensemble member
    * scores): α = k/(k−1) · (1 − Σ var_i / var_total), the "do these
    * items measure one thing" gate before averaging them into a
    * single score. ONE aggregation of per-item and total-score
    * DECIMAL(38,0)-exact moments (items integral — fixed-point
    * first); the item-variance sum folds in ITEM order as a fixed
    * literal chain (k terms, not data-driven); α is one fixed tree.
    * NULL when the total variance is zero. */
  def cronbachAlpha(df: DataFrame, items: Seq[Column]): DataFrame = {
    require(items.size >= 2, s"alpha needs >= 2 items, got ${items.size}")
    val k = items.size
    val cast = items.map(_.cast("long"))
    val total = cast.reduce(_ + _)
    val aggs =
      Seq(count(lit(1)).cast(dec38).as("n"),
        sum(total.cast(dec38)).as("st"),
        sum((total * total).cast(dec38)).as("stt")) ++
      cast.zipWithIndex.flatMap { case (c, i) =>
        Seq(sum(c.cast(dec38)).as(s"s$i"),
          sum((c * c).cast(dec38)).as(s"ss$i")) }
    val m = df.agg(aggs.head, aggs.tail: _*)
    def v(ss: Column, sc: Column) =
      (col("n") * ss - sc * sc).cast("double")
    val itemVarSum = (0 until k)
      .map(i => v(col(s"ss$i"), col(s"s$i")))
      .reduce(_ + _)
    val totVar = v(col("stt"), col("st"))
    m.select(col("n").cast("long").as("n"),
      lit(k.toLong).as("k"),
      when(totVar === 0.0, lit(null))
        .otherwise(lit(k.toDouble / (k - 1)) *
          (lit(1.0) - itemVarSum / totVar)).as("alpha"))
  }

  /** Cohen's d (pooled-SD standardized mean difference) — the EFFECT
    * SIZE beside [[welchT]]'s significance: d = (m̄₁ − m̄₂)/s_pooled
    * with s²_pooled = ((n₁−1)s₁² + (n₂−1)s₂²)/(n₁+n₂−2), plus
    * Hedges' g = d·(1 − 3/(4(n₁+n₂) − 9)) small-sample correction.
    * ONE conditional aggregation of exact integer moments; the means,
    * pooled variance and both statistics are fixed single-division
    * trees. NULL when either arm has < 2 rows or the pooled variance
    * is zero. */
  def cohensD(df: DataFrame, arm1: Column, x: Column): DataFrame = {
    // squared terms cast to DECIMAL per row BEFORE the sum — a LONG
    // accumulator overflows at ~600k rows of 1e14-sized squares
    def cellAgg(p: Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).cast(dec38).as(s"n$tag"),
      sum(when(p, x.cast("long")).otherwise(0L)).cast(dec38)
        .as(s"s$tag"),
      sum(when(p, (x.cast("long") * x.cast("long")).cast(dec38))
        .otherwise(lit(0).cast(dec38))).as(s"ss$tag"))
    val aggs = cellAgg(arm1, "1") ++ cellAgg(!arm1, "2")
    val m = df.agg(aggs.head, aggs.tail: _*)
    def mean(t: String) = col(s"s$t").cast("double") / col(s"n$t")
    def css(t: String) = (col(s"n$t") * col(s"ss$t") -
      col(s"s$t") * col(s"s$t")).cast("double") / col(s"n$t").cast("double")
    val pooledVar = (css("1") + css("2")) /
      (col("n1") + col("n2") - 2).cast("double")
    m.select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        mean("1").as("mean1"), mean("2").as("mean2"),
        when(col("n1") < 2 || col("n2") < 2 || pooledVar <= 0, lit(null))
          .otherwise((mean("1") - mean("2")) / sqrt(pooledVar)).as("d"))
      .withColumn("d", when(col("d").isNaN, lit(null)).otherwise(col("d")))
      .withColumn("hedges_g",
        col("d") * (lit(1.0) -
          lit(3.0) / (lit(4.0) * (col("n1") + col("n2")) - 9)))
  }

  /** Paired t-test over per-key condition differences — the
    * within-subject A/B: for every key with BOTH conditions, the
    * difference of its two condition means; t = d̄ / (s_d/√n) over
    * those differences. The pairing removes between-key variance,
    * which is why it beats [[welchT]] on repeated-measures data. One
    * grouped conditional agg to the key table; each per-key diff is a
    * fixed two-division tree; the diff moments fold in key order
    * (in-row ordered folds — key-cardinality bounded). NULL t when
    * n < 2 or the diffs are constant. */
  def pairedT(df: DataFrame, keyCol: String, cond: Column, x: Column)
      : DataFrame = {
    val keys = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(when(cond, 1L).otherwise(0L)).as("n1"),
        sum(when(cond, x.cast("long")).otherwise(0L)).as("s1"),
        sum(when(!cond, 1L).otherwise(0L)).as("n2"),
        sum(when(!cond, x.cast("long")).otherwise(0L)).as("s2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("__d", col("s1").cast("double") / col("n1") -
        col("s2").cast("double") / col("n2"))
    keys.agg(count(lit(1)).cast("long").as("n"),
        aggregate(array_sort(collect_list(struct(col("__k"),
            col("__d").as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__sd"),
        aggregate(array_sort(collect_list(struct(col("__k"),
            (col("__d") * col("__d")).as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__sdd"))
      .select(col("n"), (col("__sd") / col("n")).as("mean_diff"),
        col("__sd").as("__sd"), col("__sdd").as("__sdd"))
      .withColumn("__var",
        when(col("n") < 2, lit(null))
          .otherwise((col("__sdd") - col("__sd") * col("__sd") / col("n"))
            / (col("n") - 1)))
      .select(col("n"), col("mean_diff"),
        when(col("__var").isNull || col("__var") <= 0, lit(null))
          .otherwise(col("mean_diff") /
            sqrt(col("__var") / col("n"))).as("t"))
  }

  /** Hosmer–Lemeshow goodness-of-fit over [[calibrationBins]] — IS the
    * model calibrated, as a test statistic rather than [[
    * expectedCalibrationError]]'s magnitude summary:
    *
    *   χ² = Σ_b (pos_b − n_b·p̄_b)² / (n_b·p̄_b·(1 − p̄_b)),  df = B − 2
    *
    * with p̄_b the bin's mean predicted probability. Rides the same
    * bin table (counts exact integers, p̄ one division of exact
    * cents); each bin term is a fixed tree with ONE division, the
    * total folds in bin order in-row (the ECE discipline — never a
    * windowed double sum). Bins with p̄ at 0 or 1 have no variance
    * under the null — they contribute 0 and are COUNTED in
    * `n_degenerate` so a silent skip can't masquerade as calibration.
    * Returns one row: (n, n_bins, n_degenerate, chi2). */
  def hosmerLemeshow(df: DataFrame, score: Column, positive: Column,
                     bins: Int, lo: Double, hi: Double): DataFrame = {
    val b = calibrationBins(df, score, positive, bins, lo, hi)
    val e = col("n") * col("mean_score")
    val deg = col("mean_score") <= 0.0 || col("mean_score") >= 1.0
    val t = b
      .withColumn("__t", when(deg, lit(0.0)).otherwise(
        (col("pos") - e) * (col("pos") - e) /
          (e * (lit(1.0) - col("mean_score")))))
      .withColumn("__dg", when(deg, 1L).otherwise(0L))
    t.agg(sum("n").cast("long").as("n"),
      count(lit(1)).cast("long").as("n_bins"),
      sum("__dg").cast("long").as("n_degenerate"),
      aggregate(array_sort(collect_list(struct(col("bin"), col("__t")))),
        lit(0.0), (acc, x) => acc + x.getField("__t")).as("chi2"))
  }

  /** Wilcoxon signed-rank test over per-key condition differences —
    * the nonparametric companion to [[pairedT]] for when the diff
    * distribution is heavy-tailed or skewed (a handful of whale users
    * should not decide the A/B): rank the |d| of the nonzero per-key
    * diffs, W⁺ = Σ ranks of the positive diffs, normal approximation
    *
    *   z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)
    *
    * Same key table as pairedT (one grouped conditional agg; each diff
    * a fixed two-division tree). Ranks come from the COLLAPSED
    * distinct-|d| table (doubled average ranks stay INTEGRAL under
    * ties — the [[rocAuc]] discipline). NOTE the collapse alone is no
    * scale guarantee here: |d| is an unquantized double ratio, so
    * distinct-|d| cardinality ≈ nonzero-key cardinality — which is
    * why [[doubledRanksFromCounts]] runs its prefix sum as a
    * DISTRIBUTED two-level pass (range-bucket windows + broadcast
    * bucket offsets), never a single global ordered window. With
    * doubled ranks w2 = 2W⁺, both moments clear denominators exactly:
    *
    *   z = (2·w2 − n(n+1)) / (2·√((2n(n+1)(2n+1) − Σ(t³−t)) / 12))
    *
    * numerator and the radicand's numerator are exact DECIMAL(38)
    * integers; z is one division over one correctly-rounded sqrt of
    * one division — bit-reproducible on any engine or partitioning.
    * Zero diffs drop (standard Wilcoxon). NULL z when n = 0 or the
    * variance term is non-positive. */
  def wilcoxonSignedRank(df: DataFrame, keyCol: String, cond: Column,
                         x: Column): DataFrame = {
    val keys = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(when(cond, 1L).otherwise(0L)).as("n1"),
        sum(when(cond, x.cast("long")).otherwise(0L)).as("s1"),
        sum(when(!cond, 1L).otherwise(0L)).as("n2"),
        sum(when(!cond, x.cast("long")).otherwise(0L)).as("s2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("__d", col("s1").cast("double") / col("n1") -
        col("s2").cast("double") / col("n2"))
      .filter(col("__d") =!= 0.0)
    // collapsed (|d|, sign) cell table — ONE pass over the key table;
    // ranks re-derive from it without a second scan (the
    // kruskalWallis discipline). Each |d| is the same fixed
    // two-division tree on both engines, so grouping doubles is exact.
    val cells = keys
      .select(abs(col("__d")).as("__a"), (col("__d") > 0).as("__p"))
      .groupBy(col("__a"), col("__p")).agg(count(lit(1)).as("__cp"))
      .transform(Cut.summary)
    val ranks = doubledRanksFromCounts(
      cells.groupBy(col("__a").as("__v")).agg(sum("__cp").as("__c")))
    val ties = ranks.agg(coalesce(sum(
      (col("__c") * col("__c") * col("__c") - col("__c")).cast(dec38)),
      lit(0).cast(dec38)).as("tsum"))
    val m = cells.join(ranks, cells("__a") === ranks("__v"))
      .agg(coalesce(sum("__cp"), lit(0L)).cast(dec38).as("n"),
        // per-term DECIMAL cast (the cohensD discipline): cp·dr tops
        // out near 2n² per cell, past Long at ~3e9 nonzero pairs
        coalesce(sum(when(col("__p"),
            col("__cp").cast(dec38) * col("__dr"))
          .otherwise(lit(0).cast(dec38))), lit(0).cast(dec38)).as("w2"))
      .crossJoin(broadcast(ties))
    val varNum = (lit(2).cast(dec38) * col("n") * (col("n") + 1) *
      (lit(2).cast(dec38) * col("n") + 1) - col("tsum"))
    m.select(col("n").cast("long").as("n"),
      (col("w2").cast("double") / 2.0).as("w_plus"),
      when(col("n") < 1 || varNum <= 0, lit(null)).otherwise(
        (lit(2).cast(dec38) * col("w2") -
          col("n") * (col("n") + 1)).cast("double") /
          (lit(2.0) * sqrt(varNum.cast("double") / 12.0))).as("z"))
  }

  /** Pearson correlation WITH its significance test — r plus
    * t = r·√((n−2)/(1−r²)) (df = n−2), the pair [[corrMatrix]]
    * deliberately omits (a matrix of r's without n invites reading
    * noise as signal). ONE aggregation of DECIMAL(38,0)-exact moments
    * (integral inputs — fix-point first); r is the single-division
    * [[spearman]] shape and t one more fixed tree. NULL r on a
    * degenerate margin; NULL t when |r| = 1 exactly (the statistic
    * diverges) or n < 3. */
  def corrTest(df: DataFrame, x: Column, y: Column): DataFrame = {
    def s(c: Column) = sum(c.cast(dec38))
    val d = df.select(x.cast("long").as("__x"), y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val m = d.agg(count(lit(1)).cast(dec38).as("n"),
      s(col("__x")).as("sx"), s(col("__y")).as("sy"),
      s(col("__x") * col("__x")).as("sxx"),
      s(col("__y") * col("__y")).as("syy"),
      s(col("__x") * col("__y")).as("sxy"))
    val dx = m("n") * col("sxx") - col("sx") * col("sx")
    val dy = m("n") * col("syy") - col("sy") * col("sy")
    val num = m("n") * col("sxy") - col("sx") * col("sy")
    val r = num.cast("double") /
      (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))
    m.select(col("n").cast("long").as("n"),
        when(dx === lit(0).cast(dec38) || dy === lit(0).cast(dec38),
          lit(null)).otherwise(r).as("r"))
      .withColumn("t",
        when(col("r").isNull || col("n") < 3 ||
          col("r") * col("r") >= 1.0, lit(null))
          .otherwise(col("r") * sqrt((col("n") - 2).cast("double") /
            (lit(1.0) - col("r") * col("r")))))
  }

  /** First-order PARTIAL correlation — the association of x and y with
    * z held fixed: r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1 − r_xz²)(1 − r_yz²)). The confounder check every observed
    * x–y correlation owes its reader ("discount correlates with
    * returns… until order size is controlled"). ONE aggregation of
    * the nine exact moments; the three pairwise r's are single
    * divisions and the partial is one fixed tree. NULL when any
    * margin is degenerate or a controlling correlation is ±1. */
  def partialCorr(df: DataFrame, x: Column, y: Column, z: Column)
      : DataFrame = {
    def s(c: Column) = sum(c.cast(dec38))
    val d = df.select(x.cast("long").as("__x"), y.cast("long").as("__y"),
        z.cast("long").as("__z"))
      .filter(col("__x").isNotNull && col("__y").isNotNull &&
        col("__z").isNotNull)
    val m = d.agg(count(lit(1)).cast(dec38).as("n"),
      s(col("__x")).as("sx"), s(col("__y")).as("sy"),
      s(col("__z")).as("sz"),
      s(col("__x") * col("__x")).as("sxx"),
      s(col("__y") * col("__y")).as("syy"),
      s(col("__z") * col("__z")).as("szz"),
      s(col("__x") * col("__y")).as("sxy"),
      s(col("__x") * col("__z")).as("sxz"),
      s(col("__y") * col("__z")).as("syz"))
    def dvar(ss: String, sc: String) =
      m("n") * col(ss) - col(sc) * col(sc)
    def rOf(sab: String, sa: String, sb: String, da: Column, db: Column) =
      (m("n") * col(sab) - col(sa) * col(sb)).cast("double") /
        (sqrt(da.cast("double")) * sqrt(db.cast("double")))
    val (dx, dy, dz) = (dvar("sxx", "sx"), dvar("syy", "sy"),
      dvar("szz", "sz"))
    val rxy = rOf("sxy", "sx", "sy", dx, dy)
    val rxz = rOf("sxz", "sx", "sz", dx, dz)
    val ryz = rOf("syz", "sy", "sz", dy, dz)
    val zero = lit(0).cast(dec38)
    m.select(col("n").cast("long").as("n"),
        when(dx === zero || dy === zero || dz === zero, lit(null))
          .otherwise(rxy).as("r_xy"),
        when(dx === zero || dy === zero || dz === zero, lit(null))
          .otherwise(rxz).as("r_xz"),
        when(dx === zero || dy === zero || dz === zero, lit(null))
          .otherwise(ryz).as("r_yz"))
      .withColumn("r_xy_given_z",
        when(col("r_xy").isNull ||
          col("r_xz") * col("r_xz") >= 1.0 ||
          col("r_yz") * col("r_yz") >= 1.0, lit(null))
          .otherwise((col("r_xy") - col("r_xz") * col("r_yz")) /
            sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
              (lit(1.0) - col("r_yz") * col("r_yz")))))
  }

  /** 2×2 odds ratio with Woolf confidence interval — the EFFECT-SIZE
    * readout the test family (χ², CMH, McNemar) deliberately omits:
    * OR = ad/bc, CI = exp(ln OR ± z·√(1/a + 1/b + 1/c + 1/d)).
    * Haldane–Anscombe +0.5 on every cell when any cell is zero (the
    * standard finite correction; flagged in the output). ONE
    * conditional aggregation; ln through [[Exact.lnq]], the exp of
    * the bounds likewise quantized (expq = the same 2⁻²⁶ grid) so the
    * CI doubles hash-replay. */
  def oddsRatio(df: DataFrame, exposed: Column, outcome: Column,
                z: Double = 1.96): DataFrame = {
    val agg = df.agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).cast("long").as("a"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).cast("long").as("b"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).cast("long").as("c"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).cast("long")
        .as("d"))
    val corrected = col("a") === 0 || col("b") === 0 || col("c") === 0 ||
      col("d") === 0
    def cell(c: Column) = when(corrected, c.cast("double") + 0.5)
      .otherwise(c.cast("double"))
    val (ca, cb, cc, cd) = (cell(col("a")), cell(col("b")),
      cell(col("c")), cell(col("d")))
    val lnOr = Exact.lnq((ca * cd) / (cb * cc))
    val se = sqrt(lit(1.0) / ca + lit(1.0) / cb + lit(1.0) / cc +
      lit(1.0) / cd)
    agg.withColumn("corrected", corrected)
      .withColumn("odds_ratio", (ca * cd) / (cb * cc))
      .withColumn("ln_or", lnOr)
      .withColumn("ci_lo", Exact.expq(lnOr - lit(z) * se))
      .withColumn("ci_hi", Exact.expq(lnOr + lit(z) * se))
  }

  /** Standardized Pearson residuals per contingency cell — WHICH cells
    * drive a significant [[chiSquared]]: r = (O − E) / √(E·(1 − row
    * share)·(1 − col share)), approximately N(0,1) under independence,
    * so |r| > 2 marks the driving cells. One grouped count + margin
    * windows over the CELL table (category-product sized). Exactness:
    * O, margins and N integral; E and the two share factors are fixed
    * single-division trees; one sqrt. Emits every cell with its O, E
    * and residual — the drill-down q175's one-number χ² cannot give. */
  def pearsonResiduals(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
    val t = cells
      .withColumn("__r", sum("o").over(Window.partitionBy("a")))
      .withColumn("__c", sum("o").over(Window.partitionBy("b")))
      .withColumn("__n", sum("o").over(Window.partitionBy()))
    t.select(col("a"), col("b"), col("o").cast("long").as("o"),
        ((col("__r") * col("__c")).cast("double") / col("__n"))
          .as("expected"),
        ((col("o") - (col("__r") * col("__c")).cast("double") /
          col("__n")) /
          sqrt(((col("__r") * col("__c")).cast("double") / col("__n")) *
            (lit(1.0) - col("__r").cast("double") / col("__n")) *
            (lit(1.0) - col("__c").cast("double") / col("__n"))))
          .as("residual"))
  }

  private val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Two-predictor ordinary least squares, y = b0 + b1·x1 + b2·x2, by
    * Cramer's rule over the centered normal equations — multivariate
    * regression as ONE aggregation and a closed-form projection, no
    * gradient loop, no MLlib.
    *
    * Inputs must be integral (scale fixed-point first — the q158/q159
    * discipline). All nine raw moments accumulate as DECIMAL(38,0)
    * (order-free exact integer sums; per-row products fit BIGINT by
    * precondition), the centered sums S·· = n·Σab − Σa·Σb and Cramer
    * determinants stay exact decimal integers (DuckDB replays them in
    * HUGEINT), and each coefficient is ONE double division — so the
    * doubles hash-replay cross-engine. Overflow bound: |num| < 1e38
    * holds through ~10M rows at these fixtures' magnitudes; beyond
    * that, switch the moment casts to double and drop the hash oracle.
    *
    * Returns one row: n, b0, b1, b2, r2. Degenerate designs
    * (collinear x1/x2, constant y) yield NULL coefficients rather than
    * an ANSI divide-by-zero error. */
  def ols2(df: DataFrame, x1: Column, x2: Column, y: Column): DataFrame = {
    def s(c: Column) = sum(c.cast(dec38))
    val m = df.agg(
      count(lit(1)).as("n"), s(x1).as("s1"), s(x2).as("s2"), s(y).as("sy"),
      s(x1 * x1).as("s11"), s(x2 * x2).as("s22"), s(x1 * x2).as("s12"),
      s(x1 * y).as("s1y"), s(x2 * y).as("s2y"), s(y * y).as("syy"))
    val n = col("n").cast(dec38)
    val sxx = n * col("s11") - col("s1") * col("s1")
    val szz = n * col("s22") - col("s2") * col("s2")
    val sxz = n * col("s12") - col("s1") * col("s2")
    val sxy = n * col("s1y") - col("s1") * col("sy")
    val szy = n * col("s2y") - col("s2") * col("sy")
    val syy2 = n * col("syy") - col("sy") * col("sy")
    val det = sxx * szz - sxz * sxz
    val d = det.cast("double")
    val b1 = (szz * sxy - sxz * szy).cast("double") / d
    val b2 = (sxx * szy - sxz * sxy).cast("double") / d
    m.withColumn("__b1", when(det === 0, lit(null)).otherwise(b1))
      .withColumn("__b2", when(det === 0, lit(null)).otherwise(b2))
      .select(col("n").cast("long").as("n"),
        ((col("sy").cast("double") - col("__b1") * col("s1").cast("double")
          - col("__b2") * col("s2").cast("double"))
          / col("n").cast("double")).as("b0"),
        col("__b1").as("b1"), col("__b2").as("b2"),
        when(syy2 === 0, lit(null)).otherwise(
          (col("__b1") * sxy.cast("double") + col("__b2") * szy.cast("double"))
            / syy2.cast("double")).as("r2"))
  }

  /** Per-key autocorrelation at lags 1..maxLag over a time-ordered
    * integral series — the seasonality/trend probe of a metrics
    * pipeline. Computed entirely in the exact-integer identity
    *
    *   r_j = (n²·Σx_t·x_{t+j} − n·m·(A_j+B_j) + (n−j)·m²)
    *         / (n²·Σx² − n·m²)
    *
    * where m = Σx, A_j/B_j = the first/last n−j terms' sums — every
    * sum integral and order-free (DECIMAL(38,0)), ONE double division
    * per lag, so values hash-replay cross-engine. The lagged products
    * ride ONE window pass (lead(x, j) per lag) and ONE grouped
    * aggregation; per-key state is the window buffer, bounded by the
    * per-entity series length (the funnel/EWMA discipline). Keys with
    * n ≤ j or zero variance get NULL at that lag. */
  def acf(df: DataFrame, keyCol: String, tsCol: String, x: Column,
          maxLag: Int, tieCol: String): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8, s"maxLag in [1,8], got $maxLag")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val lagged = (1 to maxLag).foldLeft(
        df.select(col(keyCol), col(tsCol), col(tieCol), x.as("__x"))) {
      (d, j) => d
        .withColumn(s"__l$j", lead(col("__x"), j).over(w))
        .withColumn(s"__g$j", lag(col("__x"), j).over(w))
    }
    def s(c: Column) = sum(c.cast(dec38))
    // A_j = Σ of the first n−j terms (rows with a lead-j partner);
    // B_j = Σ of the last n−j terms (rows with a lag-j partner)
    val aggs = Seq(count(lit(1)).as("n"), s(col("__x")).as("m"),
      s(col("__x") * col("__x")).as("sxx")) ++
      (1 to maxLag).flatMap { j => Seq(
        s(col("__x") * col(s"__l$j")).as(s"c$j"),
        s(when(col(s"__l$j").isNotNull, col("__x"))).as(s"a$j"),
        s(when(col(s"__g$j").isNotNull, col("__x"))).as(s"b$j"))
      }
    val g = lagged.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast(dec38)
    val den = n * n * col("sxx") - n * col("m") * col("m")
    (1 to maxLag).foldLeft(g) { (d, j) =>
      val num = n * n * col(s"c$j") -
        n * col("m") * (col(s"a$j") + col(s"b$j")) +
        (n - lit(j).cast(dec38)) * col("m") * col("m")
      d.withColumn(s"r$j",
        when(col("n") <= j || den === lit(0).cast(dec38), lit(null))
          .otherwise(num.cast("double") / den.cast("double")))
    }
      .select(col(keyCol) +: col("n").cast("long").as("n") +:
        (1 to maxLag).map(j => col(s"r$j")): _*)
  }

  /** Per-group Gini coefficient — the concentration/inequality readout
    * (how skewed is revenue across orders, token mass across documents,
    * traffic across users):
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),  x ascending, i = 1..n
    *
    * `x` must be a nonnegative integral column (fixed-point first). The
    * rank is a per-group window (ONE shuffle shared with the grouped
    * aggregation that follows); Σi·xᵢ is tie-order invariant — permuting
    * equal x values permutes ranks across identical multiplicands — so
    * the engines' differing tie orders cannot change the sum. All sums
    * DECIMAL(38,0)-exact and order-free, ONE double division; empty or
    * all-zero groups yield NULL. */
  def gini(df: DataFrame, groupCol: String, x: Column): DataFrame = {
    val ranked = df.select(col(groupCol), x.as("__x"))
      .withColumn("__i", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("__x"))))
    val g = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec38)).as("s"),
        sum((col("__i") * col("__x")).cast(dec38)).as("a"))
    val n = col("n").cast(dec38)
    g.select(col(groupCol), col("n").cast("long").as("n"),
      col("s").cast("double").as("total"),
      when(col("s") === lit(0).cast(dec38), lit(null)).otherwise(
        (lit(2).cast(dec38) * col("a") - (n + lit(1).cast(dec38)) * col("s"))
          .cast("double") / (n * col("s")).cast("double")).as("gini"))
  }

  /** Doubled average ranks for a value column, computed over the
    * COLLAPSED distinct-value table (the [[rocAuc]] discipline — the
    * running sum windows over distinct values, never raw rows, so no
    * single-partition full-data window at scale): for a value v with
    * `c` occurrences and `below` values strictly smaller, the average
    * rank is below + (c+1)/2 — doubled to 2·below + c + 1 so it stays
    * INTEGRAL under ties (the ×2 cancels in every rank statistic). */
  private def doubledRanks(df: DataFrame, x: Column): DataFrame =
    doubledRanksFromCounts(
      df.groupBy(x.as("__v")).agg(count(lit(1)).as("__c")))

  /** [[doubledRanks]] when the caller already holds the per-value
    * count table (__v, __c) — lets rank statistics that start from a
    * grouped cell table derive ranks WITHOUT a second scan of the raw
    * input.
    *
    * The prefix sum is DISTRIBUTED (two-level): range-partition the
    * value table, run the ordered window WITHIN each range bucket,
    * and add per-bucket offsets from a bucket-count side table that is
    * shuffle-partition-cardinality (broadcast back). No stage ever
    * holds more than ~V/partitions rows in one window partition, so
    * the machinery survives value cardinality at ROW scale — the
    * Wilcoxon case, where |d| is an unquantized double and nearly
    * every key contributes a distinct value (a single global ordered
    * window there would funnel key-cardinality rows through one
    * partition). The bucket ids come from `spark_partition_id()` over
    * a [[Cut.summary]] frame, so both consumers (offsets + join)
    * read the SAME materialized assignment; the __dr values themselves
    * are bucket-invariant integers, so results are bit-identical to
    * the single-window form on any partitioning. */
  /** Exclusive PER-GROUP running sum of `valCol` in ascending `ordCol`
    * order — the grouped twin of [[doubledRanksFromCounts]]'s
    * two-level distributed prefix (VERDICT r14 item 5): range-bucket
    * the rows by `ordCol` (bucket boundaries SHARED across groups),
    * run the ordered window within each (group, bucket) slice, and add
    * per-(group, bucket) offsets from a side table that is at most
    * groups × shuffle-partitions rows. No stage holds more than
    * ~|V|/partitions rows in one window partition, so a per-group
    * distinct-value cumulative survives value cardinality at ROW scale
    * (unquantized continuous metrics) — the hazard class the shared
    * rank machinery engineered out in r14. The running sums are
    * integer-exact and bucket-invariant, so results are bit-identical
    * to the single-window form on any partitioning. */
  private def groupedPrefixSum(df0: DataFrame, groupCol: String,
                               ordCol: String, valCol: String,
                               out: String): DataFrame =
    groupedPrefixSums(df0, groupCol, ordCol, Seq(valCol -> out))

  /** The multi-column form: several exclusive running sums share ONE
    * bucketing pass (the CUSUM shape — value prefix + index prefix). */
  private def groupedPrefixSums(df0: DataFrame, groupCol: String,
                                ordCol: String,
                                sums: Seq[(String, String)]): DataFrame = {
    val parts = df0.sparkSession.sessionState.conf.numShufflePartitions
    // input cut: repartitionByRange SAMPLES its child to pick range
    // boundaries and then shuffles it — an un-materialized upstream
    // (the JT grid + tie window) would be evaluated twice
    val df = Cut.summary(df0)
    val bucketed = df
      .repartitionByRange(parts, col(ordCol))
      .withColumn("__pb", spark_partition_id())
      .transform(Cut.summary)
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__pb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-(group, bucket) totals: ≤ groups·parts rows — the offset
    // window partitions by group and holds ≤ parts rows each
    val offsets = bucketed.groupBy(col(groupCol), col("__pb"))
      .agg(sums.map { case (v, o) => sum(v).as(s"__gbt_$o") }.head,
        sums.tail.map { case (v, o) => sum(v).as(s"__gbt_$o") }: _*)
    val offCols = sums.map { case (_, o) =>
      coalesce(sum(s"__gbt_$o").over(wOff), lit(0L)).as(s"__goff_$o") }
    val offsets2 = offsets.select(
      Seq(col(groupCol), col("__pb")) ++ offCols: _*)
    val wLoc = Window.partitionBy(col(groupCol), col("__pb"))
      .orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLoc = sums.foldLeft(bucketed) { case (d, (v, o)) =>
      d.withColumn(s"__lp_$o", coalesce(sum(v).over(wLoc), lit(0L)))
    }
    val joined = withLoc.join(broadcast(offsets2), Seq(groupCol, "__pb"))
    sums.foldLeft(joined) { case (d, (_, o)) =>
      d.withColumn(o, col(s"__goff_$o") + col(s"__lp_$o"))
        .drop(s"__lp_$o", s"__goff_$o")
    }.drop("__pb")
  }

  /** Distinct-value cumulative counts — (__v, __c, __cb) where __cb is
    * the number of rows with value strictly below __v — via the
    * two-level bucketed prefix sum (range-shuffle buckets, per-bucket
    * ordered window, broadcast bucket offsets): never one global
    * single-partition sort/window. `byV` must be a (__v, __c) distinct
    * value/count table. Shared by [[doubledRanksFromCounts]] (average
    * ranks) and [[equiDepthHistogram]] (percentile knots). */
  private def cumCountsFromCounts(byV: DataFrame): DataFrame = {
    val parts = byV.sparkSession.sessionState.conf.numShufflePartitions
    val bucketed = byV
      .repartitionByRange(parts, col("__v"))
      .withColumn("__b", spark_partition_id())
      .transform(Cut.summary)
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-bucket totals: ≤ `parts` rows — the global window is bounded
    // by the shuffle-partition count, never by data
    val offsets = bucketed.groupBy("__b").agg(sum("__c").as("__bt"))
      .withColumn("__off", coalesce(sum("__bt").over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wLoc = Window.partitionBy("__b").orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("__lb", coalesce(sum("__c").over(wLoc), lit(0L)))
      .join(broadcast(offsets), "__b")
      .select(col("__v"), col("__c"),
        (col("__off") + col("__lb")).as("__cb"))
  }

  private def doubledRanksFromCounts(byV: DataFrame): DataFrame =
    cumCountsFromCounts(byV).select(col("__v"), col("__c"),
      (lit(2L) * col("__cb") + col("__c") + 1).as("__dr"))

  /** Spearman rank correlation between two integral columns — the
    * robust, monotonicity-only association measure (Pearson on average
    * ranks; the ½ scaling of doubled ranks cancels exactly). Ranks come
    * from two distinct-value tables joined back as projections; the
    * nine moments ride ONE aggregation in DECIMAL(38,0); the single
    * rounding steps are two int→double casts, two correctly-rounded
    * sqrts, and ONE division — hash-replayable. Returns (n, rho);
    * constant columns yield NULL. */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    // Three column-pruned scans ON PURPOSE (q203 whitelisted in the
    // scan lint): a one-scan rewrite through the (x, y) cell table was
    // A/B-measured 1.4–1.7× SLOWER at sf0.1 under BOTH cut flavors
    // (cache and checkpoint), because one near-continuous axis
    // (price cents) makes |X|·|Y| approach row scale — the cell
    // groupBy is a full shuffle with no combine gain, while a bare
    // 2-column parquet re-scan is nearly free. The scan-dedup
    // discipline pays when the shared upstream is EXPENSIVE, not when
    // it is a projection off the scan; each pass here reduces
    // immediately to a per-axis value table.
    val base = df.select(x.as("__x"), y.as("__y"))
    val rx = doubledRanks(base, col("__x"))
      .select(col("__v").as("__x"), col("__dr").as("__rx"))
    val ry = doubledRanks(base, col("__y"))
      .select(col("__v").as("__y"), col("__dr").as("__ry"))
    val ranked = base.join(rx, "__x").join(ry, "__y")
    def s(c: Column) = sum(c.cast(dec38))
    val m = ranked.agg(count(lit(1)).as("n"),
      s(col("__rx")).as("sx"), s(col("__ry")).as("sy"),
      s(col("__rx") * col("__rx")).as("sxx"),
      s(col("__ry") * col("__ry")).as("syy"),
      s(col("__rx") * col("__ry")).as("sxy"))
    val n = col("n").cast(dec38)
    val num = n * col("sxy") - col("sx") * col("sy")
    val dx = n * col("sxx") - col("sx") * col("sx")
    val dy = n * col("syy") - col("sy") * col("sy")
    m.select(col("n").cast("long").as("n"),
      when(dx === 0 || dy === 0, lit(null)).otherwise(
        num.cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))).as("rho"))
  }

  /** Kruskal–Wallis H test — does the value distribution differ across
    * k groups, rank-based (the nonparametric ANOVA every "does this
    * metric depend on segment" question wants when normality is a lie).
    *
    *   H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),   corrected Hc = H/C,
    *   C = 1 − Σ(t³−t)/(N³−N)  over tie groups t
    *
    * Ranks come from the collapsed distinct-value table (integral
    * doubled ranks; R_g²/4 restores the true scale); per-group rank
    * sums are exact integers, the k per-group divisions fold in SORTED
    * group order (q159 discipline), tie and scale terms divide once
    * each. Returns one row: (n, groups, h, h_corrected). All-equal
    * values → NULL h_corrected (C = 0). */
  def kruskalWallis(df: DataFrame, groupCol: String, x: Column)
      : DataFrame = {
    // ONE scan: the (group, value) cell table is the only pass over
    // the input; the global value ranks derive from it by re-
    // aggregation (the spearman discipline). Bounded by groups ×
    // distinct values — the rank window's existing contract.
    val cells = df.select(col(groupCol).as("__g"), x.as("__x"))
      .groupBy(col("__g"), col("__x")).agg(count(lit(1)).as("__cg"))
      .transform(Cut.summary)
    val ranks = doubledRanksFromCounts(cells.groupBy(col("__x").as("__v"))
        .agg(sum("__cg").as("__c")))
      .select(col("__v").as("__x"), col("__c"), col("__dr"))
    val perGV = cells.join(ranks, "__x")
    def s(c: Column) = sum(c.cast(dec38))
    val g = perGV.groupBy(col("__g"))
      .agg(sum("__cg").as("ng"), s(col("__cg") * col("__dr")).as("rd"))
    // Σ R_g²/n_g with R = rd/2: per-group division, folded in sorted
    // group order via a running window sum over the k-row group table
    val term = (col("rd") * col("rd")).cast("double") /
      (lit(4.0) * col("ng"))
    val wOrd = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val folded = g
      .withColumn("__term", term)
      .withColumn("__sum", sum("__term").over(wOrd))
      .withColumn("__n", sum("ng").over(wAll))
      .withColumn("__k", count(lit(1)).over(wAll))
      .withColumn("__rn", row_number().over(Window.orderBy(col("__g").desc)))
      .filter(col("__rn") === 1)
    // tie correction from the distinct-value table (one tiny agg)
    val ties = ranks.agg(coalesce(sum(
      (col("__c") * col("__c") * col("__c") - col("__c")).cast(dec38)),
      lit(0).cast(dec38)).as("tsum"))
    val nD = col("__n").cast(dec38)
    val h = lit(12.0) / (nD * (nD + 1)).cast("double") * col("__sum") -
      lit(3.0) * (col("__n") + 1).cast("double")
    val c = lit(1.0) - col("tsum").cast("double") /
      (nD * nD * nD - nD).cast("double")
    folded.crossJoin(broadcast(ties))
      .select(col("__n").cast("long").as("n"),
        col("__k").cast("long").as("groups"), h.as("h"),
        when(col("__n") < 2, lit(null)).otherwise(
          when(c === 0, lit(null)).otherwise(h / c)).as("h_corrected"))
  }

  /** Friedman test — do k treatments differ across n matched blocks,
    * rank-based (the repeated-measures completion of the nonparametric
    * family: [[kruskalWallis]] between groups, [[wilcoxonSignedRank]]
    * for k = 2 pairs, this for k > 2 per-entity conditions). Each
    * complete block ranks its k treatment means; Conover's
    * tie-handling form
    *
    *   χ²_F = (k−1) · Σ_j (R_j − n(k+1)/2)² / (A − C),
    *   A = Σᵢⱼ r²ᵢⱼ,  C = nk(k+1)²/4
    *
    * reduces to the textbook 12/(nk(k+1))·ΣR_j² − 3n(k+1) when ties
    * are absent. With DOUBLED ranks every quantity clears its
    * denominator: 4(A−C) = A4 − nk(k+1)² and 4Σ(R_j − n(k+1)/2)² =
    * Σ(R4_j − n(k+1))² are exact DECIMAL(38) integers, so χ² is ONE
    * division — bit-identical on any engine or partitioning.
    *
    * Scale shape: one grouped agg to the (block, treatment) cell
    * table (each cell mean ONE division of exact integers); incomplete
    * blocks drop (the paired-test contract); the rank window runs
    * WITHIN a block over its ≤ k distinct means — per-partition state
    * is k, never corpus-sized. NULL chi2 when n = 0, k < 2, or every
    * block's values are constant (A = C). */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               x: Column): DataFrame = {
    // the cell table feeds BOTH the global treatment count and the
    // complete-block chain — cut it once or the corpus scan and the
    // grouped agg replay per consumer (the kruskalWallis discipline)
    val cell = df.groupBy(col(blockCol).as("__b"), col(treatCol).as("__t"))
      .agg(sum(x.cast("long")).as("__s"), count(lit(1)).as("__c"))
      .withColumn("__m", col("__s").cast("double") / col("__c"))
      .transform(Cut.summary)
    val kRow = cell.agg(countDistinct(col("__t")).as("__k"))
    val wb = Window.partitionBy(col("__b"))
    val kept = cell
      .withColumn("__kb", count(lit(1)).over(wb))
      .crossJoin(broadcast(kRow))
      .filter(col("__kb") === col("__k"))
      .transform(Cut.summary)
    // doubled average ranks within each block from its per-mean
    // counts (the doubledRanks discipline, block-locally)
    val byV = kept.groupBy(col("__b"), col("__m"))
      .agg(count(lit(1)).as("__cv"))
    val wOrd = Window.partitionBy(col("__b")).orderBy(col("__m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byV
      .withColumn("__below", coalesce(sum("__cv").over(wOrd), lit(0L)))
      .select(col("__b"), col("__m"),
        (lit(2L) * col("__below") + col("__cv") + 1).as("__dr"))
    val cellR = kept.join(ranked, Seq("__b", "__m"))
    val perT = cellR.groupBy(col("__t"))
      .agg(sum(col("__dr").cast(dec38)).as("__r4"))
    val tot = cellR.agg(
      countDistinct(col("__b")).cast(dec38).as("__n"),
      max(col("__k")).cast(dec38).as("__kk"),
      coalesce(sum((col("__dr") * col("__dr")).cast(dec38)),
        lit(0).cast(dec38)).as("__a4"))
    val dev = col("__r4") - col("__n") * (col("__kk") + 1)
    val sq = perT.crossJoin(broadcast(tot))
      .agg(coalesce(sum((dev * dev).cast(dec38)), lit(0).cast(dec38))
          .as("__sq"),
        max(col("__n")).as("__n"), max(col("__kk")).as("__kk"),
        max(col("__a4")).as("__a4"))
    val c4 = col("__n") * col("__kk") *
      (col("__kk") + 1) * (col("__kk") + 1)
    sq.select(col("__n").cast("long").as("n_blocks"),
      col("__kk").cast("long").as("k"),
      when(col("__n") < 1 || col("__kk") < 2 ||
          col("__a4") - c4 <= 0, lit(null))
        .otherwise(((col("__kk") - 1) * col("__sq")).cast("double") /
          (col("__a4") - c4).cast("double")).as("chi2"))
  }

  /** Per-key Mann–Kendall trend test over a time-ordered integral
    * series — is the metric monotonically drifting, without assuming
    * linearity or normality:
    *
    *   S = Σ_{i<j} sign(x_j − x_i),
    *   Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5),
    *   z = (S − sign(S)) / √(Var)
    *
    * All-pairs within a key is O(n²) — per-entity series are bounded
    * (the funnel/EWMA discipline), so the self-join fans out n² per
    * key, never corpus². S, the tie sum, and Var·18 are exact integers;
    * z is one division over one correctly-rounded sqrt. Keys with
    * Var = 0 (all values equal, or n < 2) yield NULL z.
    *
    * The self-join IS the scale shape (measured, r10): an in-row
    * rewrite (collect each series, fold the n² sign comparisons inside
    * a projection) was A/B'd and REJECTED. Isolated it even wins
    * (0.6 s vs 1.0 s at n≈100, StatsBench) — but in the FULL 313-query
    * bench session it ran 54 s vs 1.1 s AND inflated the whole run's
    * tail ~50%: the nested-HOF expression tree generates a huge
    * projection method (the round-7 IVF InlineCentroidMax JIT-blowup
    * class) that thrashes the JVM code cache session-wide. It also
    * serializes each key onto one thread and carries O(n²)
    * intermediate state in one row — an OOM hazard for a hot key. The
    * join form streams pairs through whole-stage codegen and spreads
    * every key's n² across the shuffle's parallelism — ACROSS keys.
    *
    * WITHIN one key the join parallelism argument fails: a single hot
    * key's n²/2 pairs all come out of ONE join key, i.e. ONE task —
    * the q236 bot-user straggler shape (a 100k-event key is 5×10⁹
    * pair evaluations in one thread). `maxSeries` is the measured
    * answer (StatsBench hot-key arm, r11): a key above the cap keeps
    * only its `maxSeries` events of smallest md5(key‖ts‖tie) — a
    * fixed pseudo-random subsample, deterministic and engine-
    * replayable, the Association.itemItemCosine maxBasket discipline.
    * S, ties, and Var then describe the SUBSAMPLE's trend — still a
    * valid MK test of the same null hypothesis (any fixed subsample
    * of an exchangeable-under-H0 series is exchangeable under H0),
    * with power reduced only on the capped keys. Default disables the
    * cap so fixture-scale oracles replay uncapped semantics. */
  def mannKendall(df: DataFrame, keyCol: String, tsCol: String, x: Column,
                  tieCol: String, maxSeries: Int = Int.MaxValue): DataFrame = {
    require(maxSeries >= 2, s"maxSeries must be >= 2, got $maxSeries")
    val base0 = df.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
      col(tieCol).as("__o"), x.as("__x"))
    // Capped path: one per-key sort-window (linear) instead of an n²
    // single-task join. cache(): the capped frame feeds 4 consumers
    // (both join sides, n, ties) and its window is not free to replay;
    // uncapped path is untouched (plan and oracle byte-identical).
    val base =
      if (maxSeries == Int.MaxValue) base0
      else base0.withColumn("__r", row_number().over(
          Window.partitionBy("__k").orderBy(
            md5(concat_ws("#", col("__k").cast("string"),
              col("__t").cast("string"), col("__o").cast("string"),
              col("__x").cast("string"))),
            col("__t"), col("__o"), col("__x"))))
        .filter(col("__r") <= maxSeries).drop("__r").transform(Cut.rows)
    val a = base.select(col("__k"), col("__t").as("__ta"),
      col("__o").as("__oa"), col("__x").as("__xa"))
    val b = base.select(col("__k"), col("__t").as("__tb"),
      col("__o").as("__ob"), col("__x").as("__xb"))
    val pairs = a.join(b, Seq("__k"))
      .filter(col("__ta") < col("__tb") ||
        (col("__ta") === col("__tb") && col("__oa") < col("__ob")))
    val sTab = pairs.groupBy(col("__k"))
      .agg(sum(when(col("__xb") > col("__xa"), 1L)
        .when(col("__xb") < col("__xa"), -1L).otherwise(0L)).as("s"))
    val nTab = base.groupBy(col("__k")).agg(count(lit(1)).as("n"))
    val tieTab = base.groupBy(col("__k"), col("__x"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__k"))
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2L) * col("__t") + 5))
        .as("tsum"))
    val j = nTab.join(sTab, Seq("__k"), "left").join(tieTab, Seq("__k"))
      .select(col("__k"), col("n"), coalesce(col("s"), lit(0L)).as("s"),
        (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
          col("tsum")).as("var18"))
    j.select(col("__k").as(keyCol), col("n").cast("long").as("n"),
      col("s").cast("long").as("s"),
      when(col("var18") <= 0, lit(null)).otherwise(
        when(col("s") > 0, (col("s") - 1).cast("double"))
          .when(col("s") < 0, (col("s") + 1).cast("double"))
          .otherwise(lit(0.0)) /
          sqrt(col("var18").cast("double") / lit(18.0))).as("z"))
  }

  /** Per-key Theil–Sen trend estimator — the robust slope companion to
    * [[mannKendall]] (MK answers "is there a trend", Theil–Sen answers
    * "how steep"): the median of all pairwise slopes, immune to ~29%
    * outlier contamination where OLS breaks at one bad point.
    *
    * Slopes are per-day: (x_j − x_i)·86400e6 / (t_j − t_i µs) — integer
    * numerator, ONE division — then quantized to the 2⁻²⁰ dyadic grid
    * so the exact-interpolating median arithmetic ((a+b)/2 and
    * a+(b−a)·g forms alike) is EXACT on grid values and cannot differ
    * cross-engine by formula association. Same bounded per-entity
    * all-pairs self-join shape as [[mannKendall]] — and the same
    * measured r10 verdict on the in-row alternative, amplified (its
    * pair-generation tree is even bigger: q207 in the full-corpus
    * session ran 347 s vs 3.5 s, isolated ~par — see mannKendall's
    * scale note for the code-cache mechanism). Keys with no pair
    * (n < 2 or all-equal timestamps) are absent from the output.
    *
    * `maxSeries` (see [[mannKendall]]): a hot key is WORSE here than
    * in MK — beyond the single-task n²/2 pair generation, the exact
    * `percentile` buffers that key's whole slope multiset in ONE
    * aggregation buffer (5×10⁹ doubles ≈ 40 GB for a 100k-event key —
    * an executor OOM, not just a straggler). The cap subsamples the
    * key's events by md5(key‖ts‖x) deterministically; the reported
    * slope is then the pairwise median over the subsample — the
    * classical pair-subsampling Theil–Sen estimator. Default
    * disables the cap (fixture oracles replay uncapped). */
  def theilSen(df: DataFrame, keyCol: String, tsCol: String, x: Column,
               maxSeries: Int = Int.MaxValue): DataFrame = {
    require(maxSeries >= 2, s"maxSeries must be >= 2, got $maxSeries")
    val base0 = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__t"), x.as("__x"))
    val base =
      if (maxSeries == Int.MaxValue) base0
      else base0.withColumn("__r", row_number().over(
          Window.partitionBy("__k").orderBy(
            md5(concat_ws("#", col("__k").cast("string"),
              col("__t").cast("string"), col("__x").cast("string"))),
            col("__t"), col("__x"))))
        .filter(col("__r") <= maxSeries).drop("__r").transform(Cut.rows)
    val a = base.select(col("__k"), col("__t").as("__ta"),
      col("__x").as("__xa"))
    val b = base.select(col("__k"), col("__t").as("__tb"),
      col("__x").as("__xb"))
    val slope = ((col("__xb") - col("__xa")) * lit(86400000000L))
      .cast("double") / (col("__tb") - col("__ta"))
    val slopeQ = floor(slope * lit(1048576.0)) / lit(1048576.0)
    a.join(b, Seq("__k")).filter(col("__ta") < col("__tb"))
      .select(col("__k"), slopeQ.as("__s"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_pairs"),
        percentile(col("__s"), lit(0.5)).as("slope_per_day"))
      .select(col("__k").as(keyCol), col("n_pairs").cast("long").as("n_pairs"),
        col("slope_per_day"))
  }

  /** CUPED (Controlled-experiment Using Pre-Existing Data, Deng et al.
    * 2013): how much experiment variance a pre-period covariate removes.
    * θ = cov(x,y)/var(x); the adjusted metric y − θ(x − x̄) has variance
    * var(y)·(1 − ρ²) — the readout is the variance-reduction factor that
    * decides whether the experiment needs 2 weeks or 2 months.
    *
    * ONE aggregation over integral (x, y) unit rows: centered sums exact
    * in DECIMAL(38,0); θ is ONE division; ρ² and the variances are fixed
    * double trees over the exact sums (ρ² squares Sxy in doubles — its
    * decimal square can exceed 38 digits). Returns one row:
    * (n, theta, rho2, var_y, var_y_cuped); a constant covariate yields
    * NULL theta/rho2. */
  def cuped(df: DataFrame, x: Column, y: Column): DataFrame = {
    def s(c: Column) = sum(c.cast(dec38))
    val m = df.agg(count(lit(1)).as("n"), s(x).as("sx"), s(y).as("sy"),
      s(x * x).as("sxx"), s(x * y).as("sxy"), s(y * y).as("syy"))
    val n = col("n").cast(dec38)
    val cxx = n * col("sxx") - col("sx") * col("sx")
    val cxy = n * col("sxy") - col("sx") * col("sy")
    val cyy = n * col("syy") - col("sy") * col("sy")
    val rho2 = (cxy.cast("double") * cxy.cast("double")) /
      (cxx.cast("double") * cyy.cast("double"))
    val varY = cyy.cast("double") /
      (n * (n - lit(1).cast(dec38))).cast("double")
    m.select(col("n").cast("long").as("n"),
      when(cxx === 0, lit(null))
        .otherwise(cxy.cast("double") / cxx.cast("double")).as("theta"),
      when(cxx === 0 || cyy === 0, lit(null)).otherwise(rho2).as("rho2"),
      when(col("n") < 2, lit(null)).otherwise(varY).as("var_y"),
      when(col("n") < 2 || cxx === 0 || cyy === 0, lit(null))
        .otherwise(varY * (lit(1.0) - rho2)).as("var_y_cuped"))
  }

  /** Per-key CUSUM change-point detection — where did the level of a
    * metric shift: t* = argmax |S_t| of the centered cumulative sum
    * S_t = Σ_{i≤t}(x_i − x̄). Everything stays integral by scaling
    * through n: n·S_t = n·c_t − t·m (c_t the running sum, m = Σx), so
    * the argmax and its tie-break (earliest t) are exact integer
    * comparisons — bit-identical on any engine/partitioning — and only
    * the reported statistic max|S_t| = max|n·S_t|/n divides once.
    *
    * ONE window pass per key (running sum + index), one ranking window
    * over the same partitioning, per-key state bounded by the series
    * (the EWMA/funnel discipline). Returns one row per key with ≥ 2
    * points: (key, n, t_star, ts_star, cusum_stat). The boundary
    * excludes t = n (S_n ≡ 0 identically). */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, x: Column,
            tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__o"))
    val wAll = Window.partitionBy(col("__k"))
    val base = df.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
      col(tieCol).as("__o"), x.as("__x"))
    val cum = base
      .withColumn("__i", row_number().over(w))
      .withColumn("__c", sum("__x").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__m", sum("__x").over(wAll))
    val dev = cum.filter(col("__n") >= 2 && col("__i") < col("__n"))
      .withColumn("__ns", col("__n") * col("__c") - col("__i") * col("__m"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__k"))
          .orderBy(abs(col("__ns")).desc, col("__i"))))
    dev.filter(col("__rk") === 1)
      .select(col("__k").as(keyCol), col("__n").cast("long").as("n"),
        col("__i").cast("long").as("t_star"), col("__t").as("ts_star"),
        (abs(col("__ns")).cast("double") / col("__n")).as("cusum_stat"))
  }

  /** Weight of evidence + information value per category bucket — the
    * credit-scoring/feature-screening readout: WOE_b = ln(share of
    * positives in b / share of negatives in b) with the ±0.5 Laplace
    * adjustment (zero cells stay finite), IV = Σ_b (pos_b/P − neg_b/N)
    * · WOE_b. ONE grouped aggregation + one broadcast of the two
    * global totals; the ln goes through [[Exact.lnq]] (raw libm ln is
    * 1-ulp loose cross-engine) and the IV total folds in bucket order
    * over the bucket table (value-cardinality sized). Output one row
    * per bucket: (bucket, pos, neg, woe, iv_term, iv_total). */
  def woeIv(df: DataFrame, bucketCol: String, label: Column): DataFrame = {
    // bucket-bounded, feeds tot + the scored branch pair — uncut, the
    // raw scan re-plans per consumer (audited: 4 static events scans)
    val cells = df.groupBy(col(bucketCol).as("__b"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("pos"),
        sum(when(label, 0L).otherwise(1L)).as("neg"))
      .transform(Cut.summary)
    val tot = cells.agg(sum("pos").as("__p"), sum("neg").as("__n"))
    val woe = Exact.lnq(((col("pos") + lit(0.5)) * col("__n")) /
      ((col("neg") + lit(0.5)) * col("__p")))
    val term = (col("pos").cast("double") / col("__p") -
      col("neg").cast("double") / col("__n")) * col("woe")
    // IV total = in-row ordered fold over the bucket table (the
    // q159/bm25 discipline). NOT a running window sum: DuckDB executes
    // windowed SUM through a segment tree above a size threshold,
    // which REASSOCIATES the double additions — a left-fold running
    // sum only matches it by luck on small inputs.
    val scored = cells.crossJoin(broadcast(tot))
      .withColumn("woe", woe)
      .withColumn("iv_term", term)
    val total = scored.agg(aggregate(
      array_sort(collect_list(struct(col("__b"), col("iv_term")))),
      lit(0.0), (acc, e) => acc + e.getField("iv_term")).as("iv_total"))
    scored.crossJoin(broadcast(total))
      .select(col("__b").as(bucketCol), col("pos").cast("long").as("pos"),
        col("neg").cast("long").as("neg"), col("woe"), col("iv_term"),
        col("iv_total"))
  }

  /** Lift / cumulative-gains table — the model-eval readout beside
    * ROC-AUC (q173) and calibration (q174): rank rows by score
    * descending into `buckets` equal slices (NTILE semantics over a
    * total order — the id tiebreak makes equal scores deterministic),
    * then per slice the positive rate, lift = pos·N/(n·P), and the
    * cumulative gain. Counts stay exact integers (running sums of
    * ints are order-free); each ratio divides once.
    *
    * NO single-task global-sort window (de-windowed r10): the rank
    * comes from [[Ranks.globalRowNumber]] — a distributed
    * range-partitioned sort plus partition-count-bounded base offsets
    * — and the tile from [[Ranks.ntileOfRank]], which replays NTILE's
    * SQL-standard fill (first n%b tiles one row fatter) bit-exactly,
    * so an NTILE oracle is unchanged. The NTILE n comes from a COUNT
    * over the rank step's already-checkpointed frame (broadcast back)
    * — no second scan of the raw input. */
  def liftTable(df: DataFrame, idCol: String, score: Column, label: Column,
                buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val d0 = df.select(col(idCol).as("__id"), score.as("__s"),
      when(label, 1L).otherwise(0L).as("__y"))
    val ranked = Ranks.globalRowNumber(d0, Seq(col("__s").desc, col("__id")))
    val nAll = ranked.agg(count(lit(1)).as("__nall"))
    val d = ranked
      .crossJoin(broadcast(nAll))
      .withColumn("decile",
        Ranks.ntileOfRank(col("r"), col("__nall"), buckets).cast("int"))
    val g = d.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("__y").as("pos"))
    val tot = g.agg(sum("n").as("__nn"), sum("pos").as("__p"))
    val wRun = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cpos", sum(col("pos")).over(wRun))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n").cast("long").as("n"),
        col("pos").cast("long").as("pos"),
        (col("pos").cast("double") / col("n")).as("pos_rate"),
        ((col("pos") * col("__nn")).cast("double") /
          (col("n") * col("__p"))).as("lift"),
        (col("cpos").cast("double") / col("__p")).as("cum_gain"))
  }

  /** Split-conformal prediction intervals — distribution-free coverage
    * for ANY point predictor: with a held-out calibration set, q = the
    * ⌈(1−α)(n+1)⌉-th smallest |y − ŷ| guarantees P(y ∈ ŷ ± q) ≥ 1−α
    * on exchangeable data (Vovk et al.). The quantile is an EXACT
    * order statistic (rank pick, no interpolation — ties share the
    * value, so the arbitrary tie order cannot change q), computed by
    * one ranking pass over the CALIBRATION residuals — calibration
    * sets are small by design (8-byte rows even when they are not);
    * the scoring set gets the interval as a broadcast-scalar
    * projection. Ranks beyond n (tiny calibration) clip to the max
    * residual. Appends (lo, hi) to `test`. */
  def conformalInterval(cal: DataFrame, test: DataFrame, yCol: String,
                        yhatCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    // collapse calibration residuals onto their DISTINCT-VALUE count
    // table first (the doubledRanks discipline): the global order-
    // statistic windows then run over value cardinality, never raw
    // rows, and n rides the SAME single exchange as the prefix counts
    // (a separate count() aggregate would re-plan the whole
    // calibration upstream)
    val byV = cal.select(abs(col(yCol) - col(yhatCol)).as("__r"))
      .groupBy("__r").agg(count(lit(1)).as("__c"))
    val ord = Window.orderBy(col("__r"))
    val pref = byV
      .withColumn("__upto", sum("__c").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum("__c").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // the ⌈(1−α)(n+1)⌉-th (capped at n) smallest residual is the value
    // whose tie run covers that rank — the run occupies (__upto−__c, __upto]
    val k = least(ceil(lit(1 - alpha) * (col("__n") + 1)).cast("long"),
      col("__n"))
    val q = pref
      .filter(col("__upto") - col("__c") < k && k <= col("__upto"))
      .select(col("__r").as("__q"))
    test.crossJoin(broadcast(q))
      .withColumn("lo", col(yhatCol) - col("__q"))
      .withColumn("hi", col(yhatCol) + col("__q"))
      .drop("__q")
  }

  /** Mondrian (group-conditional) conformal intervals — per-segment
    * coverage instead of [[conformalInterval]]'s marginal guarantee:
    * the ⌈(1−α)(n_g+1)⌉-th residual is taken WITHIN each group, so
    * every segment gets its own width and its own ≥1−α coverage (the
    * production requirement — marginal conformal over-covers easy
    * segments and under-covers hard ones). One ranking window per
    * group over the calibration residuals, a group-keyed broadcast
    * join onto the scoring set. Groups absent from calibration get no
    * interval (inner join — surface them upstream). */
  def conformalIntervalByGroup(cal: DataFrame, test: DataFrame,
                               groupCol: String, yCol: String,
                               yhatCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val r = cal.select(col(groupCol).as("__g"),
      abs(col(yCol) - col(yhatCol)).as("__r"))
    val ranked = r
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("__r"))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("__g"))))
    val q = ranked.filter(col("__rk") === least(
        ceil(lit(1 - alpha) * (col("__n") + 1)).cast("long"), col("__n")))
      .select(col("__g").as(groupCol), col("__r").as("__q"))
    test.join(q, groupCol)
      .withColumn("lo", col(yhatCol) - col("__q"))
      .withColumn("hi", col(yhatCol) + col("__q"))
      .drop("__q")
  }

  /** Mutual information between two categorical columns — the
    * model-free feature-screening companion to [[woeIv]] (which needs
    * a binary target): MI = Σ_xy p_xy · ln(p_xy / (p_x · p_y)), in
    * nats. ONE grouped count over the (x, y) cells; marginals ride
    * windows over the CELL table (value-cardinality sized, never the
    * data); each cell's ln goes through [[Exact.lnq]] on the exact
    * integer ratio (c_xy·N)/(c_x·c_y) and the total folds in (x, y)
    * cell order — the [[woeIv]] prefix-then-last discipline. Returns
    * one row per observed cell plus the repeated mi_total. */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("c"))
    val wx = Window.partitionBy(col("__x"))
    val wy = Window.partitionBy(col("__y"))
    val wAllRows = Window.partitionBy(lit(1))
    val base = cells
      .withColumn("cx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .withColumn("n", sum(col("c")).over(wAllRows))
      .withColumn("term", (col("c").cast("double") / col("n")) *
        Exact.lnq((col("c") * col("n")).cast("double") /
          (col("cx") * col("cy"))))
    // in-row ordered fold for the total — see woeIv for why a running
    // window sum cannot be used (DuckDB segment-tree reassociation)
    val total = base.agg(aggregate(
      array_sort(collect_list(struct(col("__x"), col("__y"), col("term")))),
      lit(0.0), (acc, e) => acc + e.getField("term")).as("mi_total"))
    base.crossJoin(broadcast(total))
      .select(col("__x").as(xCol), col("__y").as(yCol),
        col("c").cast("long").as("c"), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"), col("term"), col("mi_total"))
  }

  /** Theil's uncertainty coefficient U(X|Y) = I(X;Y) / H(X) — the
    * NORMALIZED, ASYMMETRIC categorical association ("what fraction of
    * the uncertainty in X does knowing Y remove"): the readable [0,1]
    * companion to [[mutualInformation]]'s raw nats and the directional
    * complement to symmetric Cramér's V (U(lang|source) and
    * U(source|lang) answer different curation questions). Same
    * (x, y) cell table as MI — ONE corpus shuffle; marginals
    * re-aggregate from the cells. Every probability is an exact
    * integer ratio divided once, ln runs on the [[Exact.lnq]] 2⁻²⁶
    * grid, and both the MI and H(X) sums fold in sorted category
    * order in-row (cell-cardinality bounded), so the doubles are
    * bit-identical on any engine or partitioning. NULL u when
    * H(X) = 0 (single X category). */
  def theilsU(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.select(col(xCol).as("__x"), col(yCol).as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("c"))
      .transform(Cut.summary)
    val wx = Window.partitionBy(col("__x"))
    val wy = Window.partitionBy(col("__y"))
    val wAllRows = Window.partitionBy(lit(1))
    val mi = cells
      .withColumn("cx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .withColumn("n", sum(col("c")).over(wAllRows))
      .withColumn("__mt", (col("c").cast("double") / col("n")) *
        Exact.lnq((col("c") * col("n")).cast("double") /
          (col("cx") * col("cy"))))
      .agg(max(col("n")).cast("long").as("n"),
        aggregate(array_sort(collect_list(struct(
            col("__x"), col("__y"), col("__mt")))),
          lit(0.0), (acc, e) => acc + e.getField("__mt")).as("mi"))
    val hx = cells.groupBy(col("__x")).agg(sum("c").as("cx"))
      .withColumn("n", sum(col("cx")).over(wAllRows))
      .withColumn("__ht", (col("cx").cast("double") / col("n")) *
        Exact.lnq(col("cx").cast("double") / col("n")))
      .agg((lit(0.0) - aggregate(
        array_sort(collect_list(struct(col("__x"), col("__ht")))),
        lit(0.0), (acc, e) => acc + e.getField("__ht"))).as("h_x"))
    mi.crossJoin(broadcast(hx))
      .select(col("n"), col("h_x"), col("mi"),
        when(col("h_x") <= 0, lit(null))
          .otherwise(col("mi") / col("h_x")).as("u"))
  }

  /** Leave-one-out target encoding — the categorical-feature encoding
    * that avoids self-leakage: each row's code is the mean target of
    * its category EXCLUDING the row itself, (Σ_g y − yᵢ)/(n_g − 1)
    * (NULL for singleton categories). One grouped agg joined back (AQE
    * broadcasts the category table) + a pure projection — never a
    * per-row window over the category. Pass an integral `y`: the
    * subtraction stays exact and the single division replays. Appends
    * `loo` to the input. */
  def looTargetEncode(df: DataFrame, catCol: String, y: Column): DataFrame = {
    val stats = df.groupBy(col(catCol))
      .agg(sum(y).as("__sy"), count(lit(1)).as("__ny"))
    df.withColumn("__y", y)
      .join(stats, catCol)
      .withColumn("loo", when(col("__ny") === 1, lit(null))
        .otherwise((col("__sy") - col("__y")).cast("double") /
          (col("__ny") - 1)))
      .drop("__y", "__sy", "__ny")
  }

  /** 2-D Pareto frontier (skyline): the rows not strictly dominated in
    * the maximize-both order — q dominates p iff qx ≥ px ∧ qy ≥ py with
    * at least one strict. Negate a column to minimize it.
    *
    * The classic formulation is an all-pairs anti-join (quadratic —
    * dead at scale). In 2-D the frontier has a one-pass shape: reduce
    * to the per-x best y (one grouped agg riding one shuffle), then a
    * single ordered scan over the DISTINCT-x summary — x descending,
    * running max of best-y strictly before the current x — keeps
    * exactly the x whose best y exceeds everything to its right. The
    * window runs over the distinct-x table (value-cardinality, not row
    * count); the final join back to fetch the full qualifying rows is
    * frontier-sized and AQE-broadcast. All comparisons are on the
    * caller's (ideally integral) columns — no floats introduced, so
    * ties (multiple rows at a frontier point) are all kept, exactly. */
  def paretoFront(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val perX = df.groupBy(col(xCol).as("__x"))
      .agg(max(col(yCol)).as("__my"))
    val wGt = Window.orderBy(col("__x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = perX.withColumn("__mgt", max(col("__my")).over(wGt))
      .filter(col("__mgt").isNull || col("__my") > col("__mgt"))
      .select(col("__x"), col("__my"))
    df.join(front,
        col(xCol) === col("__x") && col(yCol) === col("__my"))
      .drop("__x", "__my")
  }

  /** Two-sample Kolmogorov–Smirnov statistic per key — did the
    * distribution of a metric differ between two arms: D = max over v of
    * |F₁(v) − F₂(v)|, the ECDFs evaluated at every distinct value.
    * Scaling through n₁·n₂ keeps the argmax exact: n₁·n₂·|ΔF(v)| =
    * |n₂·c₁(v) − n₁·c₂(v)| with cᵢ the cumulative arm counts — integer
    * comparisons, bit-identical on any engine, ONE division for the
    * reported D. Ties are handled by evaluating ECDFs per DISTINCT value
    * (both arms' tied points step together), which is the correct KS
    * convention for discrete data.
    *
    * Scale shape: the window runs over the per-key DISTINCT-value table
    * (one grouped agg first), so its size is the quantized-value
    * cardinality, not the row count — at 100 TB the heavy lifting is the
    * map-side-combined groupBy; the per-key scan that follows is over a
    * bounded summary. Returns one row per key with both arms non-empty:
    * (key, n1, n2, d_scaled, ks_stat, v_star) — v_star the smallest
    * value attaining the max. */
  def ksTest(df: DataFrame, keyCol: String, inArm1: Column, inArm2: Column,
             x: Column): DataFrame = {
    val byVal = df.select(col(keyCol).as("__k"), x.as("__v"),
        when(inArm1, 1L).otherwise(0L).as("__a1"),
        when(inArm2, 1L).otherwise(0L).as("__a2"))
      .filter(col("__a1") + col("__a2") > 0)
      .groupBy("__k", "__v")
      .agg(sum("__a1").as("__d1"), sum("__a2").as("__d2"))
    val wCum = Window.partitionBy(col("__k")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__k"))
    val cum = byVal
      .withColumn("__c1", sum("__d1").over(wCum))
      .withColumn("__c2", sum("__d2").over(wCum))
      .withColumn("__n1", sum("__d1").over(wAll))
      .withColumn("__n2", sum("__d2").over(wAll))
      .withColumn("__ns",
        abs(col("__n2") * col("__c1") - col("__n1") * col("__c2")))
    val top = cum.filter(col("__n1") > 0 && col("__n2") > 0)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__k"))
          .orderBy(col("__ns").desc, col("__v"))))
      .filter(col("__rk") === 1)
    top.select(col("__k").as(keyCol),
      col("__n1").cast("long").as("n1"), col("__n2").cast("long").as("n2"),
      col("__ns").cast("long").as("d_scaled"),
      (col("__ns").cast("double") / (col("__n1") * col("__n2")))
        .as("ks_stat"),
      col("__v").as("v_star"))
  }

  /** Per-key Mann–Whitney rank-sum test + Cliff's delta — the LOCATION
    * companion to [[ksTest]]'s shape test (did the metric's level shift
    * per segment, robust to outliers and any monotone transform):
    *
    *   U₁ = R₁ − n₁(n₁+1)/2,   δ = 2U₁/(n₁n₂) − 1,
    *   z = (U₁ − n₁n₂/2) / √(n₁n₂[(n+1)n(n−1) − Σ(t³−t)] / (12n(n−1)))
    *
    * Same collapsed per-(key, value) cell table as ksTest — ONE corpus
    * shuffle, per-key windows over DISTINCT values only. Doubled
    * average ranks keep 2R₁ = Σ d₁·dr exactly integral under ties, so
    * the z numerator (2U₁ − n₁n₂) and the variance radicand's
    * numerator/denominator are exact DECIMAL(38) integers: δ is one
    * division, z one division over one sqrt of one division —
    * bit-identical anywhere. Cliff's |δ| is the effect size the
    * p-value can't give at 100 TB (everything is "significant" at
    * n = 10⁹; δ says whether it MATTERS). Keys with an empty arm
    * drop (the ksTest contract); all-tied keys read NULL z. */
  def mannWhitneyByKey(df: DataFrame, keyCol: String, inArm1: Column,
                       inArm2: Column, x: Column): DataFrame = {
    val byVal = df.select(col(keyCol).as("__k"), x.as("__v"),
        when(inArm1, 1L).otherwise(0L).as("__a1"),
        when(inArm2, 1L).otherwise(0L).as("__a2"))
      .filter(col("__a1") + col("__a2") > 0)
      .groupBy("__k", "__v")
      .agg(sum("__a1").as("__d1"), sum("__a2").as("__d2"))
    val wOrd = Window.partitionBy(col("__k")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = byVal
      .withColumn("__c", col("__d1") + col("__d2"))
      .withColumn("__below", coalesce(sum("__c").over(wOrd), lit(0L)))
      .withColumn("__dr", lit(2L) * col("__below") + col("__c") + 1)
    val g = r.groupBy(col("__k"))
      .agg(sum("__d1").cast(dec38).as("n1"),
        sum("__d2").cast(dec38).as("n2"),
        sum(col("__d1").cast(dec38) * col("__dr")).as("__sdr1"),
        sum((col("__c").cast(dec38) * col("__c") * col("__c") -
          col("__c")).cast(dec38)).as("__ts"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val n = col("n1") + col("n2")
    val num2 = col("__sdr1") - col("n1") * (col("n1") + 1) -
      col("n1") * col("n2")
    val varNum = col("n1") * col("n2") *
      ((n + 1) * n * (n - 1) - col("__ts"))
    g.select(col("__k").as(keyCol),
      col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      ((num2 + col("n1") * col("n2")).cast("double") / 2.0).as("u1"),
      (num2.cast("double") / (col("n1") * col("n2")).cast("double"))
        .as("cliffs_delta"),
      when(varNum <= 0, lit(null)).otherwise(
        num2.cast("double") / (lit(2.0) * sqrt(varNum.cast("double") /
          (lit(12).cast(dec38) * n * (n - 1)).cast("double")))).as("z"))
  }

  /** Benjamini–Hochberg step-up FDR adjustment over a family of tests —
    * the multiple-comparisons guard when thousands of metric/segment
    * hypotheses are read at once: adjusted pᵢ = min(1, min_{j≥i} pⱼ·m/j)
    * with p ascending at rank j of m. Implemented as ONE ordered window
    * per family: rank by (p, id) — the id tiebreak pins equal p — then a
    * running MIN of p·m/j taken from the LARGEST p downward (a reversed
    * cumulative frame). Each candidate value is one IEEE multiply + one
    * divide from identical inputs — correctly rounded the same on every
    * engine — so the running min, and hence the hash, replays exactly.
    * The family table is #tests-sized (metadata scale), never data
    * scale; upstream per-test aggregation is where 100 TB is spent.
    *
    * Input: one row per test. Output: input key/p plus (m, p_rank,
    * p_adj, and rejected@alpha). */
  def bhAdjust(df: DataFrame, idCol: String, pCol: String,
               alpha: Double): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
    val base = df.select(col(idCol).as("__id"),
        col(pCol).cast("double").as("__p"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__j", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("__p"), col("__id"))))
    val cand = base.withColumn("__c", col("__p") * col("__m") / col("__j"))
    val wDown = Window.partitionBy(lit(1))
      .orderBy(col("__j").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand.withColumn("__adj", least(lit(1.0), min(col("__c")).over(wDown)))
      .select(col("__id").as(idCol), col("__p").as(pCol),
        col("__m").cast("long").as("m"), col("__j").cast("long").as("p_rank"),
        col("__adj").as("p_adj"),
        (col("__adj") <= lit(alpha)).as("rejected"))
  }

  /** Two-proportion z-test — the A/B conversion readout: arm assignment
    * and success are boolean columns, counts are exact integers from ONE
    * conditional aggregation, and z uses the pooled-variance formula as
    * a fixed IEEE expression tree (sqrt is correctly rounded, so the
    * double replays cross-engine). Degenerate pools (all-success /
    * all-failure / an empty arm) return NULL z. */
  def twoProportionZ(df: DataFrame, armA: Column, success: Column)
      : DataFrame = {
    val agg = df.agg(
      sum(when(armA, 1L).otherwise(0L)).cast("long").as("n1"),
      sum(when(armA && success, 1L).otherwise(0L)).cast("long").as("s1"),
      sum(when(!armA, 1L).otherwise(0L)).cast("long").as("n2"),
      sum(when(!armA && success, 1L).otherwise(0L)).cast("long").as("s2"))
    val p1 = col("s1").cast("double") / col("n1")
    val p2 = col("s2").cast("double") / col("n2")
    val p = (col("s1") + col("s2")).cast("double") / (col("n1") + col("n2"))
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n1") + lit(1.0) / col("n2")))
    agg.withColumn("p1", when(col("n1") === 0, lit(null)).otherwise(p1))
      .withColumn("p2", when(col("n2") === 0, lit(null)).otherwise(p2))
      .withColumn("z",
        when(col("n1") === 0 || col("n2") === 0, lit(null))
          .otherwise(when(se === 0, lit(null))
            .otherwise((col("p1") - col("p2")) / se)))
  }

  /** Difference-in-differences — the workhorse quasi-experimental
    * estimator when treatment wasn't randomized but a parallel-trends
    * control exists (feature rollout by region, policy change by
    * cohort): DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre).
    * ONE conditional aggregation produces the four cell sums/counts as
    * exact integers (pass an integral `y` — fixed-point first); each
    * cell mean is ONE division and the estimate is the fixed
    * subtraction tree above, so the doubles hash-replay. Emits the
    * four cell (n, mean) pairs beside the estimate — a DiD without its
    * cells is unreviewable. */
  def diffInDiff(df: DataFrame, treated: Column, post: Column, y: Column)
      : DataFrame = {
    def cell(p: Column) = struct(
      sum(when(p, 1L).otherwise(0L)).cast("long").as("n"),
      sum(when(p, y.cast("long")).otherwise(0L)).cast("long").as("s"))
    val agg = df.agg(
      cell(treated && post).as("tp"), cell(treated && !post).as("ta"),
      cell(!treated && post).as("cp"), cell(!treated && !post).as("ca"))
    def mean(c: String) = col(s"$c.s").cast("double") / col(s"$c.n")
    agg.select(
        col("tp.n").as("n_treat_post"), mean("tp").as("m_treat_post"),
        col("ta.n").as("n_treat_pre"), mean("ta").as("m_treat_pre"),
        col("cp.n").as("n_ctrl_post"), mean("cp").as("m_ctrl_post"),
        col("ca.n").as("n_ctrl_pre"), mean("ca").as("m_ctrl_pre"))
      .withColumn("did",
        (col("m_treat_post") - col("m_treat_pre")) -
          (col("m_ctrl_post") - col("m_ctrl_pre")))
  }

  /** Brown–Forsythe test (Levene with median centers) — equality of
    * spread across groups, robust to non-normality; the gate to run
    * BEFORE trusting a pooled-variance t/F readout. z = |x − med_g|,
    * then the one-way ANOVA F statistic over z.
    *
    * Exactness: the group median is the SUM of the two middle order
    * statistics (ranks ⌊(n+1)/2⌋ and ⌈(n+1)/2⌉ — equal when n is odd),
    * kept DOUBLED so it stays integral; z is computed doubled too
    * (|2x − 2med|) and the 4× factor cancels in F. Between-group
    * Σ Sᵢ²/nᵢ is folded in group order (one division per group, in-row
    * ordered fold — never a windowed double sum); the grand term and
    * the two df-divisions are each ONE division.
    *
    * Scale shape: ONE scan collapses rows onto the DISTINCT-VALUE
    * table (the trimmedMean discipline); both order statistics come
    * from per-group prefix counts over that small table — no row-scale
    * rank window, which with a low-cardinality group key (q234 groups
    * by returnflag — 3 groups at any SF) would funnel the whole table
    * through k window partitions — and the z-moments reuse the same
    * cut cells with count weights. */
  def brownForsythe(df: DataFrame, groupCol: String, x: Column)
      : DataFrame = {
    val dv = df.select(col(groupCol).as("__g"), x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy("__g", "__x").agg(count(lit(1)).as("__c"))
      .transform(Cut.summary)
    val wp = Window.partitionBy("__g").orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = dv
      .withColumn("__upto", sum("__c").over(wp))
      .withColumn("__n", sum("__c").over(Window.partitionBy("__g")))
    val lo = call_function("div", col("__n") + 1, lit(2L))
    val hi = call_function("div", col("__n"), lit(2L)) + 1
    // a value run occupies ranks (__upto − __c, __upto]; it contributes
    // x once per middle order statistic it covers (both when n is odd
    // and lo == hi lands inside it → 2x, the doubling for free)
    def hits(r: Column): Column =
      when(col("__upto") - col("__c") < r && r <= col("__upto"), 1L)
        .otherwise(0L)
    val med2 = pref
      .select(col("__g"), (col("__x") * (hits(lo) + hits(hi))).as("__m"))
      .groupBy("__g").agg(sum("__m").as("__med2"))
    val z = dv.join(med2, "__g")
      .select(col("__g"), abs(col("__x") * 2 - col("__med2")).as("__z"),
        col("__c"))
    val cells = z.groupBy("__g")
      .agg(sum("__c").as("n"),
        sum(col("__z").cast(dec38) * col("__c").cast(dec38)).as("s"),
        sum(col("__z").cast(dec38) * col("__z").cast(dec38) *
          col("__c").cast(dec38)).as("ss"))
    cells.agg(
        count(lit(1)).cast("long").as("k"),
        sum("n").cast("long").as("n"),
        sum("s").cast(dec38).as("__ts"),
        sum("ss").cast(dec38).as("__tss"),
        aggregate(
          array_sort(collect_list(struct(col("__g"),
            (col("s").cast("double") * col("s").cast("double") /
              col("n")).as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__bsum"))
      .select(col("k"), col("n"),
        (col("__bsum") - col("__ts").cast("double") *
          col("__ts").cast("double") / col("n")).as("__between"),
        (col("__tss").cast("double") - col("__bsum")).as("__within"))
      .select(col("k"), col("n"),
        when(col("k") <= 1 || col("n") <= col("k") || col("__within") <= 0,
          lit(null))
          .otherwise((col("__between") / (col("k") - 1)) /
            (col("__within") / (col("n") - col("k")))).as("f_stat"))
  }

  /** McNemar's test — paired binary outcomes on the SAME subjects
    * (does a user who does A also do B; did relabeling flip examples):
    * only the discordant counts matter, χ² = (b − c)²/(b + c) with
    * b = yes→no, c = no→yes. ONE conditional aggregation, exact
    * integers, ONE division. NULL when b + c = 0 (no discordance — the
    * test is undefined, not zero). */
  def mcnemar(df: DataFrame, first: Column, second: Column): DataFrame =
    df.agg(
        sum(when(first && !second, 1L).otherwise(0L)).cast("long").as("b"),
        sum(when(!first && second, 1L).otherwise(0L)).cast("long").as("c"),
        sum(when(first && second, 1L).otherwise(0L)).cast("long")
          .as("n_both"),
        sum(when(!first && !second, 1L).otherwise(0L)).cast("long")
          .as("n_neither"))
      .withColumn("chi2",
        when(col("b") + col("c") === 0, lit(null))
          .otherwise(((col("b") - col("c")) * (col("b") - col("c")))
            .cast("double") / (col("b") + col("c"))))

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * labelers (annotator QA, model-vs-heuristic audit, dedup-tier
    * consensus): κ = (p_o − p_e)/(1 − p_e). ONE grouped count on the
    * (a, b) label pairs; p_o is ONE division of exact integers and p_e
    * keeps an exact integer numerator Σ_k n_a(k)·n_b(k) over N² (ONE
    * division — never a sum of per-label double products). NULL when
    * p_e = 1 (a single label on both sides — agreement is vacuous). */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val pairs = df.select(a.cast("string").as("__a"),
      b.cast("string").as("__b"))
    // The contingency table is label²-bounded but feeds THREE consumers
    // (both marginals + agree/N) — without a cut the full upstream scan
    // (with whatever expensive projection produced the labels, e.g.
    // q238's stopword language vote) runs three times (read in the q238
    // plan audit: 3 parquet scans, no ReusedExchange).
    val cells = pairs.groupBy("__a", "__b").agg(count(lit(1)).as("__n"))
      .transform(Cut.summary)
    val marg = cells.groupBy("__a").agg(sum("__n").as("__na"))
      .join(cells.groupBy("__b").agg(sum("__n").as("__nb")),
        col("__a") === col("__b"), "full")
      .select(coalesce(col("__na"), lit(0L)).as("__na"),
        coalesce(col("__nb"), lit(0L)).as("__nb"))
      .agg(sum((col("__na") * col("__nb")).cast(dec38)).as("__pe_num"))
    val agreeN = cells.agg(
      sum(when(col("__a") === col("__b"), col("__n")).otherwise(0L))
        .cast("long").as("__agree"),
      sum("__n").cast("long").as("n"))
    agreeN.crossJoin(broadcast(marg))
      .select(col("n"), col("__agree").as("n_agree"),
        (col("__agree").cast("double") / col("n")).as("p_o"),
        (col("__pe_num").cast("double") /
          (col("n").cast(dec38) * col("n").cast(dec38)).cast("double"))
          .as("p_e"))
      .withColumn("kappa",
        when(col("p_e") === 1.0, lit(null))
          .otherwise((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))))
  }

  /** Cochran–Mantel–Haenszel test — a 2×2 association (exposure ×
    * outcome) tested ACROSS strata without pooling (pooling invites
    * Simpson's paradox; CMH conditions on each stratum's margins):
    * CMH = (Σ_k (a_k − E_k))² / Σ_k V_k with E = r₁c₁/n and
    * V = r₁r₂c₁c₂ / (n²(n−1)). ONE grouped conditional count per
    * stratum; E and V are each ONE division with DECIMAL(38,0)-exact
    * integer numerators/denominators (r₁r₂c₁c₂ overflows a long); the
    * two cross-stratum sums fold in stratum order (in-row ordered
    * fold). Degenerate strata (n ≤ 1 or an empty margin) contribute
    * zero to both sums, exactly as the textbook statistic drops them. */
  def cmh(df: DataFrame, stratum: Column, exposed: Column,
          outcome: Column): DataFrame = {
    val cells = df.groupBy(stratum.as("__s"))
      .agg(sum(when(exposed && outcome, 1L).otherwise(0L)).as("a"),
        sum(when(exposed, 1L).otherwise(0L)).as("r1"),
        sum(when(outcome, 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("nk"))
    val r2 = col("nk") - col("r1")
    val c2 = col("nk") - col("c1")
    val degenerate = col("nk") <= 1 || col("r1") === 0 || r2 === 0 ||
      col("c1") === 0 || c2 === 0
    val eTerm = when(degenerate, lit(0.0)).otherwise(
      col("a").cast("double") -
        (col("r1") * col("c1")).cast("double") / col("nk"))
    val vTerm = when(degenerate, lit(0.0)).otherwise(
      (col("r1").cast(dec38) * r2.cast(dec38) * col("c1").cast(dec38) *
        c2.cast(dec38)).cast("double") /
        (col("nk").cast(dec38) * col("nk").cast(dec38) *
          (col("nk") - 1).cast(dec38)).cast("double"))
    cells
      .select(col("__s"), eTerm.as("__e"), vTerm.as("__v"))
      .agg(count(lit(1)).cast("long").as("n_strata"),
        aggregate(array_sort(collect_list(struct(col("__s"),
            col("__e").as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__se"),
        aggregate(array_sort(collect_list(struct(col("__s"),
            col("__v").as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__sv"))
      .select(col("n_strata"), col("__se").as("sum_dev"),
        col("__sv").as("sum_var"),
        when(col("__sv") <= 0, lit(null))
          .otherwise(col("__se") * col("__se") / col("__sv")).as("cmh"))
  }

  /** Multinomial goodness-of-fit against SUPPLIED target shares — the
    * mixture-compliance gate: after mixture sampling / IPF raking,
    * does the realized category mix actually match the recipe?
    * χ² = Σ (n_k − N·p_k)²/(N·p_k), folded in category order, with
    * categories ABSENT from the data still contributing their
    * N·p_k term (the q202 Benford scaffold discipline — absence is
    * exactly the violation the gate exists to catch). Target
    * categories must cover the data (an observed category with no
    * target share fails loudly rather than silently skewing χ²).
    * One grouped count; everything else runs on ≤ |targets| rows. */
  def multinomialGof(df: DataFrame, catCol: String,
                     targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "multinomialGof: no target shares")
    val tSum = targets.map(_._2).sum
    require(math.abs(tSum - 1.0) < 1e-9,
      s"target shares must sum to 1, got $tSum")
    val spark = df.sparkSession
    import spark.implicits._
    val t = targets.toDF("__cat", "p")
    val obs = df.select(col(catCol).cast("string").as("__cat"))
      .groupBy("__cat").agg(count(lit(1)).as("__n"))
    val joined = t.join(obs, Seq("__cat"), "full")
      .select(col("__cat"), col("p"),
        coalesce(col("__n"), lit(0L)).as("n"))
    // loud failure on uncovered categories (p null ⇒ the caller's
    // recipe does not know this category)
    val scaffold = joined.withColumn("p",
      when(col("p").isNull,
        raise_error(concat(lit("multinomialGof: category without a " +
          "target share: "), col("__cat")))).otherwise(col("p")))
    val tot = scaffold.agg(sum("n").cast("double").as("__N"))
    scaffold.crossJoin(broadcast(tot))
      .withColumn("expected", col("__N") * col("p"))
      .withColumn("__term",
        (col("n") - col("expected")) * (col("n") - col("expected")) /
          col("expected"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum("n").cast("long").as("n"),
        aggregate(array_sort(collect_list(struct(col("__cat"),
            col("__term").as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("chi2"))
  }

  /** Herfindahl–Hirschman concentration index — ONE number for "how
    * concentrated is the corpus on few sources/domains/licenses":
    * HHI = Σ share_k² ∈ (1/k, 1], 1 = a single category. The exact
    * path keeps the numerator integral — HHI = Σ n_k² / N² — so it is
    * ONE division of DECIMAL(38,0)-exact sums; also emits the
    * effective number of categories 1/HHI (ONE more division). One
    * grouped count, any scale. */
  def herfindahl(df: DataFrame, catCol: String): DataFrame =
    df.select(col(catCol).cast("string").as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum("n").cast("long").as("n"),
        sum((col("n") * col("n")).cast(dec38)).as("__s2"))
      .select(col("k"), col("n"),
        (col("__s2").cast("double") /
          (col("n").cast(dec38) * col("n").cast(dec38)).cast("double"))
          .as("hhi"))
      .withColumn("effective_categories", lit(1.0) / col("hhi"))

  /** Empirical-Bayes rate shrinkage — the honest per-key rate when
    * keys have wildly different sample sizes (per-domain quality
    * rates, per-user conversion, per-source defect shares): a raw
    * x/n ranks a 1-of-1 key above a 999-of-1000 key; shrinking toward
    * a beta prior FIT FROM THE DATA (beta-binomial method of moments:
    * α+β = m(1−m)/v − 1 over the observed per-key rates) pulls small
    * keys to the global mean and leaves big keys alone. Output per
    * key: (key, n, x, rate, shrunk_rate) plus the fitted (alpha,
    * beta) repeated.
    *
    * Shape: one grouped count to the KEY table, then folds over THAT
    * (key-cardinality; for million-key spaces fit the prior on a
    * sample — the estimate needs moments, not the population).
    * Determinism: each rate is ONE division; the mean and variance
    * fold in key order (in-row ordered folds, two passes); the prior
    * and every shrunk rate are fixed expression trees. Degenerate
    * dispersion (v ≤ 0 or v ≥ m(1−m) — under/over-dispersed beyond
    * the beta family) returns NULL prior and shrunk = raw. */
  def ebShrinkRates(df: DataFrame, keyCol: String, success: Column)
      : DataFrame = {
    // the per-key rate table feeds THREE consumers (both moment passes
    // + the final scoring projection) — uncut, the raw scan re-plans
    // per consumer (audited: 3 static events scans); key-cardinality
    // frames are row-scale at 100 TB, hence Cut.rows
    val keys = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("x"))
      .withColumn("rate", col("x").cast("double") / col("n"))
      .transform(Cut.rows)
    val m1 = keys.agg(
      count(lit(1)).cast("double").as("__kn"),
      aggregate(array_sort(collect_list(struct(col("__k"),
          col("rate").as("__p")))),
        lit(0.0), (acc, e) => acc + e.getField("__p")).as("__sp"))
      .select(col("__kn"), (col("__sp") / col("__kn")).as("__m"))
    val m2 = keys.crossJoin(broadcast(m1))
      .agg(first("__kn").as("__kn"), first("__m").as("__m"),
        aggregate(array_sort(collect_list(struct(col("__k"),
            ((col("rate") - col("__m")) * (col("rate") - col("__m")))
              .as("__d")))),
          lit(0.0), (acc, e) => acc + e.getField("__d")).as("__sd"))
      .select(col("__m"),
        when(col("__kn") <= 1, lit(null))
          .otherwise(col("__sd") / (col("__kn") - 1)).as("__v"))
    val prior = m2.select(col("__m"), col("__v"),
      when(col("__v").isNull || col("__v") <= 0 ||
          col("__v") >= col("__m") * (lit(1.0) - col("__m")), lit(null))
        .otherwise(col("__m") * (lit(1.0) - col("__m")) / col("__v") -
          lit(1.0)).as("__ab"))
      .select(
        (col("__m") * col("__ab")).as("alpha"),
        ((lit(1.0) - col("__m")) * col("__ab")).as("beta"))
    keys.crossJoin(broadcast(prior))
      .select(col("__k").as(keyCol), col("n").cast("long").as("n"),
        col("x").cast("long").as("x"), col("rate"),
        col("alpha"), col("beta"),
        when(col("alpha").isNull, col("rate"))
          .otherwise((col("x") + col("alpha")) /
            (col("n") + col("alpha") + col("beta"))).as("shrunk_rate"))
  }

  /** Off-policy value estimation — inverse-propensity scoring over a
    * logged-action dataset: "what reward would the NEW policy have
    * earned on traffic the OLD policy logged". IPS = Σ 𝟙[match]·r·w / n
    * (unbiased, high variance) and SNIPS = Σ 𝟙·r·w / Σ 𝟙·w (the
    * self-normalized estimator that trades a little bias for a lot of
    * variance) — the standard pair for bandit/recommender replay
    * evaluation. `ipw` is the INTEGRAL inverse propensity weight of
    * the logged action (1/p — e.g. 5 for uniform-over-5 logging;
    * rational propensities keep it integral), `reward` integral, so
    * both sums are DECIMAL(38,0)-exact and each estimator is ONE
    * division. ONE conditional aggregation; any scale. SNIPS is NULL
    * when the new policy matches no logged action. */
  def ipsOffPolicy(df: DataFrame, matched: Column, reward: Column,
                   ipw: Column): DataFrame =
    df.select(matched.as("__m"), reward.cast("long").as("__r"),
        ipw.cast("long").as("__w"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("__m"), 1L).otherwise(0L)).cast("long")
          .as("n_matched"),
        sum(when(col("__m"), (col("__r") * col("__w")).cast(dec38))
          .otherwise(lit(0).cast(dec38))).as("__srw"),
        sum(when(col("__m"), col("__w").cast(dec38))
          .otherwise(lit(0).cast(dec38))).as("__sw"))
      .select(col("n"), col("n_matched"),
        (col("__srw").cast("double") / col("n")).as("ips"),
        when(col("n_matched") === 0, lit(null))
          .otherwise(col("__srw").cast("double") /
            col("__sw").cast("double")).as("snips"))

  /** Per-key OLS trend slope — "which entities are growing": for every
    * key, the least-squares slope of x against whole-day time, from
    * ONE grouped aggregation of exact integer moments (t = epoch days
    * and x integral ⇒ every sum is DECIMAL(38,0)-exact) and ONE
    * division per key. The global [[ols2]]/theilSen fit one model;
    * this fits millions of tiny ones — the shape is a plain groupBy,
    * corpus-parallel with map-side partials, no windows at all.
    * Keys with n < 2 or a degenerate time spread give NULL. */
  def trendByKey(df: DataFrame, keyCol: String, tsCol: String,
                 x: Column): DataFrame = {
    val t = call_function("div", unix_micros(col(tsCol)),
      lit(86400000000L))
    val cells = df.select(col(keyCol), t.as("__t"),
        x.cast("long").as("__x"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        sum(col("__t").cast(dec38)).as("st"),
        sum(col("__x").cast(dec38)).as("sx"),
        sum((col("__t") * col("__t")).cast(dec38)).as("stt"),
        sum((col("__t") * col("__x")).cast(dec38)).as("stx"))
    val den = col("n").cast(dec38) * col("stt") - col("st") * col("st")
    cells.select(col(keyCol), col("n").cast("long").as("n"),
      when(col("n") < 2 || den === lit(0).cast(dec38), lit(null))
        .otherwise(
          (col("n").cast(dec38) * col("stx") - col("st") * col("sx"))
            .cast("double") / den.cast("double")).as("slope"))
  }

  /** Half-life-BUCKETED exponentially decayed sum — recency-weighted
    * popularity/volume per group ("what's hot now") with an EXACT
    * arithmetic path: age buckets k = ⌊age_days / halfLifeDays⌋ give
    * dyadic weights 2⁻ᵏ, so the weighted sum is computed as the exact
    * integer Σ x·2^(K−k) in DECIMAL(38,0) and descaled by the single
    * exact power-of-two division /2^K at the end — no float
    * accumulation anywhere, hence order-free and hash-replayable.
    * (Smooth per-second decay needs pow(), which is NOT correctly
    * rounded cross-engine; the bucketed form is what a feed-ranking
    * pipeline ships anyway.) Ages ≥ K halfLives floor to weight 2⁻ᴷ ≈
    * 1e-12 — effectively retired. ONE grouped agg + a broadcast 1-row
    * corpus-end scalar. */
  def decayedSum(df: DataFrame, groupCol: String, tsCol: String,
                 x: Column, halfLifeDays: Long): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1")
    val K = 40
    val endUs = df.agg(max(unix_micros(col(tsCol))).as("__end"))
    val ageDays = call_function("div",
      col("__end") - unix_micros(col(tsCol)), lit(86400000000L))
    val bucket = least(call_function("div", ageDays, lit(halfLifeDays)),
      lit(K.toLong))
    df.crossJoin(broadcast(endUs))
      .select(col(groupCol), x.cast("long").as("__x"),
        bucket.as("__k"))
      // 2^(K−k) as an exact integer bit-shift (k ≤ K = 40 fits a long);
      // pow() would work numerically but shiftleft is exact BY TYPE
      .withColumn("__w", expr(s"shiftleft(cast(1 as bigint), " +
        s"cast(${K}L - __k as int))"))
      .groupBy(groupCol)
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__x").cast(dec38) * col("__w").cast(dec38)).as("__s"))
      .select(col(groupCol), col("n"),
        (col("__s").cast("double") / lit(math.pow(2.0, K)))
          .as("decayed_sum"))
  }

  /** Per-group MODE (most frequent value) with deterministic lowest-
    * value tie-break — the categorical imputation / dominant-label
    * readout. One grouped count on the (group, value) keyspace + one
    * ranking window over THAT summary (value-cardinality sized). */
  def modeByGroup(df: DataFrame, groupCol: String, x: Column)
      : DataFrame = {
    val counts = df.select(col(groupCol).as("__g"),
        x.cast("string").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy("__g", "__x").agg(count(lit(1)).as("__c"))
    counts.withColumn("__rk", row_number().over(
        Window.partitionBy("__g")
          .orderBy(col("__c").desc, col("__x"))))
      .filter(col("__rk") === 1)
      .select(col("__g").as(groupCol), col("__x").as("mode"),
        col("__c").cast("long").as("mode_count"))
  }

  /** Discrete power-law tail fit — the MLE exponent α = 1 + n / Σ
    * ln(xᵢ/xmin) over the tail x ≥ xmin (Clauset-Shalizi-Newman's
    * continuous approximation; fine for tail diagnosis, which is the
    * use here: is the degree/frequency distribution heavy-tailed
    * enough to need skew handling). The log-sum collapses to the
    * DISTINCT-value table (Σ c_v · lnq(v/xmin), value-ordered in-row
    * fold, [[Exact.lnq]] discipline) — value-cardinality state, one
    * division for α. */
  def powerLawFit(df: DataFrame, x: Column, xmin: Long): DataFrame = {
    require(xmin >= 1, s"xmin must be >= 1, got $xmin")
    val vals = df.select(x.cast("long").as("__x"))
      .filter(col("__x") >= xmin)
      .groupBy("__x").agg(count(lit(1)).as("__c"))
    vals.agg(sum("__c").cast("long").as("n"),
        aggregate(
          array_sort(collect_list(struct(col("__x"),
            (col("__c").cast("double") *
              Exact.lnq(col("__x").cast("double") / lit(xmin.toDouble)))
              .as("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("__ls"))
      .select(col("n"), lit(xmin).as("xmin"),
        when(col("__ls") <= 0, lit(null))
          .otherwise(lit(1.0) + col("n").cast("double") / col("__ls"))
          .as("alpha"))
  }

  /** Neyman optimal allocation — how to SPLIT a sampling budget across
    * strata when profiling a 100 TB corpus: n_h ∝ N_h·S_h (big AND
    * noisy strata deserve more samples; uniform and proportional
    * allocation both waste budget on homogeneous strata). One grouped
    * aggregation of exact integer moments per stratum; S_h is ONE sqrt
    * of a fixed expression over DECIMAL(38,0)-exact sums; the Σ N_h·S_h
    * denominator folds in stratum order (in-row ordered fold over the
    * stratum table). Emits the FRACTIONAL allocation — integerization
    * (largest-remainder etc.) is the caller's policy. Single-row
    * strata carry S_h = 0 (no variance evidence) and draw no budget
    * beyond the fold's zero term. */
  def neymanAllocation(df: DataFrame, stratumCol: String, x: Column,
                       budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val cells = df.select(col(stratumCol).as("__s"),
        x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy("__s")
      .agg(count(lit(1)).as("nh"), sum(col("__x").cast(dec38)).as("sx"),
        sum((col("__x") * col("__x")).cast(dec38)).as("sxx"))
    val sh = when(col("nh") <= 1, lit(0.0)).otherwise(
      sqrt((col("nh").cast(dec38) * col("sxx") -
        col("sx") * col("sx")).cast("double") /
        (col("nh").cast(dec38) *
          (col("nh") - 1).cast(dec38)).cast("double")))
    val scored = cells.withColumn("sd", sh)
      .withColumn("__w", col("nh").cast("double") * col("sd"))
    val tot = scored.agg(
      aggregate(array_sort(collect_list(struct(col("__s"),
          col("__w").as("w")))),
        lit(0.0), (acc, e) => acc + e.getField("w")).as("__tw"))
    scored.crossJoin(broadcast(tot))
      .select(col("__s").as(stratumCol), col("nh").cast("long").as("n"),
        col("sd"),
        when(col("__tw") <= 0, lit(null))
          .otherwise(lit(budget.toDouble) * col("__w") / col("__tw"))
          .as("allocation"))
  }

  /** Effective sample size of a weighted dataset — Kish's
    * ESS = (Σw)²/Σw², the honest "how many samples do I really have"
    * readout for importance-weighted corpora (DSIR weights), skewed
    * per-user activity, or any reweighted mixture: 1 ≤ ESS ≤ n, equal
    * to n only under uniform weights. `w` must be an INTEGRAL weight
    * (quantize real-valued weights to a fixed-point grid first): the
    * two sums are then DECIMAL(38,0)-exact, the square is exact, and
    * the statistic is ONE division — hash-replayable without any fold.
    * ONE aggregation, any scale. */
  def effectiveSampleSize(df: DataFrame, w: Column): DataFrame =
    df.select(w.cast("long").as("__w"))
      .filter(col("__w").isNotNull && col("__w") > 0)
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__w").cast(dec38)).as("__sw"),
        sum((col("__w") * col("__w")).cast(dec38)).as("__sww"))
      .select(col("n"), col("__sw").cast("double").as("sum_w"),
        col("__sww").cast("double").as("sum_w2"),
        ((col("__sw") * col("__sw")).cast("double") /
          col("__sww").cast("double")).as("ess"))

  /** Optimal binary split of one integral feature against a boolean
    * label — the decision STUMP, the unit of feature screening and
    * tree induction: over every distinct threshold t (split x ≤ t),
    * information gain = H(parent) − (n_L/n)·H(left) − (n_R/n)·H(right),
    * maximized with lowest-t tie-break. The scan collapses to the
    * DISTINCT-VALUE table first (prefix counts by value order — exact
    * integer windowed sums), entropies go through [[Exact.lnq]]
    * (cross-engine 1-ulp discipline), and the argmax is a ranking
    * window over value-cardinality rows — corpus-size independent
    * state. Returns the winning row: (threshold, gain, n_left,
    * pos_left, n_right, pos_right). */
  def bestSplit(df: DataFrame, x: Column, label: Column): DataFrame = {
    val d = df.select(x.cast("long").as("__x"),
        when(label, 1L).otherwise(0L).as("__y"))
      .filter(col("__x").isNotNull)
      .groupBy("__x").agg(count(lit(1)).as("c"), sum("__y").as("p"))
    val wOrd = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    def h(pos: Column, n: Column): Column = {
      val q = pos.cast("double") / n
      val r = (n - pos).cast("double") / n
      (when(pos > 0, -q * Exact.lnq(q)).otherwise(lit(0.0))) +
        (when(n - pos > 0, -r * Exact.lnq(r)).otherwise(lit(0.0)))
    }
    val cum = d
      .withColumn("nl", sum("c").over(wOrd))
      .withColumn("pl", sum("p").over(wOrd))
      .withColumn("n", sum("c").over(wAll))
      .withColumn("np", sum("p").over(wAll))
      .filter(col("nl") < col("n")) // x ≤ max is no split
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("np") - col("pl"))
      .withColumn("gain",
        h(col("np"), col("n")) -
          (col("nl").cast("double") / col("n")) * h(col("pl"), col("nl")) -
          (col("nr").cast("double") / col("n")) * h(col("pr"), col("nr")))
    cum.withColumn("__rk", row_number().over(
        Window.orderBy(col("gain").desc, col("__x"))))
      .filter(col("__rk") === 1)
      .select(col("__x").as("threshold"), col("gain"),
        col("nl").cast("long").as("n_left"),
        col("pl").cast("long").as("pos_left"),
        col("nr").cast("long").as("n_right"),
        col("pr").cast("long").as("pos_right"))
  }

  /** One-sided ONLINE CUSUM (Page 1954) — the streaming-capable change
    * alarm beside the retrospective [[cusum]] change-POINT locator:
    * s_t = max(0, s_{t−1} + (x_t − target − slack)), alarm when
    * s_t ≥ threshold. The recursion has the closed prefix form
    * s_t = c_t − min(0, min_{j≤t} c_j) with c the running sum of the
    * drifts, so the batch operator is TWO integer window passes per
    * key — no fold, no recursion, trivially hash-replayable (integer
    * windowed sums are order-free) — and the streaming twin
    * ([[graft.streaming.Streams.runCusumOnline]]) carries just
    * (c, min c): O(1) state per key, the property that makes CUSUM the
    * right live-pipeline drift alarm. Emits every row INSIDE an
    * alarmed excursion (no auto-reset — the monitoring variant; reset
    * policy is the pager's decision, not the statistic's). `x`,
    * `target`, `slack`, `threshold` share one fixed-point scale. */
  def cusumOnline(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, x: Column, target: Long, slack: Long,
      threshold: Long): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__x", x.cast("long"))
      .withColumn("__c", sum(col("__x") - lit(target) - lit(slack)).over(w))
      .withColumn("__s",
        col("__c") - least(lit(0L), min(col("__c")).over(w)))
      .filter(col("__s") >= threshold)
      .select(col(keyCol), col(tsCol), col(idCol), col("__x").as("x"),
        col("__s").cast("long").as("cusum_stat"))
  }

  /** Per-group trimmed mean — the robust location estimate between the
    * mean (breaks on one outlier) and the median (discards 99% of the
    * data): drop the ⌊α·n⌋ smallest AND largest values, average the
    * rest. The complement to winsorizing (q162 clamps; this excises).
    * Runs entirely on the DISTINCT-VALUE table (the doubledRanks
    * discipline): one grouped count collapses rows to (g, x, c) — a
    * map-side-combined shuffle, value-cardinality sized — then the
    * per-group prefix counts over that SMALL table place each value
    * run at ranks (prefix, prefix+c]; intersecting the run with the
    * kept band (cut, n−cut] gives the kept multiplicity per value, and
    * the trimmed sum is Σ value·kept — exact integers throughout (pass
    * an integral x — fixed-point first), ONE final division, so the
    * double hash-replays. No row-scale sort window anywhere: a
    * low-cardinality group key (q243 groups by returnflag — 3 groups
    * at any SF) would otherwise funnel the WHOLE table through 3
    * window partitions. A dup run straddling the cut is trimmed
    * partially — identical semantics to rank-trimming with value-only
    * tie-break, because the dropped VALUES are identical. */
  def trimmedMean(df: DataFrame, groupCol: String, x: Column,
                  alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha < 0.5, s"alpha in [0,0.5), got $alpha")
    val d = df.select(col(groupCol).as("g"), x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val dv = d.groupBy("g", "__x").agg(count(lit(1)).as("__c"))
    val wp = Window.partitionBy("g").orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = dv
      .withColumn("__upto", sum("__c").over(wp)) // rows with value <= x
      .withColumn("__n", sum("__c").over(Window.partitionBy("g")))
    val cut = floor(col("__n") * alpha).cast("long")
    val kept = least(col("__upto"), col("__n") - cut) -
      greatest(col("__upto") - col("__c"), cut)
    pref.withColumn("__kept", greatest(kept, lit(0L)))
      .filter(col("__kept") > 0)
      .groupBy("g")
      .agg(sum("__kept").cast("long").as("n_kept"),
        max(col("__n")).cast("long").as("n"),
        (sum(col("__x").cast(dec38) * col("__kept")).cast("double") /
          sum("__kept")).as("trimmed_mean"))
      .withColumnRenamed("g", groupCol)
  }

  /** RFM segmentation — the classic customer/entity triage: per key,
    * Recency (days since last activity vs the corpus end), Frequency
    * (activity count) and Monetary (integral value sum), each scored
    * into `buckets` quantile tiers by NTILE with the key as tiebreak
    * (ties are arbitrary but DETERMINISTIC — the property a replayable
    * segmentation needs), best tier = `buckets`. Recency ntile is
    * DESCENDING (most recent → top tier). One grouped agg + three
    * global NTILE windows over the ENTITY table (key-cardinality
    * sized, not event-sized — at 100 TB the windows rank customers,
    * not rows; segment per region first if even that is too wide). */
  def rfmSegments(df: DataFrame, keyCol: String, tsCol: String,
                  value: Column, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val per = df.groupBy(col(keyCol))
      .agg(max(unix_micros(col(tsCol))).as("__last"),
        count(lit(1)).cast("long").as("frequency"),
        sum(value.cast("long")).cast("long").as("monetary"))
    val endUs = df.agg(max(unix_micros(col(tsCol))).as("__end"))
    val base = per.crossJoin(broadcast(endUs))
      .select(col(keyCol),
        call_function("div", col("__end") - col("__last"),
          lit(86400000000L)).as("recency_days"),
        col("frequency"), col("monetary"))
    def tile(c: Column, asc: Boolean) = ntile(buckets).over(
      Window.orderBy((if (asc) c.asc else c.desc), col(keyCol)))
    base
      .withColumn("r_score", tile(col("recency_days"), asc = false))
      .withColumn("f_score", tile(col("frequency"), asc = true))
      .withColumn("m_score", tile(col("monetary"), asc = true))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
  }

  /** Shannon entropy of a categorical column per group — the standard
    * data-mix diversity readout (language entropy per source, event-mix
    * entropy per cohort): H = −Σ p·ln p over the group's category
    * shares, in nats. Complements the TWO-distribution family
    * ([[Drift.jsDivergence]]/psiCategorical) with the one-distribution
    * diagnostic.
    *
    * Scale shape: ONE grouped count on (group, category) — state is
    * the category keyspace per group, corpus-size independent — then a
    * per-group in-row ordered fold. Determinism (the jsDivergence
    * discipline): integral counts, each share divided ONCE, ln through
    * [[Exact.lnq]] (raw libm ln is 1-ulp engine-divergent), terms
    * folded in SORTED category order inside one row — never a windowed
    * double SUM (DuckDB's segment tree reassociates). The collect_list
    * buffer is bounded by the group's category cardinality — the
    * categorical-column contract, same as psiCategorical's keyspace
    * argument. */
  def entropyByKey(df: DataFrame, keyCol: String,
                   catCol: String): DataFrame = {
    val counts = df
      .select(col(keyCol).as("key"), col(catCol).cast("string").as("category"))
      .groupBy("key", "category").agg(count(lit(1)).as("cnt"))
    val wk = Window.partitionBy("key")
    val p = col("cnt") / sum("cnt").over(wk)
    counts
      .select(col("key"), col("category"), col("cnt"),
        (p * Exact.lnq(p)).as("__t"))
      .groupBy("key")
      .agg(sum("cnt").cast("long").as("n"),
        count(lit(1)).cast("long").as("n_categories"),
        // 0.0 − x, not −x: a single-category group folds to exactly
        // 0.0 and unary negation would emit −0.0, which engines hash
        // and print differently; 0.0 − 0.0 is +0.0 on every engine
        (lit(0.0) - aggregate(
          array_sort(collect_list(struct(col("category"), col("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t"))).as("entropy"))
      .withColumnRenamed("key", keyCol)
  }

  /** Weighted median per group under the INTEGER-weight contract
    * (token counts, byte sizes, repetition counts): the smallest value
    * v whose cumulative weight reaches half the total — formally
    * min{v : 2·Σ_{x≤v} w(x) ≥ W}, the lower weighted median. With
    * integral weights every comparison is exact integer arithmetic, so
    * the result is engine-reproducible with no epsilon anywhere — the
    * reason this is the contract (fractional weights can be pre-scaled
    * onto an integer grid, the FLOOR(x·1000) playbook).
    *
    * Scale shape: pre-aggregate to (group, value) weight sums (the
    * map-side combine), ONE ascending cumulative window per group over
    * the distinct-value table (integer SUM — associative, no
    * reassociation hazard), rank-filter to the crossing row. State is
    * distinct values per group, not rows. */
  def weightedMedianByKey(df: DataFrame, keyCol: String, value: Column,
                          weight: Column): DataFrame = {
    val per = df
      .select(col(keyCol).as("key"), value.cast("long").as("v"),
        weight.cast("long").as("w"))
      .groupBy("key", "v").agg(sum("w").as("wv"))
    val wk = Window.partitionBy("key")
    val cum = Window.partitionBy("key").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("__total", sum("wv").over(wk))
      .withColumn("__cum", sum("wv").over(cum))
      .filter(col("__cum") * 2 >= col("__total"))
      .groupBy("key")
      .agg(min("v").as("weighted_median"),
        max("__total").cast("long").as("total_weight"))
      .withColumnRenamed("key", keyCol)
  }

  /** Cochran's Q test — the k-treatment extension of [[mcnemar]] and
    * the BINARY twin of [[friedman]]: did success rates differ across
    * k related binary treatments measured on the same blocks. The
    * supplied `treatments` literal defines the (bounded, broadcast)
    * treatment set; a block's outcome for treatment j is
    * max(success) over its (block, j) rows, absent pairs count as
    * failure — so every block is complete by construction (the dense
    * completion rides a broadcast cross join, never a shuffle).
    *
    * Integer identity (all denominators cleared):
    *
    *   Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_b²)
    *
    * with C_j the treatment success totals, R_b the block success
    * counts, T = ΣR_b — every term an exact DECIMAL(38) integer, Q one
    * division, df = k−1. NULL Q when the denominator is 0 (every block
    * all-success or all-failure — no within-block variation). */
  def cochranQ(df: DataFrame, blockCol: String, treatmentCol: String,
               success: Column, treatments: Seq[String]): DataFrame = {
    require(treatments.distinct.size == treatments.size &&
      treatments.nonEmpty, "cochranQ: treatments must be distinct, non-empty")
    val k = treatments.size
    val spark = df.sparkSession
    val tDf = spark.createDataFrame(treatments.map(Tuple1(_))).toDF("__t")
    val obs = df
      .select(col(blockCol).as("__b"), col(treatmentCol).as("__t"),
        when(success, 1L).otherwise(0L).as("__s"))
      .filter(col("__t").isin(treatments.map(lit): _*))
      .groupBy("__b", "__t").agg(max("__s").as("__s"))
      // blocks·k-bounded cell table consumed by the block list, the
      // dense completion, and both readouts — ONE scan of the input
      .transform(Cut.summary)
    val dense = obs.select(col("__b")).distinct()
      .crossJoin(broadcast(tDf))
      .join(obs, Seq("__b", "__t"), "left")
      .na.fill(0L, Seq("__s"))
    val byBlock = dense.groupBy("__b")
      .agg(sum("__s").as("__r"))
    val tAndR2 = byBlock.agg(
      count(lit(1)).cast("long").as("n_blocks"),
      sum("__r").cast(dec38).as("__T"),
      sum((col("__r") * col("__r")).cast(dec38)).as("__R2"))
    val c2 = dense.groupBy("__t").agg(sum("__s").as("__c"))
      .agg(sum((col("__c") * col("__c")).cast(dec38)).as("__C2"))
    val kL = lit(k).cast(dec38)
    tAndR2.crossJoin(broadcast(c2))
      .select(col("n_blocks"), lit(k).as("k"),
        col("__T").cast("long").as("total_successes"),
        when(kL * col("__T") - col("__R2") === lit(0).cast(dec38),
          lit(null)).otherwise(
          ((kL - 1) * (kL * col("__C2") - col("__T") * col("__T")))
            .cast("double") /
            (kL * col("__T") - col("__R2")).cast("double")).as("q"))
  }

  /** Jonckheere–Terpstra trend test — [[kruskalWallis]] with an ORDERED
    * alternative (does the metric RISE across priority tiers / dose
    * levels, not merely differ): J = Σ_{i<j} U_ij over group pairs in
    * ascending natural order of the group key, U the Mann–Whitney
    * count with ties at ½.
    *
    * Scale shape: ONE (group, value) cell aggregation, then
    *   2J = Σ_cells c_{g,v} · (2·A_{g,v} + B_{g,v})
    * where B = rows in EARLIER groups tied at v (a ≤k-row window
    * partitioned BY VALUE ordered by group) and A = rows in earlier
    * groups with SMALLER value — the per-group distinct-value
    * cumulative, which runs through [[groupedPrefixSum]]'s two-level
    * DISTRIBUTED prefix (VERDICT r14 item 5): with unquantized
    * continuous x, one group's distinct values approach row scale,
    * and a plain per-group ordered window would funnel them through
    * ONE task. E[J] and the Hollander–
    * Wolfe tie-corrected variance fold from exact integer group/tie
    * tallies; 4J − 4E[J] is an exact DECIMAL(38) integer and z is one
    * division over one sqrt of a three-term sum whose terms each
    * divide once (fixed fold order — engine-identical). NULL z when
    * k < 2 or the variance is non-positive.
    *
    * INTEGRAL-INPUT CONTRACT (the integral-moment convention of this
    * file): `x` is cast to long, so a fractional metric is TRUNCATED
    * — which can silently reorder ranks. Pre-quantize fractional
    * metrics explicitly (e.g. `floor(col*100).cast("long")`, as q300
    * does) so the rank grain is a deliberate choice. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String, x: Column)
      : DataFrame = {
    val cells = df.select(col(groupCol).as("__g"), x.cast("long").as("__x"))
      .filter(col("__x").isNotNull && col("__g").isNotNull)
      .groupBy("__g", "__x").agg(count(lit(1)).as("__c"))
      .transform(Cut.summary)
    // DENSE (group × value) grid: the per-group cumulative must also
    // pass values the group itself never saw (an earlier group's rows
    // at such a value still count toward A). Group cardinality is
    // broadcast-bounded — ordered factors (dose tiers, priorities) are
    // few by nature; |V| stays the cell-table bound.
    val grid = cells.select("__x").distinct()
      .crossJoin(broadcast(cells.select("__g").distinct()))
      .join(cells, Seq("__g", "__x"), "left")
      .na.fill(0L, Seq("__c"))
    // rows in earlier groups tied at this value: ≤k rows per partition
    val wTie = Window.partitionBy("__x").orderBy("__g")
      .rowsBetween(Window.unboundedPreceding, -1)
    // rows in earlier groups with smaller value: the EXCLUSIVE
    // per-group ascending cumulative of the tie-prefix — distributed
    // two-level, never one window task per group (groupedPrefixSum)
    val j2 = groupedPrefixSum(
        grid.withColumn("__bt", coalesce(sum("__c").over(wTie), lit(0L))),
        "__g", "__x", "__bt", "__a")
      .agg(coalesce(sum((col("__c").cast(dec38) *
        (lit(2).cast(dec38) * col("__a") + col("__bt")))),
        lit(0).cast(dec38)).as("__j2"))
    // group tallies n_g and tie tallies t_v from the same cell table
    val gTal = cells.groupBy("__g").agg(sum("__c").as("__n"))
      .agg(count(lit(1)).cast("long").as("k"),
        coalesce(sum(col("__n").cast(dec38)), lit(0).cast(dec38)).as("N"),
        coalesce(sum((col("__n") * col("__n")).cast(dec38)),
          lit(0).cast(dec38)).as("n2"),
        coalesce(sum((col("__n") * (col("__n") - 1) *
          (lit(2) * col("__n") + 5)).cast(dec38)), lit(0).cast(dec38)).as("g25"),
        coalesce(sum((col("__n") * (col("__n") - 1) *
          (col("__n") - 2)).cast(dec38)), lit(0).cast(dec38)).as("g3"),
        coalesce(sum((col("__n") * (col("__n") - 1)).cast(dec38)),
          lit(0).cast(dec38)).as("g2"))
    val tTal = cells.groupBy("__x").agg(sum("__c").as("__t"))
      .agg(coalesce(sum((col("__t") * (col("__t") - 1) *
          (lit(2) * col("__t") + 5)).cast(dec38)), lit(0).cast(dec38)).as("t25"),
        coalesce(sum((col("__t") * (col("__t") - 1) *
          (col("__t") - 2)).cast(dec38)), lit(0).cast(dec38)).as("t3"),
        coalesce(sum((col("__t") * (col("__t") - 1)).cast(dec38)),
          lit(0).cast(dec38)).as("t2"))
    val m = j2.crossJoin(broadcast(gTal)).crossJoin(broadcast(tTal))
    val nD = col("N")
    // Hollander–Wolfe tie-corrected variance: three exact-ratio terms,
    // each ONE division, summed in fixed written order
    val v1 = (nD * (nD - 1) * (lit(2).cast(dec38) * nD + 5) - col("g25") - col("t25"))
      .cast("double") / 72.0
    val v2 = (col("g3") * col("t3")).cast("double") /
      (lit(36.0) * (nD * (nD - 1) * (nD - 2)).cast("double"))
    val v3 = (col("g2") * col("t2")).cast("double") /
      (lit(8.0) * (nD * (nD - 1)).cast("double"))
    val varJ = v1 + v2 + v3
    // 4J − 4E[J] = 2·(2J) − (N² − Σn_g²): exact integer numerator
    val num4 = lit(2).cast(dec38) * col("__j2") -
      (nD * nD - col("n2"))
    m.select(col("N").cast("long").as("n"), col("k"),
      (col("__j2").cast("double") / 2.0).as("j_stat"),
      ((nD * nD - col("n2")).cast("double") / 4.0).as("e_j"),
      when(col("k") < 2 || nD < 3 || varJ <= 0.0, lit(null)).otherwise(
        num4.cast("double") / (lit(4.0) * sqrt(varJ))).as("z"))
  }

  /** Page's L trend test — [[friedman]] with an ORDERED alternative
    * (does the metric RISE across the supplied treatment order within
    * blocks — the repeated-measures twin of [[jonckheereTerpstra]]):
    * L = Σ_j j·R_j with R_j treatment j's within-block rank sum and j
    * its position in `order`. Complete blocks only (the friedman
    * contract); within-block DOUBLED average ranks keep every R_j
    * integral under ties, so 2L and its null mean 2E[L] =
    * b·k(k+1)²/2 are exact DECIMAL(38) integers and
    * z = (2L − 2E)/(2σ) is one division over one sqrt of the exact
    * rational σ² = b·k²(k+1)²(k−1)/144 (the classical no-tie
    * variance of L = Σ j·R_j — check k=2: Var = 4·9·1/144 = 0.25,
    * the variance of 1·r₁+2·r₂ over the two permutations of (1,2);
    * with heavy ties it is conservative, the standard practice).
    * NULL z for k < 3 or no complete blocks.
    *
    * INTEGRAL-INPUT CONTRACT: the per-cell sum casts `x` to long, so
    * a fractional metric is TRUNCATED before the within-block mean —
    * pre-quantize explicitly (`floor(col*100).cast("long")`, as q306
    * does) so the rank grain is a deliberate choice. */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
                x: Column, order: Seq[String]): DataFrame = {
    require(order.distinct.size == order.size && order.size >= 3,
      "pageTrend: order must be >= 3 distinct treatments")
    val k = order.size
    val pos = typedLit(order)
    val cell = df
      .filter(col(treatCol).isin(order.map(lit): _*))
      .groupBy(col(blockCol).as("__b"), col(treatCol).as("__t"))
      .agg(sum(x.cast("long")).as("__s"), count(lit(1)).as("__c"))
      .withColumn("__m", col("__s").cast("double") / col("__c"))
      .transform(Cut.summary)
    val wb = Window.partitionBy(col("__b"))
    val kept = cell
      .withColumn("__kb", count(lit(1)).over(wb))
      .filter(col("__kb") === k)
    // doubled within-block average ranks off the per-mean counts —
    // ≤ k distinct means per block (the friedman machinery)
    val byV = kept.groupBy(col("__b"), col("__m"))
      .agg(count(lit(1)).as("__cv"))
    val wOrd = Window.partitionBy(col("__b")).orderBy(col("__m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byV
      .withColumn("__below", coalesce(sum("__cv").over(wOrd), lit(0L)))
      .select(col("__b"), col("__m"),
        (lit(2L) * col("__below") + col("__cv") + 1).as("__dr"))
    val cellR = kept.join(ranked, Seq("__b", "__m"))
      .withColumn("__j", array_position(pos, col("__t")))
    val m = cellR.agg(
      countDistinct(col("__b")).cast(dec38).as("b"),
      // 2L = Σ j·dr: exact integers, order-free
      coalesce(sum((col("__j") * col("__dr")).cast(dec38)),
        lit(0).cast(dec38)).as("l2"))
    val kD = lit(k).cast(dec38)
    val e2 = col("b") * kD * (kD + 1) * (kD + 1) / 2
    val varL = (col("b") * kD * kD * (kD + 1) * (kD + 1) *
      (kD - 1)).cast("double") / 144.0
    m.select(col("b").cast("long").as("n_blocks"), lit(k).as("k"),
      (col("l2").cast("double") / 2.0).as("l_stat"),
      when(col("b") < 1, lit(null)).otherwise(
        (col("l2") - e2).cast("double") /
          (lit(2.0) * sqrt(varL))).as("z"))
  }

  /** Kendall's W coefficient of concordance — b raters each rate the
    * same k objects; W ∈ [0, 1] measures RANK agreement (1 = every
    * rater orders the objects identically), the multi-rater ranking
    * twin of [[graft.ops.Quality.fleissKappa]]'s categorical agreement
    * and the effect size of [[friedman]] (χ²_F = b(k−1)·W). Complete
    * panels only (raters holding all k objects — the friedman
    * contract); k derives from the data (global distinct objects).
    *
    * Exactness: with doubled within-rater average ranks dr = 2r̄
    * (integral under ties — the [[pageTrend]] machinery), R2_j = Σ_i
    * dr and S2 = Σ_j (R2_j − b(k+1))² = 4S are exact DECIMAL(38)
    * integers, so the tie-corrected
    *   W = 12S / (b²k(k²−1) − b·ΣT_i) = 3·S2 / (b²k(k²−1) − b·ΣT_i),
    * T_i = Σ(t³−t) over rater i's within-rater tie groups, is ONE
    * division of exact integers. NULL when the denominator ≤ 0 (k < 2,
    * no complete rater, or every rater all-ties). Scale: one
    * (rater, object) cell agg, ≤k-row windows per rater, one
    * k-cardinality object agg.
    *
    * INTEGRAL-INPUT CONTRACT: the per-cell sum casts `x` to long —
    * pre-quantize fractional metrics (the [[pageTrend]] note). */
  def kendallW(df: DataFrame, raterCol: String, objectCol: String,
               x: Column): DataFrame = {
    val cell = df
      .groupBy(col(raterCol).as("__b"), col(objectCol).as("__t"))
      .agg(sum(x.cast("long")).as("__s"), count(lit(1)).as("__c"))
      .withColumn("__m", col("__s").cast("double") / col("__c"))
      .transform(Cut.summary)
    val kf = cell.agg(countDistinct(col("__t")).as("__k"))
    val wb = Window.partitionBy(col("__b"))
    val kept = cell
      .withColumn("__kb", count(lit(1)).over(wb))
      .crossJoin(broadcast(kf))
      .filter(col("__kb") === col("__k"))
      .transform(Cut.summary) // feeds ranks, rater count, join-back
    val byV = kept.groupBy(col("__b"), col("__m"))
      .agg(count(lit(1)).as("__cv"))
    val wOrd = Window.partitionBy(col("__b")).orderBy(col("__m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byV
      .withColumn("__below", coalesce(sum("__cv").over(wOrd), lit(0L)))
      .select(col("__b"), col("__m"),
        (lit(2L) * col("__below") + col("__cv") + 1).as("__dr"),
        col("__cv"))
      .transform(Cut.summary) // feeds the tie fold and the join-back
    // per-rater tie correction off the same per-mean counts
    val ties = ranked.agg(coalesce(sum((col("__cv") * col("__cv") *
        col("__cv") - col("__cv")).cast(dec38)),
      lit(0).cast(dec38)).as("__tt"))
    val bf = kept.agg(countDistinct(col("__b")).cast(dec38).as("__bn"))
    val r2 = kept.join(ranked.drop("__cv"), Seq("__b", "__m"))
      .groupBy(col("__t")).agg(sum("__dr").cast(dec38).as("__r2"))
    val s2 = r2.crossJoin(broadcast(bf)).crossJoin(broadcast(kf))
      .select(((col("__r2") - col("__bn") * (col("__k").cast(dec38) + 1)) *
        (col("__r2") - col("__bn") * (col("__k").cast(dec38) + 1)))
        .as("__d2"))
      .agg(coalesce(sum("__d2"), lit(0).cast(dec38)).as("__s2"))
    val m = s2.crossJoin(broadcast(bf)).crossJoin(broadcast(kf))
      .crossJoin(broadcast(ties))
    val kD = col("__k").cast(dec38)
    val den = col("__bn") * col("__bn") * kD * (kD * kD - 1) -
      col("__bn") * col("__tt")
    m.select(col("__bn").cast("long").as("n_raters"),
      col("__k").cast("int").as("k"),
      when(den <= 0, lit(null)).otherwise(
        (lit(3).cast(dec38) * col("__s2")).cast("double") /
          den.cast("double")).as("w"))
  }

                  /** Goodman–Kruskal γ and Somers' D — the directional companions of
    * [[kendallTauB]] off the SAME quantized cell machinery (the
    * grid-bounded ordinal contract): γ = (C−D)/(C+D) ignores all ties;
    * d_y·x = 2(C−D)/(n(n−1) − Σn_x(n_x−1)) penalizes ties on the
    * DEPENDENT axis only (and d_x·y mirrors it) — the asymmetric pair
    * a predictor-vs-outcome reading wants. All pair counts exact
    * DECIMAL(38); each statistic divides ONCE. NULLs on empty
    * denominators. */
  def gammaSomersD(df: DataFrame, x: Column, y: Column): DataFrame = {
    val cells = df.select(x.cast("long").as("__x"),
        y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy("__x", "__y").agg(count(lit(1)).as("c"))
      .transform(Cut.summary)
    val a = cells.select(col("__x").as("xi"), col("__y").as("yi"),
      col("c").as("ci"))
    val b = cells.select(col("__x").as("xk"), col("__y").as("yk"),
      col("c").as("ck"))
    val pairSums = a.crossJoin(b)
      .agg(
        sum(when(col("xi") < col("xk") && col("yi") < col("yk"),
          (col("ci") * col("ck")).cast(dec38))
          .otherwise(lit(0).cast(dec38))).as("cc"),
        sum(when(col("xi") < col("xk") && col("yi") > col("yk"),
          (col("ci") * col("ck")).cast(dec38))
          .otherwise(lit(0).cast(dec38))).as("dd"))
    val marg = cells.agg(sum(col("c").cast(dec38)).as("n"))
    val tx = cells.groupBy("__x").agg(sum("c").as("nx"))
      .agg(sum((col("nx") * (col("nx") - 1)).cast(dec38)).as("n1x"))
    val ty = cells.groupBy("__y").agg(sum("c").as("ny"))
      .agg(sum((col("ny") * (col("ny") - 1)).cast(dec38)).as("n1y"))
    pairSums.crossJoin(broadcast(marg)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n").cast("long").as("n"),
        col("cc").cast("long").as("concordant"),
        col("dd").cast("long").as("discordant"),
        when(col("cc") + col("dd") === lit(0).cast(dec38), lit(null))
          .otherwise((col("cc") - col("dd")).cast("double") /
            (col("cc") + col("dd")).cast("double")).as("gamma"),
        when(col("n") * (col("n") - 1) - col("n1x") ===
            lit(0).cast(dec38), lit(null)).otherwise(
          (lit(2).cast(dec38) * (col("cc") - col("dd")))
            .cast("double") /
            (col("n") * (col("n") - 1) - col("n1x")).cast("double"))
          .as("d_yx"),
        when(col("n") * (col("n") - 1) - col("n1y") ===
            lit(0).cast(dec38), lit(null)).otherwise(
          (lit(2).cast(dec38) * (col("cc") - col("dd")))
            .cast("double") /
            (col("n") * (col("n") - 1) - col("n1y")).cast("double"))
          .as("d_xy"))
  }

  /** Winsorized mean — [[trimmedMean]]'s robust sibling that CLAMPS
    * the tails to the cut values instead of dropping them (keeps n
    * constant — the form downstream variance estimates want): the
    * bottom/top ⌊n·α⌋ ranks take the value at rank ⌊n·α⌋+1 resp.
    * n−⌊n·α⌋. Same per-group distinct-value cell machinery (the
    * trimmedMean window contract); the winsorized SUM is an exact
    * DECIMAL(38) integer — middle mass + cut·(low boundary value +
    * high boundary value) — divided ONCE by n. */
  def winsorizedMean(df: DataFrame, groupCol: String, x: Column,
                     alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha < 0.5, s"alpha in [0,0.5), got $alpha")
    val d = df.select(col(groupCol).as("g"), x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val dv = d.groupBy("g", "__x").agg(count(lit(1)).as("__c"))
    val wp = Window.partitionBy("g").orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = dv
      .withColumn("__upto", sum("__c").over(wp))
      .withColumn("__n", sum("__c").over(Window.partitionBy("g")))
    val cut = floor(col("__n") * alpha).cast("long")
    val kept = least(col("__upto"), col("__n") - cut) -
      greatest(col("__upto") - col("__c"), cut)
    pref.withColumn("__kept", greatest(kept, lit(0L)))
      .groupBy("g")
      .agg(max(col("__n")).cast("long").as("n"),
        coalesce(sum(when(col("__kept") > 0,
          col("__x").cast(dec38) * col("__kept"))
          .otherwise(lit(0).cast(dec38))), lit(0).cast(dec38))
          .as("__msum"),
        min(when(col("__upto") >= cut + 1, col("__x"))).as("__lo"),
        min(when(col("__upto") >= col("__n") - cut, col("__x")))
          .as("__hi"))
      .select(col("g").as(groupCol), col("n"),
        ((col("__msum") +
          floor(col("n") * alpha).cast("long").cast(dec38) *
            (col("__lo").cast(dec38) + col("__hi").cast(dec38)))
          .cast("double") / col("n").cast("double"))
          .as("winsorized_mean"))
  }

  /** Jarque–Bera normality test with its ingredients — sample skewness
    * g₁ and kurtosis b₂ (the shape readouts [[profile]]'s min/max/mean
    * can't give) and JB = n·(g₁²/6 + (b₂−3)²/24), the two-sided
    * normality score every parametric downstream assumption rests on.
    *
    * Exactness: the four raw power sums are exact DECIMAL(38) for an
    * integral input, and the scaled central moments
    *   M2 = n·s₂ − s₁²,
    *   M3 = n²·s₃ − 3n·s₁·s₂ + 2s₁³,
    *   M4 = n³·s₄ − 4n²·s₁·s₃ + 6n·s₁²·s₂ − 3s₁⁴
    * are exact integers with g₁ = M3/M2^1.5 and b₂ = M4/M2² (the n
    * powers cancel), so each statistic is one division over exact
    * integers. MAGNITUDE CONTRACT (the fleissKappa overflow analysis;
    * bound corrected r16 per ADVICE r15): the dominant M4 terms are
    * n³·Σx⁴ ≈ n⁴·max|x|⁴ and 3·s₁⁴ ≈ n⁴·max|x|⁴, so n⁴·max|x|⁴ must
    * stay below 10³⁸ — |x| ≤ ~10² is safe at n ≤ 10⁷ (10²⁸·10⁸ =
    * 10³⁶), |x| ≤ 10³ only at n ≤ ~10⁶·⁵; at larger n, scale down
    * further. Exceeding the bound nulls the statistic silently
    * (non-ANSI decimal overflow → NULL), it does not throw. Shape
    * statistics are scale-invariant so the unit choice only sets the
    * rounding grain. NULL when M2 = 0 or n < 2. */
  def jarqueBera(df: DataFrame, x: Column): DataFrame = {
    def s(c: Column) = sum(c.cast(dec38))
    val d = df.select(x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val m = d.agg(count(lit(1)).cast(dec38).as("n"),
      s(col("__x")).as("s1"),
      s(col("__x") * col("__x")).as("s2"),
      s(col("__x") * col("__x") * col("__x")).as("s3"),
      s(col("__x") * col("__x") * col("__x") * col("__x")).as("s4"))
    val n = col("n")
    val m2 = n * col("s2") - col("s1") * col("s1")
    val m3 = n * n * col("s3") -
      lit(3).cast(dec38) * n * col("s1") * col("s2") +
      lit(2).cast(dec38) * col("s1") * col("s1") * col("s1")
    val m4 = n * n * n * col("s4") -
      lit(4).cast(dec38) * n * n * col("s1") * col("s3") +
      lit(6).cast(dec38) * n * col("s1") * col("s1") * col("s2") -
      lit(3).cast(dec38) * col("s1") * col("s1") * col("s1") * col("s1")
    val g1 = m3.cast("double") /
      (sqrt(m2.cast("double")) * m2.cast("double"))
    val b2 = m4.cast("double") / (m2.cast("double") * m2.cast("double"))
    m.select(n.cast("long").as("n"),
      when(n < 2 || m2 <= 0, lit(null)).otherwise(g1).as("skewness"),
      when(n < 2 || m2 <= 0, lit(null)).otherwise(b2).as("kurtosis"),
      when(n < 2 || m2 <= 0, lit(null)).otherwise(
        n.cast("double") * (g1 * g1 / 6.0 +
          (b2 - 3.0) * (b2 - 3.0) / 24.0)).as("jb"))
  }

  /** Durbin–Watson statistic — first-order serial correlation of an
    * ordered series (residual autocorrelation, the assumption check
    * behind every OLS read; DW ≈ 2(1−ρ̂): 2 = independent, → 0 =
    * positively autocorrelated, → 4 = alternating):
    *   DW = Σ_{t≥2}(x_t − x_{t−1})² / Σ(x_t − x̄)²
    *      = n·Σd² / (n·Σx² − (Σx)²)  — exact integers, ONE division.
    *
    * NO single-task global lag window (the [[runsTest]] stitch): the
    * squared differences are summed per RANGE PARTITION of the
    * (ts, tie) order, and the partition-boundary differences stitch
    * from the partition-count-bounded (first, last) value table.
    * INTEGRAL-INPUT CONTRACT: pre-quantize; n·Σx² must fit
    * DECIMAL(38). NULL when the variance is zero or n < 2. */
  def durbinWatson(df: DataFrame, tsCol: String, tieCol: String,
                   x: Column): DataFrame = {
    val seq0 = df.select(col(tsCol).as("__ts"), col(tieCol).as("__id"),
        x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = seq0.repartitionByRange(nParts, col("__ts"), col("__id"))
      .withColumn("__pid", spark_partition_id())
    val wloc = Window.partitionBy("__pid").orderBy("__ts", "__id")
    val local = parted
      .withColumn("__prev", lag("__x", 1).over(wloc))
      .groupBy("__pid").agg(
        count(lit(1)).as("__cnt"),
        sum(col("__x").cast(dec38)).as("__s1"),
        sum((col("__x") * col("__x")).cast(dec38)).as("__s2"),
        coalesce(sum(when(col("__prev").isNotNull,
          ((col("__x") - col("__prev")) *
            (col("__x") - col("__prev"))).cast(dec38))),
          lit(0).cast(dec38)).as("__d2"),
        min_by(col("__x"), struct(col("__ts"), col("__id"))).as("__first"),
        max_by(col("__x"), struct(col("__ts"), col("__id"))).as("__last"))
    val wp = Window.orderBy("__pid")
    val stitched = local
      .withColumn("__plast", lag("__last", 1).over(wp))
      .agg(sum("__cnt").cast(dec38).as("n"),
        sum("__s1").as("s1"), sum("__s2").as("s2"),
        (sum("__d2") + coalesce(sum(when(col("__plast").isNotNull,
          ((col("__first") - col("__plast")) *
            (col("__first") - col("__plast"))).cast(dec38))),
          lit(0).cast(dec38))).as("d2"))
    val den = col("n") * col("s2") - col("s1") * col("s1")
    stitched.select(col("n").cast("long").as("n"),
      when(col("n") < 2 || den <= 0, lit(null)).otherwise(
        (col("n") * col("d2")).cast("double") / den.cast("double"))
        .as("dw"))
  }

  /** Ljung–Box portmanteau test — are the first K autocorrelations of
    * a per-key series JOINTLY zero (the one-number "is this residual
    * series white noise" that reading [[acf]]'s K columns by eye
    * isn't): Q = n(n+2)·Σ_{j=1..K} ρ_j²/(n−j), χ²(K) under the null.
    * Composes [[acf]] (each ρ_j is already an exact-rational single
    * division); the K ≤ 8 terms fold in FIXED ascending-lag order
    * inside one projection, so Q hash-replays. NULL when n ≤ K or any
    * ρ_j is NULL (degenerate variance). */
  def ljungBox(df: DataFrame, keyCol: String, tsCol: String, x: Column,
               maxLag: Int, tieCol: String): DataFrame = {
    val r = acf(df, keyCol, tsCol, x, maxLag, tieCol)
    val nD = col("n").cast("double")
    val qSum = (1 to maxLag).foldLeft(lit(0.0)) { (acc, j) =>
      acc + col(s"r$j") * col(s"r$j") / (nD - j)
    }
    val anyNull = (1 to maxLag)
      .map(j => col(s"r$j").isNull).reduce(_ || _)
    r.select(col(keyCol), col("n"), lit(maxLag).as("lags"),
      when(col("n") <= maxLag || anyNull, lit(null))
        .otherwise(nD * (nD + 2.0) * qSum).as("q"))
  }

  /** Lin's concordance correlation coefficient — AGREEMENT between two
    * numeric readings of the same thing (predicted vs actual, sensor A
    * vs sensor B): Pearson r punishes neither scale nor location bias,
    * CCC punishes both (CCC = r·C_b ≤ r, equality iff the 45° line):
    *
    *   CCC = 2·S_xy / (S_xx + S_yy + n(x̄−ȳ)²)
    *       = 2(n·s_xy − s_x·s_y) /
    *         ((n·s_xx − s_x²) + (n·s_yy − s_y²) + (s_x − s_y)²)
    *
    * — exact DECIMAL(38) integers both sides, ONE division
    * (integral-input contract). NULL when the denominator is 0. */
  def linCcc(df: DataFrame, x: Column, y: Column): DataFrame = {
    def s(c: Column) = sum(c.cast(dec38))
    val d = df.select(x.cast("long").as("__x"), y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val m = d.agg(count(lit(1)).cast(dec38).as("n"),
      s(col("__x")).as("sx"), s(col("__y")).as("sy"),
      s(col("__x") * col("__x")).as("sxx"),
      s(col("__y") * col("__y")).as("syy"),
      s(col("__x") * col("__y")).as("sxy"))
    val n = col("n")
    val num = lit(2).cast(dec38) * (n * col("sxy") - col("sx") * col("sy"))
    val den = (n * col("sxx") - col("sx") * col("sx")) +
      (n * col("syy") - col("sy") * col("sy")) +
      (col("sx") - col("sy")) * (col("sx") - col("sy"))
    m.select(n.cast("long").as("n"),
      when(den === lit(0).cast(dec38), lit(null)).otherwise(
        num.cast("double") / den.cast("double")).as("ccc"))
  }

  /** Intraclass correlation ICC(1) — one-way random-effects rater
    * reliability: how much of a rating's variance is the TARGET
    * rather than the rater draw (the continuous-score companion of
    * [[cohenKappa]]/[[graft.ops.Quality.fleissKappa]], and the
    * variance-decomposition reading of [[anovaF]]'s F):
    *
    *   ICC(1) = (MSB − MSW) / (MSB + (k₀−1)·MSW),
    *   k₀ = (N − Σn_g²/N)/(G−1)  (the unbalanced-panel group size)
    *
    * Sums of squares come from the [[anovaF]] moments, but the
    * between-group term does NOT use anovaF's per-group in-row fold —
    * ANOVA's k is a handful of factor levels, ICC's targets are the
    * ITEMS RATED and can be corpus-scale. Instead Σ_g s_g²/n_g groups
    * the exact s_g² integers by PANEL SIZE (the
    * [[graft.ops.Quality.krippendorffAlpha]] denominator idiom): one
    * division per DISTINCT panel size, folded in ascending-size order
    * inside one row — the fold buffer is bounded by the number of
    * distinct panel sizes, never by target cardinality. Deterministic
    * on any engine. NULL when G < 2, N ≤ G, or the denominator ≤ 0.
    * MAGNITUDE CONTRACT: Σ_g s_g² must fit DECIMAL(38) — quantize the
    * metric so |s_g| ≲ 10¹⁵. */
  def icc1(df: DataFrame, targetCol: String, x: Column): DataFrame = {
    val cells = df.select(col(targetCol).as("__g"),
        x.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("n"), sum(col("__x").cast(dec38)).as("s"),
        sum((col("__x") * col("__x")).cast(dec38)).as("ss"))
      .transform(Cut.summary) // feeds the totals AND the size table
    val byN = cells.groupBy(col("n"))
      .agg(sum((col("s") * col("s"))).as("__s2"))
    val bs = byN.agg(
      aggregate(
        array_sort(collect_list(struct(col("n"),
          (col("__s2").cast("double") / col("n")).as("__t")))),
        lit(0.0), (acc, e) => acc + e.getField("__t")).as("__bsum"))
    val m = cells.agg(
        count(lit(1)).cast("long").as("g"),
        sum("n").cast("long").as("n"),
        sum(col("s")).cast(dec38).as("__ts"),
        sum(col("ss")).cast(dec38).as("__tss"),
        sum((col("n") * col("n")).cast(dec38)).as("__n2"))
      .crossJoin(broadcast(bs))
    val nD = col("n").cast("double")
    val gD = col("g").cast("double")
    val ssb = col("__bsum") -
      col("__ts").cast("double") * col("__ts").cast("double") / nD
    val ssw = col("__tss").cast("double") - col("__bsum")
    val msb = ssb / (gD - 1.0)
    val msw = ssw / (nD - gD)
    val k0 = (nD - col("__n2").cast("double") / nD) / (gD - 1.0)
    val den = msb + (k0 - 1.0) * msw
    m.select(col("g").as("n_targets"), col("n"),
      when(col("g") < 2 || col("n") <= col("g") || den <= 0.0,
        lit(null)).otherwise((msb - msw) / den).as("icc1"))
  }

  /** Partial autocorrelation at lags 1–3 — WHICH lag carries the
    * dependence: PACF strips the shorter-lag influence from each
    * [[acf]] reading (the AR-order diagnostic; an AR(1) series shows
    * acf decaying geometrically but pacf cutting to ~0 after lag 1).
    * Durbin–Levinson unrolled at fixed depth 3 (the quick-diagnostic
    * depth; deeper orders want a local solver):
    *
    *   φ₁₁ = ρ₁,   φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²),  φ₂₁ = ρ₁(1 − φ₂₂),
    *   φ₃₃ = (ρ₃ − φ₂₁ρ₂ − φ₂₂ρ₁)/(1 − φ₂₁ρ₁ − φ₂₂ρ₂)
    *
    * — every ρ is [[acf]]'s exact-rational single division, and the
    * recursion is a FIXED double tree (each φ a written-order chain),
    * so values hash-replay. NULL at a lag when its ρ is NULL or its
    * denominator is 0. */
  def pacf3(df: DataFrame, keyCol: String, tsCol: String, x: Column,
            tieCol: String): DataFrame = {
    val r = acf(df, keyCol, tsCol, x, maxLag = 3, tieCol = tieCol)
    val d2 = lit(1.0) - col("r1") * col("r1")
    val p22 = (col("r2") - col("r1") * col("r1")) / d2
    val p21 = col("r1") * (lit(1.0) - p22)
    val d3 = lit(1.0) - p21 * col("r1") - p22 * col("r2")
    val p33 = (col("r3") - p21 * col("r2") - p22 * col("r1")) / d3
    r.select(col(keyCol), col("n"),
      col("r1").as("pacf1"),
      when(col("r1").isNull || col("r2").isNull || d2 === 0.0,
        lit(null)).otherwise(p22).as("pacf2"),
      when(col("r1").isNull || col("r2").isNull || col("r3").isNull ||
        d2 === 0.0 || d3 === 0.0, lit(null)).otherwise(p33).as("pacf3"))
  }

  /** Brier score — the PROPER scoring rule for probabilistic
    * predictions (the calibration+sharpness companion of [[rocAuc]]'s
    * pure ranking and [[expectedCalibrationError]]'s calibration-only
    * readout): mean (p − y)², plus the skill score 1 − Brier/Brier₀
    * against the always-predict-base-rate reference (> 0 = the scores
    * beat the prior).
    *
    * Determinism: scores quantize to the dyadic ⌊p·grid⌋/grid lattice
    * (exact doubles — the corpus FLOOR-grid convention for float
    * inputs; the quantization error is ≤ 1/grid per score and is part
    * of the declared statistic), cells (q, y) fold counts exactly, per
    * cell ONE dyadic (q/grid − y)² times an integer count, and the
    * cell terms fold in sorted (q, y) order INSIDE one row — grid ≤
    * 2·grid cells of state, one division by n at the end. Brier₀ =
    * ȳ(1−ȳ) = n₁(n−n₁)/n² stays an exact integer ratio. */
  def brierScore(df: DataFrame, score: Column, label: Column,
                 grid: Int = 4096): DataFrame = {
    require(grid >= 2 && (grid & (grid - 1)) == 0,
      s"grid must be a power of two (dyadic-exact lattice), got $grid")
    val cells = df.select(
        floor(score * grid).cast("long").as("__q"),
        when(label, 1L).otherwise(0L).as("__y"))
      .filter(col("__q").isNotNull)
      .groupBy("__q", "__y").agg(count(lit(1)).as("__c"))
    val term = col("__c").cast("double") *
      (col("__q").cast("double") / grid - col("__y")) *
      (col("__q").cast("double") / grid - col("__y"))
    val m = cells.agg(
      sum(col("__c").cast(dec38)).as("__n"),
      sum(when(col("__y") === 1, col("__c").cast(dec38))
        .otherwise(lit(0).cast(dec38))).as("__n1"),
      count(lit(1)).cast("long").as("n_cells"),
      aggregate(
        array_sort(collect_list(struct(col("__q"), col("__y"),
          term.as("__t")))),
        lit(0.0), (a, e) => a + e.getField("__t")).as("__bsum"))
    val nD = col("__n").cast("double")
    val brier = col("__bsum") / nD
    val base = (col("__n1") * (col("__n") - col("__n1"))).cast("double") /
      (col("__n") * col("__n")).cast("double")
    m.select(col("__n").cast("long").as("n"), col("n_cells"),
      when(col("__n") === 0, lit(null)).otherwise(brier).as("brier"),
      when(col("__n") === 0 ||
          col("__n1") === lit(0).cast(dec38) ||
          col("__n1") === col("__n"), lit(null))
        .otherwise(lit(1.0) - brier / base).as("brier_skill"))
  }
}
