package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality layer: column profiling and declarative expectations —
  * the validation surface an ETL framework runs against every landed
  * batch (row counts, null/distinct profiles, uniqueness, referential
  * integrity, accepted values).
  *
  * Both operators are single-pass by construction: the profiler computes
  * every column's statistics in ONE aggregation over one scan (not a
  * scan per column), and each expectation is one aggregate or one
  * anti-join. At 100 TB the difference between profiling in one pass and
  * per-column passes is the whole game.
  */
object Quality {

  /** Per-column profile: one output row per column with count, nulls,
    * distinct (exact), min/max (as strings — type-stable across mixed
    * schemas). Single aggregation; the per-column stats are parallel
    * aggregate expressions over one scan. For very wide tables at scale,
    * swap `countDistinct` for `approx_count_distinct`. */
  def profile(df: DataFrame, exact: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    // ADVICE r16: a zero-column frame has nothing to profile (and no
    // column to widen by) — return the empty profile the pre-r16 code
    // produced instead of NoSuchElementException on cols.head.
    if (cols.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Option[String],
          Option[String])]
        .toDF("column", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"__dst_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val total = count(lit(1)).as("__total")
    // r16: the multi-countDistinct plans as ONE Expand (≈ columns×rows
    // intermediate rows) whose partial aggregation runs inside the scan
    // stage — widen a narrow (1-split local) scan first so the expand
    // fans out across slots; structural no-op on a wide corpus scan.
    val row = Par.widen(df, col(cols.head)).agg(total, aggs: _*).head()
    val totalN = row.getAs[Long]("__total")
    cols.map { c =>
      (c, totalN, totalN - row.getAs[Long](s"__cnt_$c"),
        row.getAs[Long](s"__dst_$c"),
        Option(row.getAs[String](s"__min_$c")),
        Option(row.getAs[String](s"__max_$c")))
    }.toDF("column", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")
  }

  /** Robust per-column outlier detection: modified z-score on the
    * median/MAD (median absolute deviation) scale — the robust
    * alternative to mean/stddev gates, immune to the outliers it is
    * hunting. A value is an outlier when |x − median| > z · 1.4826 · MAD
    * (1.4826 = the normal-consistency constant; z = 3.5 is the classic
    * Iglewicz–Hoaglin cutoff). One row per column:
    * (column, median, mad, n, n_outliers), in `cols` order.
    *
    * Scale shape: three passes regardless of column count — one
    * stacked percentile aggregation for all medians, one for all MADs
    * (needs the medians first; exact medians are inherently two-pass),
    * one stacked count. The two intermediate rows broadcast. Exact
    * percentiles shuffle per-column sorted values once each;
    * `exact = false` swaps in `approx_percentile` (t-digest — a
    * mergeable sketch, so the median passes become partial-aggregate
    * map-side combines with sketch-sized shuffles) the same way
    * [[profile]] swaps countDistinct — the 100 TB mode; an
    * approximate median moves the cutoff slightly, never the
    * robustness property. */
  def madOutliers(df: DataFrame, cols: Seq[String],
                  z: Double = 3.5, exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "madOutliers: need at least one column")
    require(z > 0, s"madOutliers: z must be positive, got $z")
    val kConst = 1.4826
    def x(c: String): Column = col(c).cast("double")
    def med(c: Column): Column =
      if (exact) percentile(c, lit(0.5))
      else approx_percentile(c, lit(0.5), lit(10000))
    val medAggs = cols.zipWithIndex.map { case (c, i) =>
      med(x(c)).as(s"med_$i")
    }
    val meds = df.agg(medAggs.head, medAggs.tail: _*)
    // the MAD pass carries the (constant, crossJoined) medians through
    // with first() so the stats row comes out of ONE aggregation —
    // meds.crossJoin(mads) would re-execute the median pass (Catalyst
    // does not dedupe the shared subtree; read in the q120 plan audit)
    val statAggs = cols.zipWithIndex.map { case (c, i) =>
      med(abs(x(c) - col(s"med_$i"))).as(s"mad_$i")
    } ++ cols.indices.map(i => first(col(s"med_$i")).as(s"med_$i"))
    val stats = df.crossJoin(broadcast(meds))
      .agg(statAggs.head, statAggs.tail: _*)
    val counted = df.crossJoin(broadcast(stats))
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column"), x(c).as("x"),
          col(s"med_$i").as("med"), col(s"mad_$i").as("mad"),
          (abs(x(c) - col(s"med_$i")) >
            lit(z * kConst) * col(s"mad_$i")).as("out"))
      }: _*)).as("cb"))
      .filter(col("cb.x").isNotNull)
      .groupBy(col("cb.column").as("column"))
      .agg(round(first(col("cb.med")), 6).as("median"),
        round(first(col("cb.mad")), 6).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("cb.out"), 1L).otherwise(0L)).as("n_outliers"))
    val order = map(cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), lit(i))
    }: _*)
    counted.orderBy(order(col("column")))
      .select(col("column"), col("median"), col("mad"),
        col("n"), col("n_outliers"))
  }

  /** Per-group winsorization — clip a value column at its group's exact
    * [pLo, pHi] percentiles, the standard outlier treatment before
    * normalization or mean-based statistics (a fat-tailed quality score
    * or length column otherwise lets one crawl artifact move the mean).
    *
    * Scale shape: ONE grouped percentile aggregation (two
    * `percentile()` columns per group — Spark's exact interpolating
    * percentile, a single-pass mergeable aggregate) broadcast-joined
    * back, then clipping is a pure projection. For the sketch-sized
    * 100 TB mode swap `exact = false` (approx_percentile / t-digest,
    * the [[madOutliers]] dial). Returns the input plus
    * `<valueCol>_w` (clipped value), `lo`, `hi`. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95,
                exact: Boolean = true): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val x = col(valueCol).cast("double")
    def pct(p: Double): Column =
      if (exact) percentile(x, lit(p))
      else approx_percentile(x, lit(p), lit(10000))
    val bounds = df.groupBy(col(groupCol))
      .agg(pct(pLo).as("lo"), pct(pHi).as("hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        when(x < col("lo"), col("lo"))
          .when(x > col("hi"), col("hi"))
          .otherwise(x))
  }

  /** Cross-source quantile normalization: replace each row's score by
    * the GLOBAL score distribution's value at the row's within-group
    * percentile rank — the calibration step that makes per-source
    * quality scores comparable before one global threshold (a
    * length-score of 900 chars means something different in src3 than
    * in src17; after normalization both map onto the same global
    * scale).
    *
    * Scale shape: the global distribution is summarized by `knots`+1
    * exact percentile knots from ONE aggregation (dyadic knot count →
    * every fraction i/knots is binary-exact, the q167 discipline) and
    * broadcast; the within-group rank is one percent_rank window; the
    * knot lookup + linear interpolation is a pure projection. Two
    * shuffles total, knot state corpus-size independent.
    *
    * Determinism: percent_rank is (rank−1)/(n−1) — exact integers, one
    * division — and the interpolation
    * knot[i] + (p·knots − i)·(knot[i+1] − knot[i]) is a handful of
    * IEEE ops on engine-identical inputs, so the normalized double
    * hash-replays cross-engine. */
  def quantileNormalize(df: DataFrame, groupCol: String, scoreCol: String,
                        knots: Int = 256, exact: Boolean = true): DataFrame = {
    require(knots >= 2 && (knots & (knots - 1)) == 0,
      s"knots must be a power of two for binary-exact fractions: $knots")
    import org.apache.spark.sql.expressions.Window
    val x = col(scoreCol).cast("double")
    val ps = (0 to knots).map(_.toDouble / knots).toArray
    // exact=false: the 100 TB dial — the exact global percentile
    // buffers every score in one final agg buffer (see winsorize)
    val knAgg =
      if (exact) percentile(x, typedLit(ps))
      else approx_percentile(x, typedLit(ps), lit(10000))
    val kn = df.agg(knAgg.as("__kn"))
    val i = least(floor(col("__p") * knots).cast("long"), lit(knots - 1L))
    df.withColumn("__p",
        percent_rank().over(Window.partitionBy(groupCol).orderBy(x)))
      .crossJoin(broadcast(kn))
      .withColumn("__i", i)
      .withColumn("pct", col("__p"))
      .withColumn(s"${scoreCol}_qn",
        element_at(col("__kn"), (col("__i") + 1).cast("int")) +
          (col("__p") * knots - col("__i")) *
          (element_at(col("__kn"), (col("__i") + 2).cast("int")) -
            element_at(col("__kn"), (col("__i") + 1).cast("int"))))
      .drop("__kn", "__i", "__p")
  }

  sealed trait Expectation { def name: String }
  final case class NotNull(colName: String) extends Expectation {
    val name = s"not_null($colName)"
  }
  final case class Unique(cols: Seq[String]) extends Expectation {
    val name = s"unique(${cols.mkString(",")})"
  }
  final case class AcceptedValues(colName: String, values: Seq[String])
      extends Expectation {
    val name = s"accepted_values($colName)"
  }
  /** Every non-null value of `colName` exists in `ref`'s `refCol`
    * (referential integrity, checked with a left-anti join — shuffle by
    * the key, the ref side deduplicated first). */
  final case class RefIntegrity(colName: String, ref: DataFrame,
                                refCol: String) extends Expectation {
    val name = s"ref_integrity($colName)"
  }

  /** Evaluate expectations against `df`; returns (expectation, violations)
    * rows. All single-aggregate checks collapse into ONE pass over the
    * data; each referential check adds one anti-join. */
  def expect(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(expectations.nonEmpty, "no expectations given")
    val aggChecks: Seq[(String, Column)] = expectations.collect {
      case e @ NotNull(c) =>
        e.name -> count(when(col(c).isNull, 1))
      case e @ AcceptedValues(c, vs) =>
        e.name -> count(when(col(c).isNotNull && !col(c).isin(vs: _*), 1))
    }
    val aggRows: Seq[(String, Long)] =
      if (aggChecks.isEmpty) Nil
      else {
        val row = df.agg(aggChecks.head._2.as("c0"),
          aggChecks.tail.zipWithIndex.map { case ((_, a), i) =>
            a.as(s"c${i + 1}") }: _*).head()
        aggChecks.zipWithIndex.map { case ((n, _), i) =>
          n -> row.getLong(i) }
      }
    val uniqueRows: Seq[(String, Long)] = expectations.collect {
      case e @ Unique(cs) =>
        val dups = df.groupBy(cs.map(col): _*).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .agg(coalesce(sum(col("n") - 1), lit(0L))).head().getLong(0)
        e.name -> dups
    }
    val refRows: Seq[(String, Long)] = expectations.collect {
      case e @ RefIntegrity(c, ref, rc) =>
        val violations = df.filter(col(c).isNotNull)
          .join(ref.select(col(rc).as(c)).distinct(), Seq(c), "left_anti")
          .count()
        e.name -> violations
    }
    (aggRows ++ uniqueRows ++ refRows)
      .toDF("expectation", "violations")
  }

  /** Benford first-digit profile — the fabricated-data / corrupt-feed
    * smell test: naturally occurring multi-magnitude quantities follow
    * P(d) = log10(1 + 1/d); ledger-like columns that deviate hard were
    * often generated, truncated, or capped. Returns one row per leading
    * digit (1–9) with observed count/share, the Benford expectation,
    * and the (repeated) global chi-squared statistic.
    *
    * `x` must be a positive integral column (fixed-point first; zeros
    * and negatives are filtered — they have no leading digit). ONE
    * grouped count on 9 keys; shares and expectations are single
    * divisions; the expectation is computed IN-ENGINE as ln(1+1/d)/ln 10
    * on both sides with the ln quantized to the 2⁻²⁶ dyadic grid (the
    * [[Drift.jsDivergence]] finding: Java Math.log is 1-ulp loose vs
    * glibc, so raw ln outputs cannot be hash-compared); chi² folds its
    * 9 terms in digit order via a running window sum (the q159
    * ordered-fold discipline). */
  def benford(df: DataFrame, x: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val digit = substring(x.cast("string"), 1, 1).cast("long")
    // scaffold digits 1–9 so a digit with ZERO observations still
    // contributes its (0 − expected)²/expected chi² term — absent
    // digits are exactly the signature of fabricated/truncated feeds
    // this gate exists to catch (and the one-row-per-digit contract
    // holds). 9-row literal table; the join broadcasts.
    val allDigits = df.sparkSession.range(1, 10)
      .select(col("id").cast("long").as("digit"))
    val counts = allDigits.join(
        df.filter(x > 0)
          .select(digit.as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("__n")),
        Seq("digit"), "left")
      .select(col("digit"), coalesce(col("__n"), lit(0L)).as("n"))
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val share = col("n").cast("double") / sum("n").over(wAll)
    val expect = Exact.lnq(lit(1.0) + lit(1.0) / col("digit")) /
      Exact.lnq(lit(10.0))
    val wOrd = Window.orderBy("digit").rowsBetween(Long.MinValue, 0)
    val t = counts
      .withColumn("share", share)
      .withColumn("expected", expect)
      .withColumn("__term",
        (col("share") - col("expected")) * (col("share") - col("expected"))
          / col("expected"))
      .withColumn("__cum", sum("__term").over(wOrd))
      .withColumn("__total", sum("n").over(wAll))
      .withColumn("__last", max(col("__cum")).over(wAll))
    t.select(col("digit"), col("n").cast("long").as("n"),
      col("share"), col("expected"),
      (col("__total").cast("double") * col("__last")).as("chi2"))
  }

  /** Keyed pseudonymization — the release-prep companion to
    * [[kAnonymity]]: replace direct identifiers with
    * sha2(secret ‖ ':' ‖ value) so the SAME value maps to the SAME
    * token (joins and group-bys on the pseudonym still work — the
    * property plain redaction destroys) while reversal requires the
    * secret. NULLs stay NULL. A pure codegen projection — no shuffle,
    * any scale. NOT encryption: rotate the secret per release, and
    * treat low-entropy columns (phone numbers!) as guessable-by-
    * enumeration unless the secret stays private — that caveat is
    * inherent to deterministic tokenization, state it in the release
    * doc. */
  def pseudonymize(df: DataFrame, cols: Seq[String],
                   secret: String): DataFrame = {
    require(cols.nonEmpty, "pseudonymize: no columns given")
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        when(col(c).isNull, lit(null))
          .otherwise(sha2(concat(lit(secret), lit(":"),
            col(c).cast("string")), 256)))
    }
  }

  /** K-anonymity / l-diversity audit before a dataset release: every
    * quasi-identifier equivalence class with its size n, the number of
    * distinct sensitive values it contains (l), and the `risky` flag
    * (n < k — the class re-identifies its members to within n
    * candidates). ONE grouped aggregation — the count and the exact
    * distinct ride the same shuffle; at 100 TB swap the exact distinct
    * for approx_count_distinct if the sensitive domain is huge. The
    * release decision (suppress risky classes / generalize a column) is
    * the caller's; this is the measurement. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 sensitive: Column, k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity: need quasi-identifier columns")
    require(k >= 2, s"kAnonymity: k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("l_diversity"))
      .withColumn("risky", col("n") < k)
  }

  /** Fleiss' kappa — chance-corrected agreement among a FIXED number
    * of raters per item (label quality for multi-annotator training
    * data, the n>2-rater generalization of Cohen's κ): only items with
    * exactly `nRaters` ratings participate (the classical statistic is
    * undefined otherwise — variable panels belong to Krippendorff).
    *
    *   P̄  = (Σ_ij c_ij² − N·n) / (N·n·(n−1))   observed agreement
    *   P̄e = Σ_j (C_j / (N·n))²                  chance agreement
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Scale shape: ONE (item, category) cell aggregation → the
    * exactly-n filter rides a per-item total → two global aggregations
    * of exact DECIMAL(38) integer moments (Σc², ΣC_j², N). P̄ and P̄e
    * are each ONE correctly-rounded division of exact integers and κ
    * one more fixed tree — bit-identical on any engine (the corrTest
    * discipline; folding κ's algebra into a single integer ratio
    * would overflow DECIMAL(38) at ~10¹²-item scale, measured against
    * the A·(Nn)² term). NULL κ when P̄e = 1 (every rating one
    * category — agreement is vacuous). */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
                  nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"fleissKappa: nRaters must be >= 2, got $nRaters")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .select(col(itemCol).as("__i"), col(categoryCol).as("__cat"))
      .groupBy("__i", "__cat").agg(count(lit(1)).as("__c"))
    val complete = cells
      .withColumn("__tot", sum("__c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("__i")))
      .filter(col("__tot") === nRaters)
      .transform(Cut.summary)
    val byItem = complete.agg(
      countDistinct("__i").cast(dec38).as("N"),
      coalesce(sum((col("__c") * col("__c")).cast(dec38)),
        lit(0).cast(dec38)).as("c2"))
    val byCat = complete.groupBy("__cat").agg(sum("__c").as("__cj"))
      .agg(coalesce(sum((col("__cj") * col("__cj")).cast(dec38)),
        lit(0).cast(dec38)).as("cj2"))
    val n = lit(nRaters).cast(dec38)
    val m = byItem.crossJoin(broadcast(byCat))
    // P̄ and P̄e: one division each of exact integers; κ a fixed tree
    val pBar = (col("c2") - col("N") * n).cast("double") /
      (col("N") * n * (n - 1)).cast("double")
    val pE = col("cj2").cast("double") /
      ((col("N") * n) * (col("N") * n)).cast("double")
    m.select(col("N").cast("long").as("n_items"),
      lit(nRaters).as("n_raters"),
      when(col("N") === lit(0).cast(dec38), lit(null))
        .otherwise(pBar).as("p_bar"),
      when(col("N") === lit(0).cast(dec38), lit(null))
        .otherwise(pE).as("p_e"),
      when(col("N") === lit(0).cast(dec38) || pE >= 1.0, lit(null))
        .otherwise((pBar - pE) / (lit(1.0) - pE)).as("kappa"))
  }

  /** Krippendorff's alpha (nominal) — chance-corrected agreement with
    * VARIABLE panels: the [[fleissKappa]] complement when raters per
    * item differ (missing annotations are the norm in real label
    * queues; Fleiss is undefined there). Units with a single rating
    * drop (nothing pairable). Coincidence formulation:
    *
    *   α = (S_o/n − S_e) / (1 − S_e)
    *   S_o = Σ_u Σ_c n_uc(n_uc−1)/(m_u−1),  S_e = Σ_c n_c(n_c−1)/(n(n−1))
    *
    * Exactness discipline: S_o sums RATIONALS with unit-dependent
    * denominators — a naive per-unit double sum would be
    * order-dependent. Group by the DENOMINATOR instead: panels are
    * few by nature, so S_o = Σ_d A_d/d with A_d =
    * Σ_{m_u−1=d} Σ_c n_uc(n_uc−1) an exact integer per distinct panel
    * size and the outer fold running in-row over the SORTED ≤|panels|
    * terms (the woeIv discipline — never a windowed double sum). S_e
    * is ONE division of exact DECIMAL(38) integers; α a fixed tree.
    * NULL α when S_e = 1 (a single category corpus-wide). */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        categoryCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .select(col(itemCol).as("__u"), col(categoryCol).as("__cat"))
      .groupBy("__u", "__cat").agg(count(lit(1)).as("__c"))
    val withM = cells
      .withColumn("__m", sum("__c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("__u")))
      .filter(col("__m") >= 2)
      .transform(Cut.summary)
    // A_d per distinct panel size, folded in-row sorted by d
    val so = withM
      .groupBy((col("__m") - 1).as("__d"))
      .agg(sum((col("__c") * (col("__c") - 1)).cast(dec38)).as("__a"))
      .agg(coalesce(aggregate(
        array_sort(collect_list(struct(col("__d"),
          (col("__a").cast("double") / col("__d")).as("__t")))),
        lit(0.0), (acc, e) => acc + e.getField("__t")), lit(0.0))
        .as("so"))
    val margins = withM.groupBy("__cat").agg(sum("__c").as("__nc"))
      .agg(coalesce(sum(col("__nc").cast(dec38)), lit(0).cast(dec38))
          .as("n"),
        coalesce(sum((col("__nc") * (col("__nc") - 1)).cast(dec38)),
          lit(0).cast(dec38)).as("__ncc"))
    val m = so.crossJoin(broadcast(margins))
    val sE = col("__ncc").cast("double") /
      (col("n") * (col("n") - 1)).cast("double")
    val dO = col("so") / col("n").cast("double")
    m.select(col("n").cast("long").as("n_pairable"),
      when(col("n") < 2, lit(null)).otherwise(dO).as("s_o"),
      when(col("n") < 2, lit(null)).otherwise(sE).as("s_e"),
      when(col("n") < 2 || sE >= 1.0, lit(null))
        .otherwise((dO - sE) / (lit(1.0) - sE)).as("alpha"))
  }
}
