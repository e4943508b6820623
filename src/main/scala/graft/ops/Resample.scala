package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series resampling: bucket an event stream into a fixed grid,
  * densify the gaps, and fill missing values (last-observation-carried-
  * forward or linear interpolation) — the standard preprocessing step
  * for per-entity rate/trend features over an event log, and the batch
  * analogue of a monitoring system's downsampler.
  *
  * Scale shape: one shuffle for the bucket aggregation, then ONE
  * per-key aggregation that carries each key's span AND its observed
  * buckets as a map — so densification is a map-side `sequence` +
  * `explode` + O(1) map lookup per grid row, with no join back and no
  * second scan of the input (the naive spans-then-join formulation
  * reads the event table twice and shuffles three times; this reads it
  * once and shuffles twice). The tradeoff is that one key's observed
  * buckets ride in one aggregation row; that is bounded by the same
  * `maxBucketsPerKey` guard that caps the grid — a plan-embedded
  * `raise_error` fails fast if any single key's span/step would explode
  * (the one way this operator can go quadratic: one sensor with a
  * 10-year span at 1 ms steps). For series resolutions where a per-key
  * map row is unacceptable, lower `maxBucketsPerKey` and shard the key.
  */
object Resample {

  /** Sparse bucket aggregation: one row per (key, bucket-with-data).
    * `unit` is a `date_trunc` unit (hour/day/…); `aggs` are named
    * aggregate expressions evaluated per bucket. */
  def bucketAgg(events: DataFrame, keyCol: String, tsCol: String,
                unit: String, aggs: Seq[(String, Column)]): DataFrame = {
    require(aggs.nonEmpty, "bucketAgg needs at least one aggregate")
    events
      .groupBy(col(keyCol), date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Densify sparse buckets onto each key's full [min, max] grid at
    * `stepSeconds` spacing. Missing buckets appear with NULL aggregate
    * columns. Single pass: the per-key span and the (bucket → values)
    * map come from one aggregation, the grid explodes map-side, and
    * each grid row resolves its values with an O(1) map lookup. The
    * guard raises inside the plan (no extra action) if a key's grid
    * would exceed `maxBucketsPerKey`. */
  def gapFill(sparse: DataFrame, keyCol: String, stepSeconds: Long,
              maxBucketsPerKey: Long = 1000000L): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val aggCols = sparse.columns.filterNot(c => c == keyCol || c == "bucket")
    val perKey = sparse.groupBy(keyCol).agg(
      min("bucket").as("__lo"), max("bucket").as("__hi"),
      map_from_entries(collect_list(struct(col("bucket"),
        struct(aggCols.map(col): _*)))).as("__m"))
    val nBuckets = (unix_timestamp(col("__hi")) - unix_timestamp(col("__lo"))) /
      lit(stepSeconds) + lit(1)
    val guarded = perKey.withColumn("__lo",
      when(nBuckets > maxBucketsPerKey,
        raise_error(concat(lit(s"gapFill: key "), col(keyCol).cast("string"),
          lit(s" needs "), nBuckets.cast("string"),
          lit(s" buckets > maxBucketsPerKey=$maxBucketsPerKey"))))
        .otherwise(col("__lo")))
    guarded
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"),
          expr(s"INTERVAL $stepSeconds SECONDS"))).as("bucket"),
        col("__m"))
      .withColumn("__s", element_at(col("__m"), col("bucket")))
      .select(col(keyCol) +: col("bucket") +:
        aggCols.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Forward fill (locf): replace NULLs in `cols` with the last non-null
    * value at or before the row, per key in bucket order. One window
    * exchange+sort shared by every filled column. */
  def forwardFill(dense: DataFrame, keyCol: String,
                  cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(dense)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Linear interpolation: fill NULLs in `valueCol` on the straight line
    * between the surrounding non-null observations (by bucket time).
    * Leading/trailing gaps (no observation on one side) stay NULL —
    * compose with [[forwardFill]] if edge extension is wanted. Two
    * window passes over the same (key, bucket) sort. */
  def interpolate(dense: DataFrame, keyCol: String,
                  valueCol: String): DataFrame = {
    val wPrev = Window.partitionBy(keyCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(keyCol).orderBy("bucket")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val x = unix_timestamp(col("bucket")).cast("double")
    val obsV = when(col(valueCol).isNotNull, col(valueCol).cast("double"))
    val obsX = when(col(valueCol).isNotNull, x)
    val out = dense
      .withColumn("__pv", last(obsV, ignoreNulls = true).over(wPrev))
      .withColumn("__px", last(obsX, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(obsV, ignoreNulls = true).over(wNext))
      .withColumn("__nx", first(obsX, ignoreNulls = true).over(wNext))
    out.withColumn(valueCol,
        when(col(valueCol).isNotNull, col(valueCol).cast("double"))
          .when(col("__pv").isNotNull && col("__nv").isNotNull,
            col("__pv") + (col("__nv") - col("__pv")) *
              (x - col("__px")) / (col("__nx") - col("__px")))
          .otherwise(lit(null).cast("double")))
      .drop("__pv", "__px", "__nv", "__nx")
  }

  /** Per-key exponentially weighted moving average over a time-ordered
    * series, seeded at the first observation:
    * y₁ = x₁, yₜ = (1−α)·yₜ₋₁ + α·xₜ. Returns one row per key with the
    * final smoothed level — the trend/anomaly baseline of a metrics
    * pipeline.
    *
    * The recurrence is inherently sequential, so each key's series is
    * collected into a ts-sorted array and folded left with the
    * `aggregate` higher-order function — ONE shuffle, state bounded by
    * the per-entity series length (the funnel/transition discipline:
    * per-key series are bounded; this is not for million-row keys).
    * With a dyadic α (½, ¼, …) every multiply is an exact IEEE scale
    * and the fold order is pinned, so the double is bit-identical on
    * any engine/partitioning — DuckDB replays it verbatim with
    * `list_reduce(list(x ORDER BY ts), (a, b) -> a*(1−α) + b*α)`. */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
           alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    val arr = sort_array(collect_list(struct(
      col(tsCol).as("t"), col(valueCol).cast("double").as("x"))))
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), arr.as("__a"))
      .withColumn("ewma", aggregate(
        slice(col("__a"), lit(2), greatest(size(col("__a")) - 1, lit(0))),
        element_at(col("__a"), 1).getField("x"),
        (acc, e) => acc * lit(1 - alpha) + e.getField("x") * lit(alpha)))
      .drop("__a")
  }

  /** Holt's double exponential smoothing (level + trend) per key — the
    * next step up from [[ewma]] when the series drifts: lᵢ = α·xᵢ +
    * (1−α)(lᵢ₋₁ + tᵢ₋₁), tᵢ = β(lᵢ − lᵢ₋₁) + (1−β)tᵢ₋₁, textbook init
    * l₁ = x₁, t₁ = x₂ − x₁ (keys with fewer than 2 points are dropped).
    * Output per key: n, final level/trend, and the h-step-ahead linear
    * forecast l + h·t.
    *
    * Same execution discipline as [[ewma]]: ONE grouped collect into a
    * (ts, tie, x)-sorted in-row array, the coupled recurrence folded by
    * a single aggregate() HOF with a struct accumulator — per-key state
    * is the series itself (bounded by the caller's key granularity; a
    * series that cannot sit in one row does not belong in a per-key
    * recurrence). Dyadic α/β keep every step a fixed correctly-rounded
    * IEEE tree, so the doubles replay bit-for-bit cross-engine (the
    * oracle re-runs the recurrence with identical expression shape). */
  def holtWinters(df: DataFrame, keyCol: String, tsCol: String,
                  tieCol: String, valueCol: String, alpha: Double = 0.5,
                  beta: Double = 0.5, horizon: Int = 3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta in (0, 1], got $beta")
    val arr = sort_array(collect_list(struct(col(tsCol).as("t"),
      col(tieCol).as("o"), col(valueCol).cast("double").as("x"))))
    val x1 = element_at(col("__a"), 1).getField("x")
    val x2 = element_at(col("__a"), 2).getField("x")
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), arr.as("__a"))
      .filter(col("n") >= 2)
      .withColumn("__st", aggregate(
        slice(col("__a"), lit(2), (size(col("__a")) - 1).cast("int")),
        struct(x1.as("l"), (x2 - x1).as("t")),
        (acc, e) => {
          val lNew = e.getField("x") * lit(alpha) +
            (acc.getField("l") + acc.getField("t")) * lit(1 - alpha)
          struct(lNew.as("l"),
            ((lNew - acc.getField("l")) * lit(beta) +
              acc.getField("t") * lit(1 - beta)).as("t"))
        }))
      .select(col(keyCol), col("n").cast("long").as("n"),
        col("__st").getField("l").as("level"),
        col("__st").getField("t").as("trend"),
        (col("__st").getField("l") +
          lit(horizon) * col("__st").getField("t")).as("forecast"))
  }

  /** Seasonal (day-of-week) profile per group: for each (group, dow)
    * cell, row count, mean and sample variance of the value — the
    * weekly-seasonality baseline a metrics pipeline subtracts before
    * anomaly detection. ONE scan, ONE grouped aggregation; the output
    * is |groups|·7 rows.
    *
    * Determinism discipline: the value is fixed-pointed by an exact
    * IEEE power-of-two scale (`floor(value · 2^scaleBits)` — both
    * engines floor the identical double), sums accumulate integrally
    * (DECIMAL(38,0)), the mean divides ONCE, and the variance is the
    * exact-integer form (n·Σx² − (Σx)²)/(n·(n−1)) with ONE division —
    * so every double hash-replays. `dow` is computed from epoch days
    * ((days + 4) mod 7, 0 = Sunday; 1970-01-01 was a Thursday) rather
    * than an engine DOW function — DuckDB and Spark disagree on
    * day-numbering conventions, epoch arithmetic is convention-free. */
  def seasonalProfile(df: DataFrame, groupCol: String, tsCol: String,
                      valueCol: String, scaleBits: Int = 6): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 20, s"scaleBits: $scaleBits")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val scale = (1L << scaleBits).toDouble
    val days = call_function("div", unix_micros(col(tsCol)),
      lit(86400000000L))
    val dow = pmod(days + 4, lit(7L))
    val vx = floor(col(valueCol) * lit(scale)).cast("long")
    val g = df
      .select(col(groupCol), dow.as("dow"), vx.as("__v"))
      .groupBy(col(groupCol), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("__v").cast(dec38)).as("__s"),
        sum((col("__v") * col("__v")).cast(dec38)).as("__ss"))
    val n = col("n").cast(dec38)
    g.select(col(groupCol), col("dow").cast("long").as("dow"),
      col("n").cast("long").as("n"),
      (col("__s").cast("double") / (col("n") * lit(scale))).as("mean"),
      when(col("n") < 2, lit(null)).otherwise(
        ((n * col("__ss") - col("__s") * col("__s")).cast("double") /
          ((n * (n - lit(1).cast(dec38))).cast("double") * lit(scale * scale)))
      ).as("variance"))
  }

  /** Classical additive seasonal decomposition of a daily series —
    * y = trend + seasonal + remainder, the orientation plot every
    * time-series investigation starts with (and the base of q225's
    * anomaly gate, which uses the DOW-baseline shortcut; this is the
    * full decomposition):
    *
    *  - trend: centered `period`-day moving average (NULL where the
    *    window is incomplete — edges carry no trend, classical rule);
    *  - seasonal: mean DETRENDED value per day-of-period, centered so
    *    the `period` indices sum to zero;
    *  - remainder = y − trend − seasonal.
    *
    * Day index is epoch-day and day-of-period is day mod period —
    * calendar-free and engine-identical. Determinism: the daily sums
    * are exact integers (pass an integral `x`); the trend is ONE
    * division of an exact windowed integer sum; seasonal means fold
    * detrended doubles in day order per day-of-period (≤ days/period
    * terms) and the centering folds the `period` indices — all
    * bounded in the NUMBER OF DAYS, never event count. One grouped
    * agg to the day table; everything after runs on ≤ days rows. */
  def classicalDecompose(df: DataFrame, tsCol: String, x: Column,
                         period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      s"period must be odd >= 3 (centered MA), got $period")
    import org.apache.spark.sql.expressions.Window
    val half = period / 2
    val daily = df.select(call_function("div", unix_micros(col(tsCol)),
          lit(86400000000L)).as("day"), x.cast("long").as("__x"))
      .groupBy("day").agg(sum("__x").as("y"))
    val wMa = Window.orderBy("day")
      .rangeBetween(-half.toLong, half.toLong)
    // day-bounded, and downstream consumes it through three branches
    // (seasonal index, centering, final join) — uncut, the raw scan
    // AND the MA windows re-plan per branch (audited: 3 static events
    // scans). Cut ABOVE the windows so they compute once.
    val trended = daily
      .withColumn("__cnt", count(lit(1)).over(wMa))
      .withColumn("trend",
        when(col("__cnt") === period,
          sum("y").over(wMa).cast("double") / period))
      .withColumn("dop", pmod(col("day"), lit(period.toLong)))
      .withColumn("__det", col("y") - col("trend"))
      .transform(Cut.summary)
    val idx = trended.filter(col("trend").isNotNull)
      .groupBy("dop")
      .agg((aggregate(
          array_sort(collect_list(struct(col("day"),
            col("__det").as("__d")))),
          lit(0.0), (acc, e) => acc + e.getField("__d")) /
        count(lit(1))).as("__si"))
    val centering = idx.agg(
      (aggregate(array_sort(collect_list(struct(col("dop"),
          col("__si").as("__s")))),
        lit(0.0), (acc, e) => acc + e.getField("__s")) /
        count(lit(1))).as("__c"))
    val seasonal = idx.crossJoin(broadcast(centering))
      .select(col("dop").as("__dop2"),
        (col("__si") - col("__c")).as("seasonal"))
    trended.join(broadcast(seasonal), col("dop") === col("__dop2"),
        "left")
      .select(col("day"), col("dop"), col("y").cast("long").as("y"),
        col("trend"), col("seasonal"),
        (col("y") - col("trend") - col("seasonal")).as("remainder"))
  }
}
