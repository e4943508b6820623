package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics pair over an event stream: ordered k-step funnels
  * and cohort retention — the two queries every reference-style events
  * pipeline ends in.
  *
  * Both are exact integer/timestamp computations (no floats), so the
  * results are engine-reproducible and oracle-able.
  */
object Funnel {

  /** Ordered funnel: step i's timestamp is the user's EARLIEST event of
    * step i's type STRICTLY AFTER their step i−1 timestamp (and within
    * `maxGap` of it when given — e.g. "1 hour"). Greedy-earliest is the
    * standard funnel semantics and is optimal for reachability: taking
    * the earliest feasible step-i time can only widen step i+1's
    * window, so a user completes the funnel under this rule iff any
    * event assignment completes it (no backtracking needed — which is
    * what makes the computation k joins instead of a search).
    *
    * Returns one row per user who reached step 1: (user, t1 … tk),
    * with tᵢ NULL from the first missed step on.
    *
    * Scale shape: k−1 equi-joins + k grouped MIN aggregations, all
    * keyed on the user — one shuffle key throughout, so a 100 TB event
    * log pays k passes over the (type-filtered) stream, never a
    * per-user sort or a cross join. Carried step times ride the
    * aggregation as MIN of a per-user constant. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String],
             maxGap: Option[String] = None): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    def typed(st: String): DataFrame = events
      .filter(col(typeCol) === st)
      .select(col(userCol).as("user"), col(tsCol).as("__ts"))
    var acc = typed(steps.head).groupBy("user").agg(min("__ts").as("t1"))
    for (i <- 2 to steps.size) {
      val prev = col(s"t${i - 1}")
      val gapOk = maxGap.map(g =>
        col("__ts") <= prev + expr(s"INTERVAL $g")).getOrElse(lit(true))
      val aggs = (1 until i).map(j => min(col(s"t$j")).as(s"t$j")) :+
        min(when(col("__ts") > prev && gapOk, col("__ts"))).as(s"t$i")
      acc = acc.join(typed(steps(i - 1)), Seq("user"), "left")
        .groupBy("user")
        .agg(aggs.head, aggs.tail: _*)
    }
    acc
  }

  /** Event-transition (first-order Markov) matrix: for each user's
    * time-ordered event sequence, count `from → to` adjacent pairs and
    * attach the row-normalized transition probability — the "what do
    * users do next" journey summary and the input to next-step
    * prediction baselines.
    *
    * `tieCol` breaks equal-timestamp ordering (an event id) so the
    * sequence — and therefore the count matrix — is deterministic.
    * Scale shape: one user-partitioned window (shuffle on the user,
    * per-partition sort — never global), one grouped count on
    * ≤ |types|² keys; the probability is one integer division per
    * output row (exact longs divided once). */
  def transitions(events: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, tieCol: String): DataFrame = {
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("from_type")
    userTransitions(events, userCol, typeCol, tsCol, tieCol)
      .groupBy("from_type", "to_type")
      .agg(sum("n").as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum("n").over(wf), 6))
  }

  /** Per-user transition counts (user, from_type, to_type, n) — the
    * additive decomposition of [[transitions]]: the global matrix is
    * the plain sum over users, which is what lets an incremental
    * maintainer snapshot per-user rows and fold them
    * ([[graft.streaming.Streams.runIncrementalTransitions]]). */
  def userTransitions(events: DataFrame, userCol: String, typeCol: String,
                      tsCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events.withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(userCol).as("user"), col(typeCol).as("from_type"),
        col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cohort retention: users bucketed by their FIRST-event day, then
    * per (cohort, week offset) distinct active users. Day-level
    * truncation + integer-day difference floor-divided to weeks keeps
    * the bucketing free of engine week-start conventions — every
    * quantity is an exact date/integer.
    *
    * Scale shape: one grouped MIN for the cohort assignment, one
    * distinct on (user, day) — both shuffles keyed on the user — then
    * a broadcast-friendly join back and one grouped COUNT DISTINCT on
    * ≤ cohorts × offsets keys. */
  def retention(events: DataFrame, userCol: String,
                tsCol: String): DataFrame = {
    val active = events.select(col(userCol).as("user"),
      to_date(col(tsCol)).as("day")).distinct()
    val cohorts = active.groupBy("user").agg(min("day").as("cohort"))
    active.join(cohorts, Seq("user"))
      .groupBy(col("cohort"),
        (datediff(col("day"), col("cohort")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct("user").as("users"))
  }

  /** Top-k entry paths: each user's first `maxLen` events (by ts, tie
    * broken by `tieCol`) joined into a `>`-separated path string,
    * counted across users — the "how do people start" readout. One
    * window + two grouped aggregations; the per-user path rides a
    * sorted collect bounded by `maxLen` (never the full history). */
  def topPaths(events: DataFrame, userCol: String, typeCol: String,
               tsCol: String, tieCol: String, maxLen: Int,
               topK: Int): DataFrame = {
    require(maxLen >= 1 && topK >= 1, s"bad maxLen/topK: $maxLen/$topK")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val paths = events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLen)
      .groupBy(col(userCol))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("__rn").as("rn"),
          col(typeCol).as("t")))), _.getField("t"))).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(topK)
  }

  /** MATCH_RECOGNIZE-lite: classify sessions by regex motifs over their
    * ordered event-initial strings. Each session (the [[Sessionize]]
    * gap-based `session_seq`) becomes a compact path like `"vvcp"`
    * (first `maxLen` events by ts/tie — the cap bounds per-session
    * state exactly like [[topPaths]]), and every supplied
    * (name, regex) motif is counted with a conditional sum in ONE final
    * aggregation — not one job per motif. A session may match several
    * motifs; `share` = sessions-matching / total-sessions, a single
    * division of exact counts.
    *
    * Portability: keep motifs inside the RE2-compatible subset
    * (literals, classes, anchors, `+ * ? |`) — Spark's `rlike` is
    * java.util.regex and DuckDB's REGEXP_MATCHES is RE2; they agree
    * exactly on that subset but not on backreferences/lookaround. */
  def sessionMotifs(sessions: DataFrame, userCol: String, sessCol: String,
                    typeCol: String, tsCol: String, tieCol: String,
                    motifs: Seq[(String, String)],
                    maxLen: Int = 50): DataFrame = {
    require(motifs.nonEmpty, "sessionMotifs: need at least one motif")
    val w = Window.partitionBy(col(userCol), col(sessCol))
      .orderBy(col(tsCol), col(tieCol))
    val paths = sessions
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLen)
      .groupBy(col(userCol), col(sessCol))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("__rn").as("rn"),
          substring(col(typeCol), 1, 1).as("c")))),
        _.getField("c"))).as("path"))
    val aggs = count(lit(1)).as("total") +:
      motifs.map { case (name, re) =>
        sum(when(col("path").rlike(re), 1L).otherwise(0L)).as(s"__m_$name")
      }
    val one = paths.agg(aggs.head, aggs.tail: _*)
    val entries = motifs.map { case (name, _) =>
      struct(lit(name).as("motif"),
        col(s"__m_$name").cast("long").as("sessions"))
    }
    one.select(col("total"), explode(array(entries: _*)).as("e"))
      .select(col("e.motif").as("motif"), col("e.sessions").as("sessions"),
        col("total").cast("long").as("total"),
        (col("e.sessions").cast("double") / col("total")).as("share"))
  }

  /** Cohort LTV curve — cumulative value per user by signup cohort:
    * cohort = the user's first-activity epoch-week, and for each
    * (cohort, week offset) the cohort's size, that week's value, the
    * running cumulative value, and cumulative value PER USER (the LTV
    * readout marketing actually plots). Two grouped aggs (user firsts,
    * then (cohort, offset) cells) + one running INTEGER window over
    * the cohort×offset summary — weeks² cells, never event-scale.
    * Value must be integral (fixed-point first); cum sums stay exact;
    * ltv is ONE division. Offsets with zero activity emit no row
    * (sparse curve — densify against [[retention]] if needed). */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
                value: Column): DataFrame = {
    val week = call_function("div", unix_micros(col(tsCol)),
      lit(604800000000L))
    val tagged = events.select(col(userCol).as("__u"), week.as("__w"),
      value.cast("long").as("__v"))
    // firsts-aggregation + broadcast join-back, NOT a per-user window:
    // the groupBy(min) COMBINES map-side down to user cardinality
    // before its shuffle, while a window must shuffle AND sort every
    // event row. A/B at 10M events (MergeBench, interleaved min-of-2):
    // window form 1.79 s vs 1.19 s warm, 34.3 vs 5.7 s on the cold
    // single-shot — the window rewrite was measured and REJECTED.
    // firsts is cut once (cache: user-cardinality, row-scale at
    // 100 TB) so its two consumers (sizes + the cohort join) do not
    // re-plan the events scan — 2 scans total, both through map-side
    // combine.
    val firsts = tagged.groupBy("__u").agg(min("__w").as("cohort_week"))
      .transform(Cut.rows)
    val sizes = firsts.groupBy("cohort_week")
      .agg(count(lit(1)).as("users"))
    val g = tagged.join(firsts, "__u")
      .groupBy(col("cohort_week"),
        (col("__w") - col("cohort_week")).as("week_offset"))
      .agg(sum("__v").as("revenue"))
    val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(sizes, "cohort_week")
      .withColumn("cum_revenue", sum("revenue").over(wCum))
      .select(col("cohort_week"), col("week_offset"),
        col("users").cast("long").as("users"),
        col("revenue").cast("long").as("revenue"),
        col("cum_revenue").cast("long").as("cum_revenue"),
        (col("cum_revenue").cast("double") / col("users"))
          .as("cum_ltv_per_user"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the standard
    * 40/20/40 credit model between last-touch (q180) and full Shapley:
    * for each conversion, the same user's touchpoints within
    * `lookback` before it earn first = 0.4, last = 0.4, middles
    * 0.2/(n−2); a lone touch takes 1.0 and a pair splits 0.5/0.5.
    * Emits ROW-LEVEL credits (conversion, touch, position, credit) —
    * channel rollups are one grouped sum away and stay the caller's
    * policy.
    *
    * Scale shape: a per-user TIME-BOUNDED join (the q18/ST9 interval
    * discipline — `lookback` is the state bound; unbounded history
    * would be a per-user cross join) + one per-conversion window.
    * Credits are exact literals or ONE division (0.2/(n−2)).
    *
    * `maxPerUser` (the mannKendall `maxSeries` discipline, r12): the
    * lookback bounds STATE, not a hot user's event count — a bot user
    * with 100k events inside one window is conv×touch ≈ n²/4 pairs in
    * ONE join task (join parallelism is across users). The cap keeps
    * each user's `maxPerUser` conversions and touches of smallest
    * md5(user‖id‖ts) — a fixed deterministic subsample, so a capped
    * user's credits are the attribution of a random event subsample
    * (biased only for capped users, who are bot-shaped by
    * construction). Default disables the cap so fixture-scale oracles
    * replay uncapped semantics. */
  def positionCredits(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, convType: String,
      lookbackUs: Long, maxPerUser: Int = Int.MaxValue): DataFrame = {
    require(lookbackUs > 0, s"lookbackUs must be > 0")
    require(maxPerUser >= 1, s"maxPerUser must be >= 1, got $maxPerUser")
    def capped(df: DataFrame, id: String, ts: String): DataFrame =
      if (maxPerUser == Int.MaxValue) df
      else df.withColumn("__r", row_number().over(
          Window.partitionBy("__u").orderBy(
            md5(concat_ws("#", col("__u").cast("string"),
              col(id).cast("string"), col(ts).cast("string"))),
            col(ts), col(id))))
        .filter(col("__r") <= maxPerUser).drop("__r")
    val conv = capped(events.filter(col(typeCol) === convType)
      .select(col(userCol).as("__u"), col(idCol).as("conversion_id"),
        unix_micros(col(tsCol)).as("__cts")), "conversion_id", "__cts")
    val touch = capped(events.filter(col(typeCol) =!= convType)
      .select(col(userCol).as("__u"), col(idCol).as("touch_id"),
        col(typeCol).as("touch_type"), unix_micros(col(tsCol)).as("__tts")),
      "touch_id", "__tts")
    val joined = conv.join(touch,
      conv("__u") === touch("__u") &&
        col("__tts") < col("__cts") &&
        col("__tts") >= col("__cts") - lit(lookbackUs))
    val w = Window.partitionBy("conversion_id")
      .orderBy(col("__tts"), col("touch_id"))
    val sized = joined
      .withColumn("position", row_number().over(w).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(
        Window.partitionBy("conversion_id")).cast("long"))
    sized.select(col("conversion_id"), col("touch_id"), col("touch_type"),
      col("position"), col("n_touches"),
      when(col("n_touches") === 1, lit(1.0))
        .when(col("n_touches") === 2, lit(0.5))
        .when(col("position") === 1 || col("position") === col("n_touches"),
          lit(0.4))
        .otherwise(lit(0.2) / (col("n_touches") - 2)).as("credit"))
  }
}
