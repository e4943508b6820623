package graft.tools

import org.apache.spark.sql.functions._

import graft.EtlSession
import graft.ops.{Association, Cut, Resample, Stats}
import graft.tools.BenchKit.{h, time}

/** Stats-tier benchmark at a volume the fixtures cannot reach: the
  * q232–q282 family is fixture-priced (sf0.1 ≈ 600k lineitem rows), so
  * a plan that silently degenerates at 100× would never show in
  * BENCH_r{N}.json. Synthesizes DETERMINISTIC inputs (splitmix64 over
  * `spark.range` — no RNG state, identical on every run/partitioning,
  * the AnnBench/GraphBench discipline) and times the three heaviest
  * round-9 stats shapes end to end:
  *
  *  - q236 item-item cosine co-occurrence (`STATS_ROWS` interactions,
  *    default 10M, Zipf-ish items) PLUS one planted 25,000-item bot
  *    user — timed capped (maxBasket=64) and uncapped. The bot is the
  *    real 100-TB hazard shape: its C(25k,2) ≈ 312M pairs all come out
  *    of ONE join key, i.e. ONE task — an irreducible straggler AQE
  *    cannot split — so the uncapped time measures the straggler, not
  *    just volume, and the cap's value is a number, not a comment.
  *  - q243 trimmed mean post-de-window: 10M rows into THREE groups —
  *    the low-cardinality hazard that would funnel the whole table
  *    through 3 sort-window partitions in the row-ranked formulation;
  *    the distinct-value rewrite aggregates first (~30k distinct
  *    values), windows over the small table only.
  *  - q264 classical seasonal decomposition: 10M timestamped events
  *    over ~2,000 days — the row→day aggregation dominates; the
  *    decomposition windows run on the 2,000-row day table.
  *  - q205/q207 hot-key arm (r11): ONE planted `STATS_HOT`-event key
  *    (default 100k) under the trend stats, broadcast disabled so the
  *    shuffle-join single-task shape is what's priced — capped
  *    (maxSeries=256) vs uncapped mannKendall, capped theilSen.
  *
  * Measurement protocol (r11): every arm is timed through `force`
  * (noop sink), NEVER `.count()` — count() let Catalyst prune the
  * aggregate expressions and eliminate whole join branches, so the
  * v11 mk/trimmed-style count-timed numbers UNDER-measured (the
  * hot-key uncapped read 0.95 s under count vs 164 s real). v11
  * numbers remain valid only where the consumer forced the work
  * (cooccur rank-filter, row-window A/B filters). `STATS_ARMS`
  * restricts arms; skipped arms print -1.
  *
  * Prints ONE JSON line; numbers recorded in BASELINE.md §v11/§v12.
  */
object StatsBench {

  /** Full evaluation through the noop sink — the Bench discipline.
    * NEVER time `.count()` on a multi-branch stats output: Catalyst
    * prunes unreferenced aggregate expressions and can eliminate a
    * unique-key left-join branch entirely under count, so the timed
    * plan skips the very work the arm exists to price (caught r11:
    * the hot-key MK arm read 0.95 s under count() vs 161 s real). */
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val nRows = sys.env.getOrElse("STATS_ROWS", "10000000").toLong
    val spark = EtlSession.create("local[32]", 32, "graft-stats-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // STATS_ARMS=hot (comma list of cooccur|trimmed|mk|hot|bf|decompose)
    // restricts to named arms for local iteration — skipped arms print
    // -1 so a partial artifact can never masquerade as a full run.
    val armFilter = sys.env.get("STATS_ARMS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def armOn(n: String): Boolean = armFilter.forall(_.contains(n))

    // --- q236 shape: (user, item) interactions, heavy-headed items ---
    // The GraphBench hub mixture: 80% of interactions uniform over the
    // item space, 20% concentrated on 100 hot items — each hot item
    // draws ~200× the mean item frequency, the head shape real
    // co-purchase data has. (The previous sqrt-of-uniform draw was
    // mislabelled Zipf-ish: its density RISES linearly toward LARGE
    // ids with a max/mean ratio of only ~2 — no head at all.)
    val nUsers = math.max(nRows / 10, 1000L)
    val nItems = 100000L
    val (nInter, coCap, coCapSec, coRaw, coRawSec) =
      if (!armOn("cooccur")) (-1L, -1L, -1.0, -1L, -1.0)
      else {
        val organic = spark.range(nRows).map { i =>
          val u = java.lang.Math.floorMod(h(i, 1L), nUsers)
          val item =
            if (java.lang.Math.floorMod(h(i, 2L), 5L) == 0L)
              java.lang.Math.floorMod(h(i, 9L), 100L)
            else java.lang.Math.floorMod(h(i, 10L), nItems)
          (u, item)
        }
        // ONE bot user with 25,000 distinct items: C(25k,2) ≈ 312M
        // self-join pairs from a single join key (single-task
        // straggler) uncapped; C(64,2) ≈ 2k capped.
        val bots = spark.range(25000L).map { i =>
          (nUsers, java.lang.Math.floorMod(h(i, 3L), nItems))
        }
        val inter = organic.union(bots).toDF("user_id", "item")
          .repartition(32).transform(Cut.rows)
        val n = inter.count()
        val oCap = Association.itemItemCosine(inter, "user_id", "item",
          k = 10, minCo = 2L, maxBasket = 64)
        val (_, as) = time { force(oCap) }
        val a = oCap.count()
        val oRaw = Association.itemItemCosine(inter, "user_id", "item",
          k = 10, minCo = 2L)
        val (_, bs) = time { force(oRaw) }
        val b = oRaw.count()
        Cut.release(inter)
        (n, a, as, b, bs)
      }

    // --- q243 shape: 3 groups, heavy-tailed integral values ---
    // (frame shared by the trimmed and bf arms)
    lazy val grouped = {
      val g = spark.range(nRows).map { i =>
        val gk = java.lang.Math.floorMod(h(i, 4L), 3L)
        val v = java.lang.Math.floorMod(h(i, 5L), 30000L)
        (gk, v * v / 30000L) // quadratic stretch: right-skewed tail
      }.toDF("g", "x").repartition(32).transform(Cut.rows)
      g.count(); g
    }
    val (tmRows, tmSec, tmOldRows, tmOldSec) =
      if (!armOn("trimmed")) (-1L, -1.0, -1L, -1.0)
      else {
        val o = Stats.trimmedMean(grouped, "g", col("x"), alpha = 0.1)
        val (_, sec) = time { force(o) }
        // A/B: the pre-r10 row-ranked formulation (row_number window
        // partitioned by the 3-value key — the whole table through 3
        // sort tasks), inlined so the de-window win stays measured.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("x"))
        val old = grouped.withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("g")))
          .filter(col("__rn") > floor(col("__n") * 0.1).cast("long") &&
            col("__rn") <= col("__n") - floor(col("__n") * 0.1).cast("long"))
          .groupBy("g").agg(count(lit(1)).as("n_kept"),
            (sum(col("x").cast("decimal(38,0)")).cast("double") /
              count(lit(1))).as("m"))
        val (_, oldSec) = time { force(old) }
        (o.count(), sec, old.count(), oldSec)
      }

    // --- q205 shape: per-key bounded series, Mann–Kendall ---
    // 1/10th the row budget, self-join form at n≈100 and n≈400.
    // HISTORY: pre-r11 this arm also ran the REJECTED r10 in-row
    // rewrite (collect each series, fold the n² sign comparisons in a
    // projection) as an A/B — but its recorded 0.6–1.0 s numbers were
    // count()-PRUNED (Catalyst dropped the unreferenced fold
    // expression, see `force`), i.e. the arm never measured the fold
    // at all. Forced, the fold is O(n³) slice copies per key and does
    // not finish at n≈400 in bench time — consistent with the REAL
    // in-row evidence that stands: 54 s (q205) / 347 s (q207) vs
    // 1.1/3.5 s self-join in the full-corpus session (r10), plus the
    // session-wide code-cache thrash. The arm is removed, not
    // re-measured.
    val mkRows = math.max(nRows / 10, 100000L)
    def mkSeries(keys: Long) = {
      val df = spark.range(mkRows).map { i =>
        val k = java.lang.Math.floorMod(h(i, 11L), keys)
        (k, i, i, java.lang.Math.floorMod(h(i, 12L), 64L))
      }.toDF("k", "ts", "o", "x").repartition(32).transform(Cut.rows)
      df.count(); df
    }
    val (mkKeysOut, mkSec, mkKeys400, mkSec400) =
      if (!armOn("mk")) (-1L, -1.0, -1L, -1.0)
      else {
        val s100 = mkSeries(math.max(mkRows / 100, 100L)) // ~100/key
        val o100 = Stats.mannKendall(s100, "k", "ts", col("x"), "o")
        val (_, as) = time { force(o100) }
        val a = o100.count()
        Cut.release(s100)
        val s400 = mkSeries(math.max(mkRows / 400, 50L)) // ~400/key
        val o400 = Stats.mannKendall(s400, "k", "ts", col("x"), "o")
        val (_, cs) = time { force(o400) }
        val c = o400.count()
        Cut.release(s400)
        (a, as, c, cs)
      }

    // --- q205/q207 hot-key arm: ONE planted bot key (STATS_HOT events,
    // default 100k) on top of ~100-event organic keys — the q236
    // bot-user shape transplanted to trend stats. Uncapped, the hot
    // key's C(n,2) ≈ 5×10⁹ sign evaluations all come out of ONE join
    // key = ONE task (AQE cannot split a key); capped (maxSeries=256,
    // C(256,2) ≈ 33k pairs) the key costs the same as 2.5 organic
    // keys. theilSen runs CAPPED ONLY: its exact percentile would
    // buffer the uncapped key's 5×10⁹ slope doubles (~40 GB) in ONE
    // aggregation buffer — the arm would measure an OOM, not a time.
    val hotN = sys.env.getOrElse("STATS_HOT", "100000").toLong
    val (mkHotCapKeys, mkHotCapSec, tsHotCapKeys, tsHotCapSec,
         mkHotRawKeys, mkHotRawSec) =
      if (!armOn("hot")) (-1L, -1.0, -1L, -1.0, -1L, -1.0)
      else {
        val hotOrganic = spark.range(mkRows / 10).map { i =>
          val t: Long = i
          val k = java.lang.Math.floorMod(h(i, 13L), mkRows / 1000)
          (k, t, t, java.lang.Math.floorMod(h(i, 14L), 64L))
        }
        val hotBot = spark.range(hotN).map { i =>
          (mkRows, mkRows + i, mkRows + i,
            java.lang.Math.floorMod(h(i, 15L), 64L))
        }
        val sHot = hotOrganic.union(hotBot).toDF("k", "ts", "o", "x")
          .repartition(32).transform(Cut.rows)
        sHot.count()
        // Disable broadcast for this arm: at fixture scale the 1.1M-row
        // build side fits a broadcast and AQE converts the self-join to
        // BHJ, spreading the hot key's pairs across the STREAM side's 32
        // partitions (measured: uncapped 0.95 s — the hazard vanishes).
        // At 100 TB the build side cannot broadcast; the shuffle join
        // puts all of one key's pairs in ONE task, which is the shape
        // this arm prices.
        val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        val oCap = Stats.mannKendall(sHot, "k", "ts", col("x"), "o",
          maxSeries = 256)
        val (_, as) = time { force(oCap) }
        val a = oCap.count()
        val oTs = Stats.theilSen(sHot.withColumn("tss",
            timestamp_micros(col("ts") * lit(1000000L))),
          "k", "tss", col("x"), maxSeries = 256)
        val (_, bs) = time { force(oTs) }
        val b = oTs.count()
        val oRaw = Stats.mannKendall(sHot, "k", "ts", col("x"), "o")
        val (_, cs) = time { force(oRaw) }
        val c = oRaw.count()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        Cut.release(sHot)
        (a, as, b, bs, c, cs)
      }

    // --- q234 shape: Brown–Forsythe over the q243 fixture ---
    // same 3-group/10M frame; the A/B arm is the pre-r10 row-ranked
    // median (row_number window on the 3-value key → whole table
    // through 3 sort tasks), vs the distinct-value prefix form.
    val (bfRows, bfSec, bfOldRows, bfOldSec) =
      if (!armOn("bf")) (-1L, -1.0, -1L, -1.0)
      else {
        val o = Stats.brownForsythe(grouped, "g", col("x"))
        val (_, sec) = time { force(o) }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("x"))
        val ranked = grouped.withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("g")))
        val lo = call_function("div", col("__n") + 1, lit(2L))
        val hi = call_function("div", col("__n"), lit(2L)) + 1
        val med2 = ranked.filter(col("__rn") === lo || col("__rn") === hi)
          .groupBy("g").agg(sum("x").as("__sm"), count(lit(1)).as("__cm"))
          .select(col("g"), when(col("__cm") === 1, col("__sm") * 2)
            .otherwise(col("__sm")).as("__med2"))
        val old = grouped.join(med2, "g")
          .select(col("g"), abs(col("x") * 2 - col("__med2")).as("__z"))
          .groupBy("g").agg(count(lit(1)).as("n"),
            sum(col("__z").cast("decimal(38,0)")).as("s"))
        val (_, oldSec) = time { force(old) }
        (o.count(), sec, old.count(), oldSec)
      }

    // --- q264 shape: 10M events over ~2,000 days ---
    val (dcRows, dcSec) =
      if (!armOn("decompose")) (-1L, -1.0)
      else {
        val events = spark.range(nRows).map { i =>
          val day = java.lang.Math.floorMod(h(i, 6L), 2000L)
          val us = day * 86400000000L +
            java.lang.Math.floorMod(h(i, 7L), 86400000000L)
          (us, java.lang.Math.floorMod(h(i, 8L), 10000L))
        }.toDF("us", "v")
          .select(timestamp_micros(col("us")).as("ts"), col("v"))
          .repartition(32).transform(Cut.rows)
        events.count()
        val o = Resample.classicalDecompose(events, "ts", col("v"),
          period = 7)
        val (_, sec) = time { force(o) }
        val r = (o.count(), sec)
        Cut.release(events)
        r
      }

    // --- distributed doubled-rank prefix arm (r14 — ADVICE r13) ---
    // Worst-case rank cardinality: |V| = row count (every value
    // distinct, the Wilcoxon-|d| / near-continuous-axis shape the
    // fixtures cannot price). A/B: the full spearman operator (TWO
    // rank derivations through the new two-level distributed prefix,
    // plus the rank join and the moment agg) vs ONE axis of the
    // replaced machinery — a single global ordered window over the
    // distinct-value table, inlined here because the old shape no
    // longer exists in Stats. Interleaved min-of-2 per arm so a
    // throttle segment penalizes both equally.
    val (rankRows, spearDistSec, rankOldSec) =
      if (!armOn("ranks")) (-1L, -1.0, -1.0)
      else {
        import org.apache.spark.sql.expressions.Window
        val d = spark.range(nRows)
          .map(i => (h(i, 11L), h(i, 12L))).toDF("x", "y")
          .repartition(32).transform(Cut.rows)
        val n = d.count()
        def newArm(): Double =
          time { force(Stats.spearman(d, col("x"), col("y"))) }._2
        def oldArm(): Double = {
          val byV = d.groupBy(col("x").as("__v"))
            .agg(count(lit(1)).as("__c"))
          val w = Window.orderBy(col("__v"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val ranks = byV
            .withColumn("__below", coalesce(sum("__c").over(w), lit(0L)))
            .select(col("__v"),
              (lit(2L) * col("__below") + col("__c") + 1).as("__dr"))
          time { force(ranks) }._2
        }
        val a1 = newArm(); val b1 = oldArm()
        val a2 = newArm(); val b2 = oldArm()
        Cut.release(d)
        (n, math.min(a1, a2), math.min(b1, b2))
      }

    println(
      s"""{"bench":"stats","rows":$nInter,""" +
      s""""cooccur_capped_sec":${f"$coCapSec%.2f"},"cooccur_capped_rows":$coCap,""" +
      s""""cooccur_uncapped_sec":${f"$coRawSec%.2f"},"cooccur_uncapped_rows":$coRaw,""" +
      s""""trimmed_mean_sec":${f"$tmSec%.2f"},"trimmed_mean_groups":$tmRows,""" +
      s""""trimmed_mean_rowwindow_sec":${f"$tmOldSec%.2f"},""" +
      s""""trimmed_mean_rowwindow_groups":$tmOldRows,""" +
      s""""mann_kendall_rows":$mkRows,""" +
      s""""mk_n100_selfjoin_sec":${f"$mkSec%.2f"},"mk_n100_keys":$mkKeysOut,""" +
      s""""mk_n400_selfjoin_sec":${f"$mkSec400%.2f"},"mk_n400_keys":$mkKeys400,""" +
      s""""hot_key_events":$hotN,""" +
      s""""mk_hot_capped_sec":${f"$mkHotCapSec%.2f"},""" +
      s""""mk_hot_capped_keys":$mkHotCapKeys,""" +
      s""""mk_hot_uncapped_sec":${f"$mkHotRawSec%.2f"},""" +
      s""""mk_hot_uncapped_keys":$mkHotRawKeys,""" +
      s""""theilsen_hot_capped_sec":${f"$tsHotCapSec%.2f"},""" +
      s""""theilsen_hot_capped_keys":$tsHotCapKeys,""" +
      s""""brown_forsythe_sec":${f"$bfSec%.2f"},"brown_forsythe_rows":$bfRows,""" +
      s""""brown_forsythe_rowwindow_sec":${f"$bfOldSec%.2f"},""" +
      s""""brown_forsythe_rowwindow_rows":$bfOldRows,""" +
      s""""decompose_sec":${f"$dcSec%.2f"},"decompose_days":$dcRows,""" +
      s""""rank_rows":$rankRows,""" +
      s""""spearman_dist_sec":${f"$spearDistSec%.2f"},""" +
      s""""rank_singlewindow_sec":${f"$rankOldSec%.2f"}}""")
    spark.stop()
  }
}
