package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EtlSession
import graft.ops.{Funnel, Merge}
import graft.tools.BenchKit.{abBench, h}

/** Warehouse-maintenance family at volume — the round-10 rewrites
  * (scd2Apply's one-generator emit, upsert's latest-cut, cohortLtv's
  * single-window cohorting) priced beyond fixture scale, each against
  * an inlined A/B arm replaying the pre-r10 formulation. Deterministic
  * splitmix64 inputs (the StatsBench discipline); prints ONE JSON line.
  *
  *   java -cp ... graft.tools.MergeBench     # MERGE_ROWS=10000000 default
  */
object MergeBench {

  def main(args: Array[String]): Unit = {
    val nRows = sys.env.getOrElse("MERGE_ROWS", "10000000").toLong
    val spark = EtlSession.create("local[32]", 32, "graft-merge-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // --- SCD2: nRows-key open dimension + 20% closed history rows;
    // 1M-row update batch over 500k keys (~2 versions each: exercises
    // latest-wins), half the touched existing keys actually changed ---
    val nUpd = math.min(math.max(nRows / 10, 100000L), 1000000L)
    val updKeys = nUpd / 2
    val current = spark.range(nRows + nRows / 5).map { i =>
      (if (i < nRows) // open row per key
        (i, 1000000L + java.lang.Math.floorMod(h(i, 1L), 1000000L),
          Option.empty[Long],
          java.lang.Math.floorMod(h(i, 2L), 1000L),
          java.lang.Math.floorMod(h(i, 3L), 1000L))
      else { // closed history row for a prefix of keys
        val k = i - nRows
        (k, java.lang.Math.floorMod(h(i, 4L), 1000000L),
          Some(1000000L + java.lang.Math.floorMod(h(k, 1L), 1000000L)),
          java.lang.Math.floorMod(h(i, 5L), 1000L),
          java.lang.Math.floorMod(h(i, 6L), 1000L))
      }): (Long, Long, Option[Long], Long, Long)
    }.toDF("k", "valid_from", "valid_to", "a", "b")
    // land the fixtures as PARQUET and read them back per arm: cached
    // inputs would zero out the old forms' extra scans, which at 100 TB
    // are full table reads — the exact cost the A/B exists to model
    val base = "/tmp/graft_mergebench"
    current.repartition(32).write.mode("overwrite")
      .parquet(s"$base/dim.parquet")
    def dim = spark.read.parquet(s"$base/dim.parquet")
    val updates = spark.range(nUpd).map { i =>
      val k0 = java.lang.Math.floorMod(h(i, 7L), updKeys)
      // half the batch targets existing keys, half brand-new keys
      val k = if (k0 % 2 == 0) k0 else nRows + k0
      val ts = 3000000L + java.lang.Math.floorMod(h(i, 8L), 1000000L)
      // for half the EXISTING touched keys, replay the current attrs
      // (unchanged -> kept-open path); otherwise new values
      val unchanged = k0 % 4 == 0
      val a = if (unchanged) java.lang.Math.floorMod(h(k, 2L), 1000L)
        else java.lang.Math.floorMod(h(i, 9L), 1000L)
      val b = if (unchanged) java.lang.Math.floorMod(h(k, 3L), 1000L)
        else java.lang.Math.floorMod(h(i, 10L), 1000L)
      (k, ts, a, b)
    }.toDF("k", "ts", "a", "b")
    updates.repartition(32).write.mode("overwrite")
      .parquet(s"$base/upd.parquet")
    def upd = spark.read.parquet(s"$base/upd.parquet")

    // A/B arm: the pre-r10 three-filtered-branch emit — Catalyst does
    // not dedupe common subplans, so the full-outer join (and the
    // dimension scan under it) re-plans once per branch.
    val (scd2Rows, scd2Sec, scd2OldRows, scd2OldSec) = abBench({
      Merge.scd2Apply(dim, upd, "k", "ts", Seq("a", "b")).count()
    }, {
      val w = Window.partitionBy("k").orderBy(col("ts").desc)
      val latest = upd
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk")
        .select(col("k"), col("ts").as("__uts"),
          col("a").as("__u_a"), col("b").as("__u_b"))
      val history = dim.filter(col("valid_to").isNotNull)
      val open = dim.filter(col("valid_to").isNull)
      val joined = open.join(latest, Seq("k"), "full_outer")
      val changed = struct(col("a"), col("b")) =!=
        struct(col("__u_a"), col("__u_b"))
      val hasOpen = col("valid_from").isNotNull
      val hasUpd = col("__uts").isNotNull
      val keptOpen = joined.filter(hasOpen && (!hasUpd || !changed))
        .select(open.columns.map(col): _*)
      val closed = joined.filter(hasOpen && hasUpd && changed)
        .select(open.columns.map {
          case "valid_to" => col("__uts").as("valid_to")
          case c          => col(c)
        }: _*)
      val opened = joined.filter(hasUpd && (!hasOpen || changed))
        .select(open.columns.map {
          case "valid_from" => col("__uts").as("valid_from")
          case "valid_to" => lit(null).cast(
            open.schema("valid_to").dataType).as("valid_to")
          case c if Seq("a", "b").contains(c) => col(s"__u_$c").as(c)
          case c => col(c)
        }: _*)
      history.unionByName(keptOpen).unionByName(closed)
        .unionByName(opened).count()
    })

    // --- upsert: same dimension/update frames keyed latest-wins ---
    def target = dim.filter(col("valid_to").isNull)
      .select(col("k"), col("valid_from").as("ver"), col("a"), col("b"))
    def ups = upd.select(col("k"), col("ts").as("ver"),
      col("a"), col("b"))
    // A/B arm: no cut on latest — the ranking window + its shuffle
    // re-plan under both the anti-join's key set and the union.
    val (upsRows, upsSec, upsOldRows, upsOldSec) = abBench({
      Merge.upsert(target, ups, "k", "ver").count()
    }, {
      val w = Window.partitionBy("k").orderBy(col("ver").desc)
      val latest = ups.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk")
      target.join(latest.select("k"), Seq("k"), "left_anti")
        .unionByName(latest).count()
    })

    // --- cohortLtv: 10M events, ~100k users over ~20 weeks ---
    val nUsers = math.max(nRows / 100, 1000L)
    val events = spark.range(nRows).map { i =>
      val u = java.lang.Math.floorMod(h(i, 11L), nUsers)
      val wk = java.lang.Math.floorMod(h(i, 12L), 20L)
      val micros = wk * 604800000000L +
        java.lang.Math.floorMod(h(i, 13L), 604800000000L)
      (u, micros, java.lang.Math.floorMod(h(i, 14L), 100L))
    }.toDF("u", "micros", "v")
      .select(col("u"), timestamp_micros(col("micros")).as("ts"), col("v"))
    events.repartition(32).write.mode("overwrite")
      .parquet(s"$base/events.parquet")
    def ev = spark.read.parquet(s"$base/events.parquet")
    // A/B arm: the REJECTED per-user-window cohorting ("one scan, one
    // shuffle") — the window must shuffle AND sort every event row,
    // where the production firsts-aggregation combines map-side down
    // to user cardinality.
    val (ltvRows, ltvSec, ltvOldRows, ltvOldSec) = abBench({
      Funnel.cohortLtv(ev, "u", "ts", col("v")).count()
    }, {
      val week = call_function("div", unix_micros(col("ts")),
        lit(604800000000L))
      val tagged = ev.select(col("u").as("__u"), week.as("__w"),
        col("v").cast("long").as("__v"))
      val wU = Window.partitionBy("__u")
      val t2 = tagged
        .withColumn("cohort_week", min("__w").over(wU))
        .withColumn("__rn", row_number().over(wU.orderBy("__w")))
      val g = t2
        .groupBy(col("cohort_week"),
          (col("__w") - col("cohort_week")).as("week_offset"))
        .agg(sum("__v").as("revenue"),
          sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("__nf"))
        .localCheckpoint(false)
      val sizes = g.filter(col("week_offset") === 0)
        .select(col("cohort_week"), col("__nf").as("users"))
      val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.join(sizes, "cohort_week")
        .withColumn("cum_revenue", sum("revenue").over(wCum)).count()
    })

    println(s"""{"bench":"merge","rows":$nRows,"upd":$nUpd,""" +
      s""""scd2_sec":${f"$scd2Sec%.2f"},"scd2_rows":$scd2Rows,""" +
      s""""scd2_threebranch_sec":${f"$scd2OldSec%.2f"},""" +
      s""""scd2_threebranch_rows":$scd2OldRows,""" +
      s""""upsert_sec":${f"$upsSec%.2f"},"upsert_rows":$upsRows,""" +
      s""""upsert_uncut_sec":${f"$upsOldSec%.2f"},""" +
      s""""upsert_uncut_rows":$upsOldRows,""" +
      s""""cohort_ltv_sec":${f"$ltvSec%.2f"},"cohort_ltv_rows":$ltvRows,""" +
      s""""cohort_ltv_userwindow_sec":${f"$ltvOldSec%.2f"},""" +
      s""""cohort_ltv_userwindow_rows":$ltvOldRows}""")
    spark.stop()
  }
}
