package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

/** ST1–ST8 (SURVEY.md §2.8): every streaming operator replayed over the
  * events fixture (or a MemoryStream injection) must converge to the
  * identical result as the equivalent batch query — Spark's unified API
  * guarantee, which is the correctness oracle for the streaming surface. */
class StreamingSuite extends SparkTestBase {

  import spark.implicits._
  import StreamingSuite.CrashCase

  private lazy val batchEvents: DataFrame = {
    val df = Tables.events(spark, sf0001); df.cache(); df.count(); df
  }

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def memTable(name: String): DataFrame = spark.table(name)

  test("ST1+ST8: tumbling window agg — stream replay equals batch") {
    Streams.runToMemory(
      Streams.tumblingAgg(Streams.eventsStream(spark, sf0001)), "st1")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
    assert(rowsOf(memTable("st1")) == rowsOf(batch))
    assert(memTable("st1").count() > 0)
  }

  test("ST2: sliding window agg — stream replay equals batch") {
    Streams.runToMemory(
      Streams.slidingAgg(Streams.eventsStream(spark, sf0001)), "st2")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(rowsOf(memTable("st2")) == rowsOf(batch))
  }

  test("ST3: session window per user — stream replay equals batch") {
    Streams.runToMemory(
      Streams.sessionAgg(Streams.eventsStream(spark, sf0001)), "st3")
    val batch = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("ss"),
        col("user_id"), col("n"), col("sum_value"))
    assert(rowsOf(memTable("st3")) == rowsOf(batch))
  }

  test("ST4: streaming dedup drops injected duplicates") {
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    val base = (1L to 50L).map(i =>
      (i, Timestamp.valueOf(s"2024-01-01 10:${10 + (i % 40)}:00"), i * 1.0))
    val dups = base.take(20) // re-inject the first 20 event_ids
    input.addData(base ++ dups)
    val df = input.toDF().toDF("event_id", "ts", "value")
    Streams.runToMemory(Streams.dedup(df), "st4", OutputMode.Append())
    assert(memTable("st4").count() == 50)
    assert(memTable("st4").select("event_id").distinct().count() == 50)
  }

  test("ST4c: dropDuplicatesWithinWatermark dedups same-id records with DIFFERENT timestamps") {
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    val base = (1L to 30L).map(i =>
      (i, Timestamp.valueOf(s"2024-01-01 10:${10 + (i % 40)}:00"), i * 1.0))
    // a retried producer re-emits ids 1-10 with timestamps 2 minutes
    // later — same id, DIFFERENT ts: plain dropDuplicates("event_id","ts")
    // would keep both; within-watermark dedup must not
    val retries = base.take(10).map { case (id, ts, v) =>
      (id, new Timestamp(ts.getTime + 120000L), v) }
    input.addData(base ++ retries)
    val df = input.toDF().toDF("event_id", "ts", "value")
    Streams.runToMemory(Streams.dedupWithinWatermark(df), "st4c",
      OutputMode.Append())
    assert(memTable("st4c").count() == 30)
    assert(memTable("st4c").select("event_id").distinct().count() == 30)
  }

  test("ST5: flatMapGroupsWithState running stats equal batch aggregation") {
    Streams.runToMemory(
      Streams.userRunningStats(Streams.eventsStream(spark, sf0001))
        .toDF(), "st5", OutputMode.Append())
    // The fixture is one file => one micro-batch => exactly one emission
    // per user, which must equal the batch group-by.
    val got = memTable("st5")
      .groupBy("user_id").agg(max("n").as("n"), max("sum_value").as("s"))
    val batch = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n"), sum("value").as("s"))
    val g = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    val b = batch.collect().map(r =>
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    assert(g == b)
  }

  test("ST5b: transformWithState (RocksDB state store) equals batch aggregation") {
    Streams.runToMemory(
      Streams.userRunningStatsTws(Streams.eventsStream(spark, sf0001))
        .toDF(), "st5b", OutputMode.Append())
    val got = memTable("st5b")
      .groupBy("user_id").agg(max("n").as("n"), max("sum_value").as("s"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    val batch = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n"), sum("value").as("s"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    assert(got == batch)
  }

  test("ST23: streaming online CUSUM alarm equals the batch closed form") {
    // two time-ordered micro-batches per key (the incremental-op
    // arrival contract): split the fixture at its median timestamp
    val ev = batchEvents.select(col("user_id"), col("ts"),
      col("event_id"), floor(col("value") * 100).cast("long").as("x"))
    val cut = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect()(0).getDouble(0).toLong
    val root = Files.createTempDirectory("graft-cusum").toString
    ev.filter(unix_micros(col("ts")) <= cut)
      .coalesce(1).write.parquet(s"$root/src/f1")
    ev.filter(unix_micros(col("ts")) > cut)
      .coalesce(1).write.parquet(s"$root/src/f2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src/f*/*.parquet")
    val q = Streams.runCusumOnline(stream, "user_id", "ts", "event_id",
        "x", target = 4000L, slack = 500L, threshold = 20000L)
      .toDF()
    Streams.runToMemory(q, "st23", OutputMode.Append())
    val got = memTable("st23").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("ts_us"),
        r.getAs[Long]("id"), r.getAs[Long]("cusum_stat"))).toSet
    val want = graft.ops.Stats.cusumOnline(ev, "user_id", "ts",
        "event_id", col("x"), 4000L, 500L, 20000L)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("cusum_stat"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got.nonEmpty, "threshold too high: no alarms fired")
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("ST24: streaming space-saving heavy hitters keep their guarantees") {
    val m = 3
    val ev = batchEvents.select(col("user_id"), col("event_type"),
      col("event_id"))
    val cut = ev.agg(expr("percentile(event_id, 0.5)"))
      .collect()(0).getDouble(0).toLong
    val root = Files.createTempDirectory("graft-hh").toString
    ev.filter(col("event_id") <= cut).coalesce(1)
      .write.parquet(s"$root/src/f1")
    ev.filter(col("event_id") > cut).coalesce(1)
      .write.parquet(s"$root/src/f2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src/f*/*.parquet")
    Streams.runToMemory(
      Streams.runHeavyHitters(stream, "user_id", "event_type",
        "event_id", m).toDF(), "st24", OutputMode.Append())
    // latest emission per key = max n_processed
    val all = memTable("st24").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("item"),
        r.getAs[Long]("est"), r.getAs[Long]("err"),
        r.getAs[Long]("n_processed")))
    val latestN = all.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._5).max }
    val latest = all.filter(t => latestN(t._1) == t._5)
    val trueCounts = batchEvents.groupBy("user_id", "event_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val totals = trueCounts.groupBy(_._1._1).map { case (k, v) =>
      k -> v.values.sum }
    latest.foreach { case (k, item, est, err, n) =>
      val t = trueCounts.getOrElse((k, item), 0L)
      assert(t <= est && est - err <= t,
        s"key $k item $item: true $t not in [${est - err}, $est]")
      assert(n == totals(k), s"key $k processed $n vs ${totals(k)}")
    }
    // space-saving guarantee: any item with true freq > n/m is tracked
    val tracked = latest.map(t => (t._1, t._2)).toSet
    trueCounts.foreach { case ((k, item), c) =>
      if (c > totals(k) / m)
        assert(tracked.contains((k, item)),
          s"frequent item $item (freq $c > ${totals(k)}/$m) not tracked")
    }
  }

  test("ST9: stream-stream interval join — replay equals the batch join") {
    // Append-mode stream-stream join: a single file-source stream filtered
    // into two sides (a supported streaming self-join) with watermarks on
    // both and a time-bounded condition so join state is evictable.
    Streams.runToMemory(
      Streams.purchaseClickJoin(Streams.eventsStream(spark, sf0001)), "st9",
      OutputMode.Append())
    val p = batchEvents.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val c = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val batch = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("p_id"), col("c_id"),
        col("p_ts"), col("c_ts"), col("p_value"))
    assert(memTable("st9").count() > 0)
    assert(rowsOf(memTable("st9")) == rowsOf(batch))
  }

  test("ST9d: LEFT SEMI interval join equals batch semi join") {
    Streams.runToMemory(
      Streams.purchaseClickJoin(Streams.eventsStream(spark, sf0001),
        joinType = "left_semi"), "st9d", OutputMode.Append())
    val p = batchEvents.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val c = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"), "left_semi")
      .select(col("user_id"), col("p_id"), col("p_ts"), col("p_value"))
    assert(memTable("st9d").count() > 0)
    // semi emits each purchase at most once: never more rows than the
    // inner join (at this SF each match happens to be 1:1, so equality
    // is legitimate — the row-set check below carries the semantics)
    val innerCount = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts")).count()
    assert(memTable("st9d").count() <= innerCount)
    assert(rowsOf(memTable("st9d")) == rowsOf(batch))
  }

  test("ST9c: LEFT OUTER interval join emits unmatched purchases after watermark") {
    import spark.implicits._
    // MemoryStream so the watermark can be pushed past the data by
    // sentinels: outer-null rows only emit once the global watermark
    // clears the purchase's join window.
    val input = MemoryStream[(Long, Timestamp, String, Long, Double)](spark)
    val df = input.toDF()
      .toDF("user_id", "ts", "event_type", "event_id", "value")
    val q = Streams.purchaseClickJoin(df, watermark = "10 minutes",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("st9c")
      .outputMode(OutputMode.Append()).start()
    try {
      val data = Seq(
        (1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 100L, 5.0),
        (1L, Timestamp.valueOf("2024-01-01 11:30:00"), "click", 200L, 0.0),
        (2L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 101L, 7.0),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), "click", 201L, 0.0), // >1h before
        (3L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 102L, 9.0)) // no click
      input.addData(data)
      q.processAllAvailable()
      // sentinels on BOTH sides push both watermarks ~10h past the data;
      // neither can join backwards, and the sentinel purchase itself stays
      // unemitted (its own window never closes)
      input.addData(Seq(
        (9L, Timestamp.valueOf("2024-01-01 22:00:00"), "purchase", 900L, 0.0),
        (10L, Timestamp.valueOf("2024-01-01 22:00:00"), "click", 901L, 0.0)))
      q.processAllAvailable()
      val got = spark.table("st9c")
        .select(col("p_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // purchase 100 matched click 200; 101 and 102 emit with null click
      // (201 is outside the 1-hour bound); the sentinel purchase's own
      // window never closes, so it stays withheld in state
      assert(got == Set((100L, 200L), (101L, -1L), (102L, -1L)), s"got $got")
    } finally q.stop()
  }

  test("stream-static join: micro-batches join a broadcast dimension, equals batch") {
    import spark.implicits._
    // static dim: user tier lookup — broadcast into every micro-batch
    val dim = (0L until 50L).map(u => (u, if (u % 2 == 0) "even" else "odd"))
      .toDF("user_id", "tier")
    val joined = Streams.eventsStream(spark, sf0001)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy("tier").agg(count(lit(1)).as("n"))
    Streams.runToMemory(joined, "stst", OutputMode.Complete())
    val batch = batchEvents.join(dim, Seq("user_id"))
      .groupBy("tier").agg(count(lit(1)).as("n"))
    assert(rowsOf(memTable("stst")) == rowsOf(batch))
  }

  test("ST6: rows older than the watermark are dropped from append output") {
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val agg = input.toDF().toDF("event_id", "ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("st6")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: establish watermark at 12:00 - 10min = 11:50
      input.addData(Seq((1L, Timestamp.valueOf("2024-01-01 11:00:00"), "a"),
        (2L, Timestamp.valueOf("2024-01-01 12:00:00"), "a")))
      q.processAllAvailable()
      // batch 2: one on-time row, one late row (10:00 < watermark) → dropped
      input.addData(Seq((3L, Timestamp.valueOf("2024-01-01 12:30:00"), "a"),
        (4L, Timestamp.valueOf("2024-01-01 10:00:00"), "late")))
      q.processAllAvailable()
      // batch 3: advance watermark far enough to close all on-time windows
      input.addData(Seq((5L, Timestamp.valueOf("2024-01-01 14:00:00"), "a")))
      q.processAllAvailable()
    } finally q.stop()
    val out = memTable("st6").collect()
      .map(r => (r.getStruct(0).getTimestamp(0).toString, r.getString(1),
        r.getLong(2))).toSet
    // the late 10:00 row must not appear anywhere in the emitted windows
    assert(!out.exists(_._2 == "late"), out.toString)
    assert(out.exists { case (w, k, n) => w.startsWith("2024-01-01 11:00") && k == "a" && n == 1 })
    assert(out.exists { case (w, k, n) => w.startsWith("2024-01-01 12:00") && k == "a" && n == 1 })
  }

  test("streaming spec runner: declarative source→SQL→sink equals batch") {
    val spec = s"""{
      "name": "stream-feed-1",
      "source": {
        "view": "raw_stream", "format": "parquet",
        "path": "$sf0001/events*.parquet",
        "schemaFromParquet": "$sf0001/events.parquet"
      },
      "transforms": [
        {"view": "norm", "sql": "SELECT event_id, normalize_ts(ts) AS ts, user_id, event_type, value FROM raw_stream"},
        {"view": "hourly", "sql": "SELECT window(ts, '1 hour').start ws, event_type, COUNT(*) n FROM norm GROUP BY window(ts, '1 hour'), event_type"}],
      "sink": {"format": "memory", "outputMode": "complete",
               "queryName": "spec_out"},
      "trigger": "availableNow"
    }"""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.StreamingRunner.runJson(spark, spec)
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(rowsOf(memTable("spec_out")) == rowsOf(batch))
  }

  test("example streaming feed: watermarked agg to parquet file sink") {
    import scala.jdk.CollectionConverters._
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft-example-out/hourly_events"))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/examples/hourly_events_stream.json")),
      "UTF-8")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.StreamingRunner.runJson(spark, json)
    val out = spark.read.parquet("/tmp/graft-example-out/hourly_events/data")
    // append mode emits only watermark-closed windows: all but the stream's
    // final hour must be present
    val batchWindows = batchEvents
      .groupBy(window(col("ts"), "1 hour")).count().count()
    assert(out.count() > 0 && out.select("ws").distinct().count() >= batchWindows - 1)
  }

  test("a repeat run of a streaming feed compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // each run starts its query on a fresh cloned session; the second run
    // must still hit the codegen cache the first one filled
    def run(): Set[String] = {
      val sink = Files.createTempDirectory("graft-recompile").toString
      graft.streaming.StreamingRunner.runJson(spark, s"""{
        "name": "recompile-check",
        "source": {
          "view": "raw_stream", "format": "parquet",
          "path": "$sf0001/events*.parquet",
          "schemaFromParquet": "$sf0001/events.parquet"
        },
        "transforms": [
          {"view": "norm", "sql": "SELECT event_id, normalize_ts(ts) AS ts, event_type, value FROM raw_stream"},
          {"view": "hourly", "sql": "SELECT window(ts, '1 hour').start ws, event_type, COUNT(*) n, SUM(value) sum_value FROM norm GROUP BY window(ts, '1 hour'), event_type"}],
        "watermarks": [{"view": "norm", "column": "ts", "delay": "10 minutes"}],
        "sink": {"format": "parquet", "path": "$sink", "outputMode": "append"},
        "trigger": "availableNow"
      }""")
      rowsOf(spark.read.parquet(s"$sink/data"))
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val first = run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(again == 0, s"the repeat run compiled $again classes")
    assert(first.nonEmpty && second == first)
  }

  test("checkpoint restart is idempotent: re-running an AvailableNow query adds nothing") {
    val out = Files.createTempDirectory("graft-ckpt").toString
    def run(): Unit = Streams.runToFiles(
      Streams.eventsStream(spark, sf0001).filter(col("user_id") < 5), out)
    run()
    val n1 = spark.read.parquet(s"$out/data").count()
    run() // same checkpoint: source offsets already committed → no new data
    val n2 = spark.read.parquet(s"$out/data").count()
    assert(n1 == n2 && n1 > 0, s"$n1 vs $n2")
  }

  test("streaming drift monitor: per-batch PSI equals the batch operator") {
    import spark.implicits._
    val ref = (0 until 2000).map(i => (i.toLong, (i % 100).toDouble))
      .toDF("id", "value")
    val same = (0 until 1000).map(i => (i.toLong, (i % 100).toDouble))
      .toDF("id", "value")
    val shifted = (0 until 1000).map(i => (i.toLong, (i % 100) + 1000.0))
      .toDF("id", "value")
    val root = Files.createTempDirectory("graft-drift").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"
    same.coalesce(1).write.parquet(s"$srcDir/f1")
    shifted.coalesce(1).write.parquet(s"$srcDir/f2")
    val stream = spark.readStream.schema(ref.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runDriftMonitor(stream, ref, Seq("value"), outDir)
    // two batches, one psi row each; identify them by magnitude
    val psis = spark.read.parquet(s"$outDir/batch_*")
      .select("psi").as[Double].collect().sorted
    assert(psis.length == 2)
    assert(math.abs(psis.head) < 1e-9, s"same-distribution batch: $psis")
    assert(psis.last > 0.25, s"shifted batch must trip the gate: $psis")
    // values equal the batch operator exactly (order-insensitive)
    val batchVals = Set(
      graft.ops.Drift.psi(ref, same, Seq("value")).collect().head.getDouble(1),
      graft.ops.Drift.psi(ref, shifted, Seq("value")).collect().head.getDouble(1))
    assert(psis.toSet == batchVals)
  }

  test("ST27 streaming calibration monitor: per-batch HL chi2 + ECE " +
      "equal the batch operators") {
    import spark.implicits._
    // batch 1 perfectly calibrated (pos share == mean score per bin),
    // batch 2 systematically overconfident
    val good = (Seq.fill(2)((0.25, true)) ++ Seq.fill(6)((0.25, false)) ++
      Seq.fill(6)((0.75, true)) ++ Seq.fill(2)((0.75, false)))
      .map { case (s, y) => (s, y) }
    val bad = (Seq.fill(1)((0.85, true)) ++ Seq.fill(9)((0.85, false)))
    val root = Files.createTempDirectory("graft-calib").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"
    good.toDF("s", "y").coalesce(1).write.parquet(s"$srcDir/f1")
    bad.toDF("s", "y").coalesce(1).write.parquet(s"$srcDir/f2")
    val schema = good.toDF("s", "y").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runCalibrationMonitor(stream, "s", "y",
      bins = 4, lo = 0.0, hi = 1.0, outDir = outDir)
    val out = spark.read.parquet(s"$outDir/batch_*")
      .select("n", "chi2", "ece").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.size == 2)
    // per-batch rows equal the batch operators exactly
    for ((df, n) <- Seq((good, 16L), (bad, 10L))) {
      val b = df.toDF("s", "y")
      val hl = graft.ops.Stats.hosmerLemeshow(b, col("s"), col("y"),
        4, 0.0, 1.0).collect()(0).getAs[Double]("chi2")
      val ece = graft.ops.Stats.expectedCalibrationError(b, col("s"),
        col("y"), 4, 0.0, 1.0).collect()(0).getAs[Double]("ece")
      assert(out(n) == ((hl, ece)), s"batch n=$n: ${out(n)} vs ($hl, $ece)")
    }
    // the overconfident batch alarms; the exactly-calibrated one
    // (pos share == mean score per bin) reads 0 on both metrics
    assert(out(10L)._2 > 0.5 && out(16L) == ((0.0, 0.0)))
  }

  test("streaming incremental dedup: digest-store anti-join equals sequential batch, replay-safe") {
    import graft.ops.Dedup
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 100)       // standing corpus
    val a = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    val aDup = corpus.filter(col("doc_id") < 5)         // vs-corpus dups
      .withColumn("doc_id", col("doc_id") + 10000L)
    val b = docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)
    val bDupOfA = a.filter(col("doc_id") === 100)       // cross-BATCH dup
      .withColumn("doc_id", lit(20000L))
    val batchA = a.unionByName(aDup)
    val batchB = b.unionByName(bDupOfA)

    val root = Files.createTempDirectory("graft-incdedup").toString
    val srcDir = s"$root/src"; val digestDir = s"$root/digests"
    val outDir = s"$root/out"
    // seed the standing corpus digest set
    Dedup.contentDigests(corpus, "text")
      .write.parquet(s"$digestDir/batch_seed")
    // two source files → two micro-batches under maxFilesPerTrigger=1
    batchA.coalesce(1).write.parquet(s"$srcDir/f1")
    val stream0 = spark.readStream.schema(batchA.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalDedup(stream0, "doc_id", "text", digestDir, outDir)
    batchB.coalesce(1).write.parquet(s"$srcDir/f2")
    val stream1 = spark.readStream.schema(batchA.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalDedup(stream1, "doc_id", "text", digestDir, outDir)

    val got = spark.read.parquet(s"$outDir/batch_*")
      .select("doc_id").as[Long].collect().toSet
    // oracle: the same increments applied sequentially with the batch API
    val keptA = Dedup.incrementalExactDedup(batchA, "doc_id", "text",
      Dedup.contentDigests(corpus, "text"))
    val digests2 = Dedup.contentDigests(corpus, "text")
      .union(Dedup.contentDigests(keptA, "text")).distinct()
    val keptB = Dedup.incrementalExactDedup(batchB, "doc_id", "text", digests2)
    val want = (keptA.select("doc_id").as[Long].collect() ++
      keptB.select("doc_id").as[Long].collect()).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(!got.exists(_ >= 10000L)) // every injected dup dropped
    // restart idempotence: re-running with the same checkpoint adds nothing
    val stream2 = spark.readStream.schema(batchA.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalDedup(stream2, "doc_id", "text", digestDir, outDir)
    val after = spark.read.parquet(s"$outDir/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(after == got)
  }

  test("streaming incremental near-dedup: LSH tier over persisted signatures") {
    import graft.ops.Dedup
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 100)
    val root = Files.createTempDirectory("graft-incneardup").toString
    val srcDir = s"$root/src"; val sigDir = s"$root/sigs"; val out = s"$root/out"
    Dedup.minHashSignatures(corpus, "doc_id", "text")
      .write.parquet(s"$sigDir/batch_seed")
    // batch: fresh docs + exact copies of corpus docs (Jaccard 1.0) + one
    // within-batch copy — same construction the batch-API test pins down
    val fresh = docs.filter(col("doc_id") >= 100 && col("doc_id") < 140)
    val copies = corpus.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 10000L)
    val batchDup = fresh.filter(col("doc_id") === 100)
      .withColumn("doc_id", lit(20000L))
    val batch = fresh.unionByName(copies).unionByName(batchDup)
    batch.coalesce(1).write.parquet(s"$srcDir/f1")
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalNearDedup(stream, "doc_id", "text", sigDir, out)
    val keptIds = spark.read.parquet(s"$out/batch_*")
      .select("doc_id").as[Long].collect().toSet
    // oracle: the batch-API incremental call over the same seeded corpus
    val (wantKept, _) = Dedup.incrementalMinHashNearDup(
      batch, "doc_id", "text", spark.read.parquet(s"$sigDir/batch_seed"))
    val want = wantKept.select("doc_id").as[Long].collect().toSet
    assert(keptIds == want, s"missing=${want -- keptIds} extra=${keptIds -- want}")
    assert((10000L to 10004L).forall(!keptIds.contains(_)))
    assert(!keptIds.contains(20000L) && keptIds.contains(100L))
    // the signature store grew by exactly the kept docs
    val stored = spark.read.parquet(s"$sigDir/batch_*")
      .select("id").as[Long].collect().toSet
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(stored == corpusIds ++ keptIds)
  }

  test("streaming incremental funnel: late events refine, result ≡ batch funnel") {
    val root = Files.createTempDirectory("graft-incfunnel").toString
    val srcDir = s"$root/src"; val storeDir = s"$root/store"
    val out = s"$root/out"
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val steps = Seq("signup", "click", "purchase")
    val b1 = Seq(
      (1L, "signup", ts(10)), (1L, "click", ts(12)),
      (2L, "click", ts(5)), (2L, "purchase", ts(6)),
      (3L, "view", ts(1))).toDF("user_id", "event_type", "ts")
    // batch 2: user 1 completes; user 2's LATE signup at 10:04 makes the
    // already-stored 10:05 click + 10:06 purchase a complete funnel —
    // the out-of-order case a pure state machine gets wrong
    val b2 = Seq(
      (1L, "purchase", ts(30)),
      (2L, "signup", ts(4))).toDF("user_id", "event_type", "ts")
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    def mkStream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalFunnel(mkStream, "user_id", "event_type", "ts",
      steps, storeDir, out)
    def snap = Streams.latestFunnel(spark, out).collect()
      .map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    val got = snap
    val want = graft.ops.Funnel.funnel(b1.unionByName(b2),
        "user_id", "event_type", "ts", steps).collect()
      .map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(got == want, s"stream=$got batch=$want")
    assert(got(2L) == ((ts(4), ts(5), ts(6)))) // the late-signup refinement
    assert(!got.contains(3L)) // never reached step 1
    // checkpoint replay adds nothing
    Streams.runIncrementalFunnel(mkStream, "user_id", "event_type", "ts",
      steps, storeDir, out)
    assert(snap == got)
  }

  test("streaming incremental transitions: late splice rewrites, ≡ batch matrix") {
    val root = Files.createTempDirectory("graft-inctrans").toString
    val srcDir = s"$root/src"; val storeDir = s"$root/store"
    val out = s"$root/out"
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // batch 1: u1 sees a@0 → c@10 (transition a→c); u2: a@0 → b@1
    val b1 = Seq(
      (1L, 100L, "a", ts(0)), (1L, 101L, "c", ts(10)),
      (2L, 200L, "a", ts(0)), (2L, 201L, "b", ts(1)))
      .toDF("user_id", "event_id", "event_type", "ts")
    // batch 2: u1's LATE b@5 splices in: a→c must DISAPPEAR, replaced
    // by a→b and b→c — the case a count-only running state cannot undo
    val b2 = Seq((1L, 102L, "b", ts(5)))
      .toDF("user_id", "event_id", "event_type", "ts")
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalTransitions(stream, "user_id", "event_type", "ts",
      "event_id", storeDir, out)
    val got = Streams.latestTransitions(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.ops.Funnel.transitions(b1.unionByName(b2),
        "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want, s"stream=$got batch=$want")
    assert(!got.contains(("a", "c")), "late splice must remove the a→c row")
    assert(got(("a", "b")) == 2L && got(("b", "c")) == 1L)
  }

  test("streaming incremental image dedup: dHash tier over persisted hashes") {
    import graft.ops.{MediaCodec, Multimodal}
    val root = Files.createTempDirectory("graft-incimg").toString
    val srcDir = s"$root/src"; val sigDir = s"$root/sigs"
    val out = s"$root/out"
    def mk(id: Long)(f: (Int, Int) => Int): Multimodal.MediaRow = {
      val img = new java.awt.image.BufferedImage(48, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 48; y <- 0 until 32) {
        val v = f(x, y) & 0xFF; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      Multimodal.MediaRow(id, "image", MediaCodec.pngBytes(img),
        Multimodal.MediaMeta("png", 48, 32, 0L))
    }
    val corpus = spark.createDataset(Seq.tabulate(5)(i =>
      mk(i.toLong)((x, _) => x * (3 + i) % 256))) // horizontal gradients
    Multimodal.imageDHashes(corpus).write.parquet(s"$sigDir/batch_seed")
    val fresh = Seq(
      // alternate at y/4 so the 9×8 nearest-neighbor sample grid (row
      // stride 4) actually sees both phases — y%2 aliases to even rows
      mk(10L)((x, y) => if ((y / 4) % 2 == 0) x * 5 else 255 - x * 5),
      mk(11L)((x, y) => if ((x / 6 + y / 6) % 2 == 0) 230 else 20),
      mk(12L)((x, y) => (x * x * 3 + y * 7) % 256))
    // precondition: fresh images are far from the corpus and each other
    val freshH = fresh.map(m => MediaCodec.dHash(m.payload).get)
    val corpH = corpus.collect().map(m => MediaCodec.dHash(m.payload).get)
    for (a <- freshH; b <- corpH)
      assert(java.lang.Long.bitCount(a ^ b) > 3, "fixture: fresh ~ corpus")
    for (Seq(a, b) <- freshH.combinations(2))
      assert(java.lang.Long.bitCount(a ^ b) > 3, "fixture: fresh ~ fresh")
    val batch = spark.createDataset(fresh ++ Seq(
      corpus.collect()(2).copy(media_id = 50L), // corpus copy → drop
      fresh.head.copy(media_id = 60L)))         // within-batch dup → drop
    batch.toDF().coalesce(1).write.parquet(s"$srcDir/f1")
    val stream = spark.readStream.schema(batch.toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIncrementalImageDedup(stream, sigDir, out)
    val keptIds = spark.read.parquet(s"$out/batch_*")
      .select("media_id").as[Long].collect().toSet
    // oracle: the batch-API incremental call over the same seeded corpus
    val (wantKept, _) = Multimodal.incrementalImageNearDup(batch,
      spark.read.parquet(s"$sigDir/batch_seed"))
    val want = wantKept.select("media_id").as[Long].collect().toSet
    assert(keptIds == want, s"missing=${want -- keptIds} extra=${keptIds -- want}")
    assert(keptIds == Set(10L, 11L, 12L), keptIds)
    // the hash store grew by exactly the kept images
    val stored = spark.read.parquet(s"$sigDir/batch_*")
      .select("id").as[Long].collect().toSet
    assert(stored == (0L until 5L).toSet ++ keptIds)
  }

  test("streaming upsert: versioned standing table equals sequential batch merge") {
    import graft.ops.Merge
    val root = Files.createTempDirectory("graft-upsert").toString
    val srcDir = s"$root/src"; val tableDir = s"$root/table"
    val c = Tables.table(spark, sf0001, "customer")
    val target = c.select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"), lit(0L).as("ver"))
    target.write.parquet(s"$tableDir/v_seed")
    // batch 1: change segment for keys %3, version 1; batch 2: a later
    // version for a subset plus brand-new keys
    val b1 = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), lit("B1").as("seg"), lit(1L).as("ver"))
    val b2 = c.filter(col("c_custkey") % 6 === 0)
      .select(col("c_custkey").as("k"), lit("B2").as("seg"), lit(2L).as("ver"))
      .unionByName(c.filter(col("c_custkey") < 3)
        .select((col("c_custkey") + 700000).as("k"), lit("NEW").as("seg"),
          lit(2L).as("ver")))
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runUpsert(stream(), "k", "ver", tableDir)
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    Streams.runUpsert(stream(), "k", "ver", tableDir)

    val fs = new java.io.File(tableDir).listFiles().map(_.getName)
      .filter(n => n.startsWith("v_") && n != "v_seed")
      .map(_.drop(2).toLong).sorted
    val latest = spark.read.parquet(s"$tableDir/v_${fs.last}")
    val want = Merge.upsert(Merge.upsert(target, b1, "k", "ver"),
      b2, "k", "ver")
    assert(rowsOf(latest) == rowsOf(want))
    // replay with the same checkpoint adds no version and changes nothing
    Streams.runUpsert(stream(), "k", "ver", tableDir)
    val after = new java.io.File(tableDir).listFiles().map(_.getName)
      .filter(n => n.startsWith("v_") && n != "v_seed")
      .map(_.drop(2).toLong).sorted
    assert(after.toSeq == fs.toSeq)
    assert(rowsOf(spark.read.parquet(s"$tableDir/v_${after.last}")) ==
      rowsOf(want))
  }

  test("ST22: join view maintained from a tagged change stream") {
    val root = Files.createTempDirectory("graft-jv").toString
    val srcDir = s"$root/src"
    val orders = Tables.table(spark, sf0001, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_custkey").as("k"), col("o_orderkey"),
        col("o_totalprice"))
    val cust = Tables.table(spark, sf0001, "customer")
      .filter(col("c_custkey") < 100)
      .select(col("c_custkey").as("k"), col("c_name"))
    // CDC envelope: side tag + union of columns, nulls off-side
    def env(side: String, df: org.apache.spark.sql.DataFrame) = {
      val padded =
        if (side == "A") df.withColumn("c_name", lit(null).cast("string"))
        else df.withColumn("o_orderkey", lit(null).cast("bigint"))
          .withColumn("o_totalprice", lit(null).cast("double"))
      padded.withColumn("side", lit(side))
        .select("side", "k", "o_orderkey", "o_totalprice", "c_name")
    }
    val b1 = env("A", orders.filter(col("o_orderkey") % 2 === 0))
      .unionByName(env("B", cust.filter(col("k") % 2 === 0)))
    val b2 = env("A", orders.filter(col("o_orderkey") % 2 =!= 0))
      .unionByName(env("B", cust.filter(col("k") % 2 =!= 0)))
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    def run() = Streams.runJoinView(stream(), "side", "A", "k",
      Seq("o_orderkey", "o_totalprice"), Seq("c_name"),
      s"$root/a", s"$root/b", s"$root/v")
    run()
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    run()
    val got = rowsOf(Streams.currentJoinView(spark, s"$root/v")
      .select("k", "o_orderkey", "o_totalprice", "c_name"))
    val want = rowsOf(orders.join(cust, "k")
      .select("k", "o_orderkey", "o_totalprice", "c_name"))
    assert(got == want && want.nonEmpty)
    // replay appends nothing
    run()
    assert(rowsOf(Streams.currentJoinView(spark, s"$root/v")
      .select("k", "o_orderkey", "o_totalprice", "c_name")) == want)
  }

  test("ST21: incremental interval merge — late span bridges islands") {
    import graft.ops.Intervals
    val root = Files.createTempDirectory("graft-ivl").toString
    val srcDir = s"$root/src"; val storeDir = s"$root/store"
    val outDir = s"$root/out"
    def mk(rows: Seq[(Long, Long, Long, Long)]) = {
      val spark2 = spark; import spark2.implicits._
      rows.toDF("k", "s", "e", "o")
    }
    // batch 1: two separated islands for key 1; one span for key 2
    val b1 = mk(Seq((1L, 0L, 10L, 1L), (1L, 30L, 40L, 2L),
      (2L, 0L, 5L, 3L)))
    // batch 2: a LATE span bridging key 1's islands; key 3 appears
    val b2 = mk(Seq((1L, 8L, 32L, 4L), (3L, 0L, 1L, 5L)))
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runIntervalMerge(stream(), "k", "s", "e", "o", storeDir, outDir)
    val mid = Streams.latestIntervals(spark, outDir)
    assert(mid.filter(col("k") === 1).count() == 2) // still split
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    Streams.runIntervalMerge(stream(), "k", "s", "e", "o", storeDir, outDir)
    val fin = Streams.latestIntervals(spark, outDir)
    // the bridge collapsed key 1 into ONE island covering [0, 40]
    val k1 = fin.filter(col("k") === 1).collect()
    assert(k1.length == 1 && k1(0).getAs[Long]("start") == 0L &&
      k1(0).getAs[Long]("end") == 40L && k1(0).getAs[Long]("n_spans") == 3L)
    // equals the batch operator over the full span history
    val want = rowsOf(Intervals.mergeIntervals(b1.unionByName(b2),
      "k", "s", "e", "o"))
    assert(rowsOf(fin.select("k", "island", "start", "end", "n_spans")) ==
      want)
    // replay adds no snapshot dirs
    Streams.runIntervalMerge(stream(), "k", "s", "e", "o", storeDir, outDir)
    val dirs = new java.io.File(outDir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(dirs.toSeq == Seq("batch_0", "batch_1"))
  }

  test("ST20: streaming KS drift monitor equals the batch ksTest") {
    import graft.ops.Stats
    val root = Files.createTempDirectory("graft-ksdrift").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), floor(col("value") * 64).cast("long").as("v"))
    val reference = ev.filter(col("v") < 32)       // skewed baseline
    val b1 = ev.filter(col("v") >= 16)             // drifted batch
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runKsDriftMonitor(stream(), reference, "user_id", "v", outDir)
    val got = spark.read.parquet(s"$outDir/batch_0")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    // oracle: the batch operator over the same tagged union
    val tagged = reference.select(col("user_id"), col("v"),
        lit("ref").as("__side"))
      .unionByName(b1.select(col("user_id"), col("v"),
        lit("cur").as("__side")))
    val want = Stats.ksTest(tagged, "user_id", col("__side") === "ref",
        col("__side") === "cur", col("v")).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(got == want && got.nonEmpty)
    // drifted distributions actually register: some key has D > 0.2
    assert(got.values.exists(_._2 > 0.2), got.toString)
    // replay rewrites identical rows, no new batch dirs
    Streams.runKsDriftMonitor(stream(), reference, "user_id", "v", outDir)
    val dirs = new java.io.File(outDir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_"))
    assert(dirs.toSeq == Seq("batch_0"))
  }

  test("streaming CDC apply: deletes land, tombstones block resurrection") {
    import graft.ops.Merge
    val root = Files.createTempDirectory("graft-cdc").toString
    val srcDir = s"$root/src"; val tableDir = s"$root/table"
    val c = Tables.table(spark, sf0001, "customer").filter(col("c_custkey") < 100)
    val seed = c.select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"), lit(0L).as("seq"), lit("I").as("op"))
    seed.write.parquet(s"$tableDir/v_seed")
    // batch 1: delete every %3 key at seq 10, update every %5 at seq 11
    val b1 = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), lit("X").as("seg"),
        lit(10L).as("seq"), lit("D").as("op"))
      .unionByName(c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("k"), lit("U1").as("seg"),
          lit(11L).as("seq"), lit("U").as("op")))
    // batch 2 arrives LATER but carries an OLDER change (seq 5) for the
    // deleted keys — must NOT resurrect them — plus a real re-insert
    // (seq 20) for %9 keys and a brand-new key
    val b2 = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), lit("LATE").as("seg"),
        lit(5L).as("seq"), lit("U").as("op"))
      .unionByName(c.filter(col("c_custkey") % 9 === 0)
        .select(col("c_custkey").as("k"), lit("BACK").as("seg"),
          lit(20L).as("seq"), lit("I").as("op")))
      .unionByName(spark.range(1).select(lit(700001L).as("k"),
        lit("NEW").as("seg"), lit(20L).as("seq"), lit("I").as("op")))
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runApplyChanges(stream(), "k", Seq("seq", "op"), tableDir)
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    Streams.runApplyChanges(stream(), "k", Seq("seq", "op"), tableDir)
    val vs = new java.io.File(tableDir).listFiles().map(_.getName)
      .filter(n => n.startsWith("v_") && n != "v_seed")
      .map(_.drop(2).toLong).sorted
    val latest = spark.read.parquet(s"$tableDir/v_${vs.last}")
    // one-shot apply over the concatenated feed = the streamed table
    val want = Merge.applyChangesWithTombstones(
      seed.unionByName(b1).unionByName(b2), "k", Seq("seq", "op"))
    assert(rowsOf(latest) == rowsOf(want))
    val snap = latest.filter(col("op") =!= "D").drop("op")
    // %3 keys stay deleted despite the late seq-5 update — except the
    // %9 re-inserts (seq 20) and the %5 updates that POST-date the
    // delete (seq 11 > 10), which are correctly alive
    assert(snap.filter(col("k") % 3 === 0 && col("k") % 9 =!= 0 &&
      col("k") % 5 =!= 0).count() == 0)
    assert(snap.filter(col("k") % 15 === 0 && col("k") % 9 =!= 0)
      .select("seg").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("U1"))
    // %9 keys are back with the seq-20 re-insert; the new key landed
    assert(snap.filter(col("k") % 9 === 0 && col("k") < 100)
      .select("seg").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("BACK"))
    assert(snap.filter(col("k") === 700001L).count() == 1)
    // checkpoint replay adds no version
    Streams.runApplyChanges(stream(), "k", Seq("seq", "op"), tableDir)
    val after = new java.io.File(tableDir).listFiles().map(_.getName)
      .filter(n => n.startsWith("v_") && n != "v_seed")
      .map(_.drop(2).toLong).sorted
    assert(after.toSeq == vs.toSeq)
  }

  test("streaming SCD2: dimension history equals sequential batch apply") {
    import graft.ops.Merge
    val root = Files.createTempDirectory("graft-scd2").toString
    val srcDir = s"$root/src"; val tableDir = s"$root/table"
    val c = Tables.table(spark, sf0001, "customer").filter(col("c_custkey") < 200)
    val current = c.select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"), lit(0L).as("valid_from"),
      lit(null).cast("bigint").as("valid_to"))
    current.write.parquet(s"$tableDir/v_seed")
    val b1 = c.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("k"), lit("S1").as("seg"), lit(100L).as("ts"))
    val b2 = c.filter(col("c_custkey") % 8 === 0)
      .select(col("c_custkey").as("k"), lit("S2").as("seg"), lit(200L).as("ts"))
    b1.coalesce(1).write.parquet(s"$srcDir/f1")
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runScd2(stream(), "k", "ts", Seq("seg"), tableDir)
    b2.coalesce(1).write.parquet(s"$srcDir/f2")
    Streams.runScd2(stream(), "k", "ts", Seq("seg"), tableDir)
    val vs = new java.io.File(tableDir).listFiles().map(_.getName)
      .filter(n => n.startsWith("v_") && n != "v_seed").map(_.drop(2).toLong).sorted
    val latest = spark.read.parquet(s"$tableDir/v_${vs.last}")
    val want = Merge.scd2Apply(
      Merge.scd2Apply(current, b1, "k", "ts", Seq("seg")),
      b2, "k", "ts", Seq("seg"))
    assert(rowsOf(latest) == rowsOf(want))
    // a %8 key carries full history: open row closed at 100, S1 closed
    // at 200, S2 open
    val k8 = latest.filter(col("k") === 8).orderBy("valid_from")
      .collect().map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(k8.head._2 == 0L && k8.head._3 == 100L)
    assert(k8.last._1 == "S2" && k8.last._3 == -1L)
  }

  test("ST7: foreachBatch micro-batch bridge and file sink write the full stream") {
    val out1 = Files.createTempDirectory("graft-st7a").toString
    Streams.runForeachBatch(
      Streams.dedup(Streams.eventsStream(spark, sf0001)), out1)
    val written = spark.read.parquet(s"$out1/batch_*")
    assert(written.count() == batchEvents.count())

    val out2 = Files.createTempDirectory("graft-st7b").toString
    Streams.runToFiles(
      Streams.eventsStream(spark, sf0001).filter(col("user_id") < 10), out2)
    val files = spark.read.parquet(s"$out2/data")
    assert(files.count() ==
      batchEvents.filter(col("user_id") < 10).count())
  }

  test("ST13: streaming IVF append equals batch assignment; replay idempotent") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val (_, centroids) = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 8)
    // stream the same vectors in two micro-batches through the frozen cells
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq.map { case (id, v) =>
        (id, v.toSeq)
      }
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val out = Files.createTempDirectory("graft-ivf-append").toString
    input.addData(rows.take(rows.size / 2))
    input.addData(rows.drop(rows.size / 2))
    Streams.runIvfAppend(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, out)
    val streamed = spark.read.parquet(s"$out/batch_*")
      .select("id", "cell").as[(Long, Int)].collect().toMap
    val direct = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(streamed == direct,
      "streaming frozen-cell assignment must equal the batch operator")
    // replay: rewriting a batch id from the same input reproduces
    // identical rows (AvailableNow may have coalesced the adds, so the
    // batch's own id set defines its input)
    val b0 = spark.read.parquet(s"$out/batch_0")
      .collect().map(_.toString).sorted.toSeq
    val ids0 = spark.read.parquet(s"$out/batch_0")
      .select("id").as[Long].collect().toSet
    Similarity.ivfAssign(
        rows.filter(r => ids0.contains(r._1)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", centroids)
      .write.mode("overwrite").parquet(s"$out/batch_0")
    val b0b = spark.read.parquet(s"$out/batch_0")
      .collect().map(_.toString).sorted.toSeq
    assert(b0 == b0b, "replayed batch must rewrite identical rows")
  }

  test("ST13b: streaming PQ append encodes bit-identically to batch" +
      " against frozen persisted codebooks") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val (_, cbs) = Similarity.pqIndex(emb, "vec_id", "embedding",
      m = 8, kCent = 8)
    // persist → reload: the streaming path sees only the TABLE form,
    // so this also pins the round-trip the standing index relies on
    val base = Files.createTempDirectory("graft-pq-append").toString
    Similarity.pqCodebooks(cbs, spark).write.parquet(s"$base/codebooks")
    val cbTable = spark.read.parquet(s"$base/codebooks")
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq.map { case (id, v) =>
        (id, v.toSeq)
      }
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val out = s"$base/out"
    input.addData(rows.take(rows.size / 2))
    input.addData(rows.drop(rows.size / 2))
    Streams.runPqAppend(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cbTable, out)
    def codeMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Byte]] =
      df.select("id", "code").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val streamed = codeMap(spark.read.parquet(s"$out/batch_*"))
    val direct = codeMap(
      Similarity.pqAssign(emb, "vec_id", "embedding", cbs))
    assert(streamed == direct,
      "streaming frozen-codebook encode must equal the batch operator")
    // replay: rewriting a batch id from the same input reproduces
    // identical rows
    val ids0 = spark.read.parquet(s"$out/batch_0")
      .select("id").as[Long].collect().toSet
    val b0 = codeMap(spark.read.parquet(s"$out/batch_0"))
    Similarity.pqAssign(
        rows.filter(r => ids0.contains(r._1)).toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        Similarity.pqCodebooksFromTable(cbTable))
      .write.mode("overwrite").parquet(s"$out/batch_0")
    val b0b = codeMap(spark.read.parquet(s"$out/batch_0"))
    assert(b0 == b0b, "replayed batch must rewrite identical rows")
  }

  test("ST14: streaming incremental semDedup equals the batch operator; assignments append") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val base = java.nio.file.Files.createTempDirectory("graft-semdd")
    val (assignDir, outDir) = (s"$base/assign", s"$base/out")
    // seed the standing corpus: the first 300 vectors, pre-assigned
    val standingRows = emb.filter(col("vec_id") < 300)
      .select("vec_id", "embedding")
    Similarity.ivfAssign(standingRows, "vec_id", "embedding", cents)
      .write.parquet(s"$assignDir/batch_seed")
    // stream the tail plus an exact copy of standing vec 42
    val batchRows = emb.filter(col("vec_id") >= 300)
      .select("vec_id", "embedding")
      .unionByName(emb.filter(col("vec_id") === 42)
        .select(lit(90000L).as("vec_id"), col("embedding")))
    val rows = batchRows.as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData(rows)
    Streams.runIncrementalSemDedup(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, assignDir, outDir)
    val streamedKept = spark.read.parquet(s"$outDir/batch_*")
      .select("vec_id").as[Long].collect().toSet
    // equality vs the batch operator over the same admission
    val standing = Similarity.ivfAssign(standingRows, "vec_id",
      "embedding", cents)
    val (expectKept, _) = Similarity.incrementalSemDedup(batchRows,
      standing, "vec_id", "embedding", 0.45, cents)
    assert(streamedKept ==
      expectKept.select("vec_id").as[Long].collect().toSet)
    assert(!streamedKept.contains(90000L), "standing twin must drop")
    // kept rows' assignments joined the standing table for the future
    val standingNow = spark.read.parquet(s"$assignDir/batch_*")
      .select("id").as[Long].collect().toSet
    assert(standingNow ==
      standingRows.select("vec_id").as[Long].collect().toSet ++ streamedKept)
  }

  test("ST25: streaming kNN-graph append equals batch annJoin over the " +
      "admitted union; replay idempotent") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val base = java.nio.file.Files.createTempDirectory("graft-knn-append")
    val (assignDir, outDir) = (s"$base/assign", s"$base/out")
    // seed the standing corpus: the first 300 vectors, pre-assigned
    val standingRows = emb.filter(col("vec_id") < 300)
      .select("vec_id", "embedding")
    Similarity.ivfAssign(standingRows, "vec_id", "embedding", cents)
      .write.parquet(s"$assignDir/batch_seed")
    val tail = emb.filter(col("vec_id") >= 300)
      .select("vec_id", "embedding")
    val rows = tail.as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData(rows)
    Streams.runKnnGraphAppend(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, assignDir, outDir, k = 3, nprobe = 2)
    val streamed = spark.read.parquet(s"$outDir/batch_*")
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    // equality vs the batch operator: queries = the admitted batch,
    // corpus = seed ∪ batch (shared id space → excludeSelf)
    val expect = Similarity.annJoin(tail,
        standingRows.unionByName(tail), "vec_id", "embedding", cents,
        k = 3, nprobe = 2, excludeSelf = Some(true))
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(streamed == expect,
      s"streamed=${streamed.size} expect=${expect.size}")
    assert(streamed.nonEmpty)
    // seed neighbors are reachable: at least one edge points into the
    // standing corpus, and every query is a batch row
    assert(streamed.exists(_._2 < 300))
    assert(streamed.forall(_._1 >= 300))
    // the batch's assignments appended for future batches
    val standingNow = spark.read.parquet(s"$assignDir/batch_*")
      .select("id").as[Long].collect().toSet
    assert(standingNow ==
      emb.select("vec_id").as[Long].collect().toSet)
    // replay: recomputing a batch id from its own input against the
    // standing set WITHOUT that dir rewrites identical rows
    val ids0 = spark.read.parquet(s"$assignDir/batch_0")
      .select("id").as[Long].collect().toSet
    val b0rows = rows.filter(r => ids0.contains(r._1))
      .toDF("vec_id", "embedding")
    val edges0 = spark.read.parquet(s"$outDir/batch_0")
      .collect().map(_.toString).sorted.toSeq
    val standing0 = spark.read.parquet(s"$assignDir/batch_seed")
      .select("id", "arr")
      .unionByName(Similarity
        .ivfAssign(b0rows, "vec_id", "embedding", cents)
        .select("id", "arr"))
    Similarity.annJoin(
        b0rows.select(col("vec_id").as("id"), col("embedding").as("arr")),
        standing0, "id", "arr", cents, k = 3, nprobe = 2,
        excludeSelf = Some(true))
      .write.mode("overwrite").parquet(s"$outDir/batch_0")
    val edges0b = spark.read.parquet(s"$outDir/batch_0")
      .collect().map(_.toString).sorted.toSeq
    assert(edges0 == edges0b, "replayed batch must rewrite identical rows")
  }

  test("ST26: streaming incremental SRP near-dedup equals the batch " +
      "operator; signatures append") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1000)).as("vq"))
    val planes = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").cast("int").as("plane"), col("vq").as("vec"))
    val base = java.nio.file.Files.createTempDirectory("graft-srpdd")
    val (sigDir, outDir) = (s"$base/sigs", s"$base/out")
    // seed the standing corpus: the first 300 vectors' signatures
    val standingRows = emb.filter(col("vec_id") < 300)
    Similarity.srpSignatures(standingRows, "vec_id", "vq", planes,
        bandBits = 4)
      .write.parquet(s"$sigDir/batch_seed")
    // stream the tail plus an exact copy of standing vec 42 — the twin
    // shares every band with its standing original and must drop
    val batchRows = emb.filter(col("vec_id") >= 300)
      .unionByName(emb.filter(col("vec_id") === 42)
        .select(lit(90000L).as("vec_id"), col("vq")))
    val rows = batchRows.as[(Long, Seq[Long])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Long])](spark)
    input.addData(rows)
    Streams.runSrpDedup(input.toDF().toDF("vec_id", "vq"),
      "vec_id", "vq", planes, bandBits = 4, sigDir, outDir,
      threshold = 0.9)
    val streamedKept = spark.read.parquet(s"$outDir/batch_*")
      .select("vec_id").as[Long].collect().toSet
    // equality vs the batch operator over the same admission
    val standingSigs = Similarity.srpSignatures(standingRows, "vec_id",
      "vq", planes, bandBits = 4)
    val (expectKept, _) = Similarity.incrementalSrpNearDup(batchRows,
      standingSigs, "vec_id", "vq", planes, bandBits = 4,
      threshold = 0.9)
    assert(streamedKept ==
      expectKept.select("vec_id").as[Long].collect().toSet)
    assert(!streamedKept.contains(90000L), "standing twin must drop")
    assert(streamedKept.nonEmpty)
    // kept rows' signatures joined the standing table for the future
    val standingNow = spark.read.parquet(s"$sigDir/batch_*")
      .select("id").as[Long].collect().toSet
    assert(standingNow ==
      standingRows.select("vec_id").as[Long].collect().toSet ++
        streamedKept)
  }

  test("streaming boilerplate excision against a frozen boiler set equals batch") {
    import graft.ops.Dedup
    val docs = Tables.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    // induce the standing boiler set ONCE over the seed half
    val seed = docs.filter(col("doc_id") < 250)
    val boiler = Dedup.boilerplateNgrams(seed, "doc_id", "text",
      n = 3, minDf = 3).cache()
    boiler.count()
    // stream the other half through the frozen set, two micro-batches
    val tail = docs.filter(col("doc_id") >= 250)
    val rows = tail.as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    input.addData(rows.take(rows.size / 2))
    input.addData(rows.drop(rows.size / 2))
    val base = java.nio.file.Files.createTempDirectory("graft-boiler")
    Streams.runBoilerplateExcision(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", boiler, s"$base/out", n = 3)
    val streamed = spark.read.parquet(s"$base/out/batch_*")
      .collect().map(_.toString).sorted.toSeq
    // ≡ the batch excision over the same admission — micro-batch
    // boundaries cannot matter because the boiler set is frozen
    val expect = Dedup.exciseNgrams(tail, "doc_id", "text", boiler, n = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == expect)
    assert(streamed.nonEmpty)
    // the frozen set actually bites: something was excised
    assert(spark.read.parquet(s"$base/out/batch_*")
      .filter(col("n_kept") < col("n_tokens")).count() > 0)
  }

  test("quality gates run unchanged on streams: gopherRules per micro-batch equals batch") {
    // the corpus gates are stateless projections, so the streaming form
    // IS the batch operator applied to the streaming DataFrame — no
    // foreachBatch wrapper, no state store, append mode
    val input = MemoryStream[(Long, String)](spark)
    val gated = graft.ops.TextAnalysis.gopherRules(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minWords = 3, minStopHits = 1)
    val q = gated.writeStream.format("memory").queryName("gate_stream")
      .outputMode(OutputMode.Append()).start()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "xx"),
      (3L, "a b c d e f g h"),
      (4L, "with four of the words that count here"))
    try {
      input.addData(docs.take(2))
      q.processAllAvailable()
      input.addData(docs.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.ops.TextAnalysis.gopherRules(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      minWords = 3, minStopHits = 1)
    assert(rowsOf(memTable("gate_stream")) == rowsOf(batch))
    // and the verdicts are the interesting mixed set, not all-true
    assert(memTable("gate_stream").filter(col("keep")).count() == 2)
  }

  test("stateless curation projections stream unchanged: classifier + URL flags") {
    // scoreWithMap and withUrlFlags are pure projections, so the same
    // composition must run as an Append stream with no watermark and
    // converge to the batch result row-for-row
    val schema = spark.read.parquet(s"$sf0001/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$sf0001/documents*.parquet")
    val weights = Map("fast" -> 0.75, "slow" -> -1.25, "dup" -> -2.0)
    def curate(df: DataFrame): DataFrame =
      graft.ops.UrlCuration.withUrlFlags(
        graft.ops.Classifier.scoreWithMap(df, "text", weights, bias = -0.5)
          .withColumn("url", concat(lit("https://"), col("source"),
            lit(".example.com/d/"), col("doc_id"))),
        "url")
        .select(col("doc_id"), col("score"), col("url_ip_host"),
          col("url_bad_ext"), col("url_long_query"))
    Streams.runToMemory(curate(stream), "curation_stream",
      OutputMode.Append())
    val batch = curate(Tables.table(spark, sf0001, "documents"))
    assert(rowsOf(memTable("curation_stream")) == rowsOf(batch))
    assert(memTable("curation_stream").count() > 0)
  }

  test("streamed bucket aggregates feed batch gap fill (lambda handoff)") {
    // the standard lambda split for time series: the stream maintains the
    // sparse per-(key, bucket) aggregates, a batch pass densifies and
    // fills — the handoff contract is just the (key, bucket, aggs) schema
    val streamed = Streams.eventsStream(spark, sf0001)
      .filter(col("user_id") < 4)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("window.start").as("bucket"), col("n"))
    Streams.runToMemory(streamed, "resample_sparse")
    val viaStream = graft.ops.Resample.forwardFill(
      graft.ops.Resample.gapFill(memTable("resample_sparse"),
        "user_id", 3600L), "user_id", Seq("n"))
    val direct = graft.ops.Resample.forwardFill(
      graft.ops.Resample.gapFill(
        graft.ops.Resample.bucketAgg(
          batchEvents.filter(col("user_id") < 4), "user_id", "ts", "hour",
          Seq("n" -> count(lit(1)))), "user_id", 3600L),
      "user_id", Seq("n"))
    assert(rowsOf(viaStream) == rowsOf(direct))
    assert(viaStream.count() > 0)
    // Same handoff through the OTHER fill strategy: linear
    // interpolation over the streamed sparse aggregates must equal the
    // all-batch pipeline too (the contract is the (key, bucket, aggs)
    // schema, not which fill rides on top).
    val viaStreamInterp = graft.ops.Resample.interpolate(
      graft.ops.Resample.gapFill(memTable("resample_sparse"),
        "user_id", 3600L), "user_id", "n")
    val directInterp = graft.ops.Resample.interpolate(
      graft.ops.Resample.gapFill(
        graft.ops.Resample.bucketAgg(
          batchEvents.filter(col("user_id") < 4), "user_id", "ts", "hour",
          Seq("n" -> count(lit(1)))), "user_id", 3600L),
      "user_id", "n")
    assert(rowsOf(viaStreamInterp) == rowsOf(directInterp))
  }

  test("streaming incremental rollup: monoid fold of batch states ≡ batch aggregate") {
    import graft.ops.Rollup
    val root = Files.createTempDirectory("graft-rollup").toString
    val srcDir = s"$root/src"; val storeDir = s"$root/store"
    val all = Tables.table(spark, sf0001, "events")
      .filter(col("user_id") < 40)
      .select("user_id", "event_id", "event_type")
    // two arrival files → two micro-batches with overlapping keys
    all.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$srcDir/f1")
    all.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$srcDir/f2")
    val measures = Seq(
      Rollup.Measure.rowCount("n"),
      Rollup.Measure.sumOf("s", col("event_id")),
      Rollup.Measure.minOf("lo", col("event_id")),
      Rollup.Measure.maxOf("hi", col("event_id")),
      Rollup.Measure.approxDistinct("d", col("event_type")))
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runRollup(stream, Seq("user_id"), measures, storeDir)
    def rows(df: DataFrame) = df
      .select(col("user_id"), col("n"), col("s"), col("lo"), col("hi"),
        Rollup.Measure.estimate(col("d")).as("d"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val got = rows(Streams.currentRollup(spark, storeDir, Seq("user_id"),
      measures))
    val want = rows(Rollup.aggregate(all, Seq("user_id"), measures))
    assert(got == want)
    // replay: re-running the same stream from a fresh checkpoint rewrites
    // the same batch dirs — the fold cannot double-count
    val stream2 = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/f*/*.parquet")
    Streams.runRollup(stream2, Seq("user_id"), measures, storeDir)
    val replay = rows(Streams.currentRollup(spark, storeDir, Seq("user_id"),
      measures))
    assert(replay == want)
  }

  test("ST28: streaming IVF assignment landing equals batch ivfAssign; " +
      "overlapping ids admit once; PQ codes ride along") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val base = Files.createTempDirectory("graft-ivf-append")
    val outDir = s"$base/assign"
    // seed: the first 100 ids pre-landed (the mode=ivf bootstrap)
    val standing = emb.filter(col("vec_id") < 100)
      .select("vec_id", "embedding")
    Similarity.ivfAssign(standing, "vec_id", "embedding", cents)
      .write.parquet(s"$outDir/batch_seed")
    // stream rows 50..199: the 50..99 overlap must NOT re-land
    val tail = emb.filter(col("vec_id") >= 50 && col("vec_id") < 200)
      .select("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData(tail.as[(Long, Seq[Float])].collect().toSeq)
    Streams.runIvfAssignAppend(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, outDir)
    val landed = spark.read.parquet(s"$outDir/batch_*")
    assert(landed.count() == 200L &&
      landed.select("id").distinct().count() == 200L,
      "every id exactly once — overlap admitted only by the seed")
    val got = landed.select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = Similarity.ivfAssign(
        emb.filter(col("vec_id") < 200), "vec_id", "embedding", cents)
      .select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want)
    // PQ-coded variant: codes equal the frozen-codebook batch encode
    val (_, cbs) = Similarity.pqIndex(standing, "vec_id", "embedding",
      m = 4, kCent = 8, trainSample = 64)
    val out2 = s"$base/assign_pq"
    val input2 = MemoryStream[(Long, Seq[Float])](spark)
    input2.addData(standing.as[(Long, Seq[Float])].collect().toSeq)
    Streams.runIvfAssignAppend(input2.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, out2, codebooks = Some(cbs))
    val gotCodes = spark.read.parquet(s"$out2/batch_*")
      .select("id", "code").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val wantCodes = Similarity.pqAssign(standing, "vec_id", "embedding",
        cbs).select("id", "code").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(gotCodes == wantCodes && gotCodes.size == 100)
  }

  test("ST29: lifecycle-composed streaming IVF landing — the committed " +
      "version resolves at stream start; a committed retrain makes the " +
      "feed refuse until rekeyIvfAssign; the re-key bumps everything") {
    import graft.ops.{IndexLifecycle, Similarity}
    val emb = Tables.table(spark, sf0001, "embeddings")
    val base = Files.createTempDirectory("graft-ivf-ver")
    val idx = s"$base/idx"
    val outDir = s"$base/assign"
    // no committed version: the versioned runner fails loudly
    val input0 = MemoryStream[(Long, Seq[Float])](spark)
    input0.addData(emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq)
    intercept[IllegalStateException] {
      Streams.runIvfAssignAppendVersioned(
        input0.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, outDir)
    }
    // v1 commit, then stream batch 1 lands stamped with v1
    IndexLifecycle.retrain(spark, idx, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", nlist = 8, trainSample = 64)
    val input1 = MemoryStream[(Long, Seq[Float])](spark)
    input1.addData(emb.filter(col("vec_id") < 100)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq)
    Streams.runIvfAssignAppendVersioned(
      input1.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, outDir)
    def landed() = spark.read.parquet(s"$outDir/batch_*")
    def versions() = landed().select("index_version").distinct()
      .collect().map(_.getInt(0)).toSeq
    val (v1, c1, _) = IndexLifecycle.resolve(spark, idx)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(v1 == 1 && versions() == Seq(1))
    assert(cells(landed()) == cells(Similarity.ivfAssign(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", c1)))
    // committed retrain: the next stream run REFUSES (standing v1)
    IndexLifecycle.retrain(spark, idx, emb.filter(col("vec_id") < 160),
      "vec_id", "embedding", nlist = 8, trainSample = 64)
    val input2 = MemoryStream[(Long, Seq[Float])](spark)
    input2.addData(emb.filter(col("vec_id") >= 100 && col("vec_id") < 160)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq)
    val e = intercept[IllegalArgumentException] {
      Streams.runIvfAssignAppendVersioned(
        input2.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, outDir)
    }
    assert(e.getMessage.contains("rekeyIvfAssign"))
    // the maintenance re-key folds + bumps; then the feed resumes
    assert(Streams.rekeyIvfAssign(spark, outDir, idx) == 2)
    val (v2, c2, _) = IndexLifecycle.resolve(spark, idx)
    assert(v2 == 2 && versions() == Seq(2))
    // fresh checkpoint for the new MemoryStream instance (its offsets
    // restart at 0; the real feed resumes ONE source across restarts).
    // Checkpoint loss is SAFE for this feed by design: the admit-once
    // anti-join is the dedup, not the offset log.
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$outDir/_ckpt"))
    val input3 = MemoryStream[(Long, Seq[Float])](spark)
    input3.addData(emb.filter(col("vec_id") >= 100 && col("vec_id") < 160)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq)
    Streams.runIvfAssignAppendVersioned(
      input3.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, s"$outDir")
    assert(landed().count() == 160L &&
      landed().select("id").distinct().count() == 160L)
    assert(versions() == Seq(2))
    assert(cells(landed()) == cells(Similarity.ivfAssign(
      emb.filter(col("vec_id") < 160), "vec_id", "embedding", c2)))
    // a legacy unversioned feed is refused too (quantizer unknowable)
    val legacy = s"$base/legacy"
    Similarity.ivfAssign(emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", c2)
      .write.parquet(s"$legacy/batch_seed")
    val input4 = MemoryStream[(Long, Seq[Float])](spark)
    input4.addData(emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq)
    intercept[IllegalArgumentException] {
      Streams.runIvfAssignAppendVersioned(
        input4.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, legacy)
    }
  }

  test("ST28b: compactIvfAssign folds the batch dirs into one standing " +
      "table — same rows, admit-once still holds, re-run idempotent") {
    import graft.ops.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val base = Files.createTempDirectory("graft-ivf-compact")
    val outDir = s"$base/assign"
    // three landed batches (disjoint by the admit-once contract)
    Seq((0L, 60L), (60L, 120L), (120L, 180L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        Similarity.ivfAssign(
            emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
              .select("vec_id", "embedding"),
            "vec_id", "embedding", cents)
          .write.parquet(s"$outDir/batch_$i")
    }
    val before = spark.read.parquet(s"$outDir/batch_*")
      .select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(Streams.compactIvfAssign(spark, outDir) == 3)
    val dirs = new java.io.File(outDir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .map(_.getName).toSet
    assert(dirs == Set("batch_compacted"))
    val after = spark.read.parquet(s"$outDir/batch_*")
      .select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before && after.size == 180)
    // single-dir layout: compact again is a no-op
    assert(Streams.compactIvfAssign(spark, outDir) == 0)
    // a later stream run's anti-join sees the compacted dir as prior:
    // overlapping ids (100..179) must not re-land
    val tail = emb.filter(col("vec_id") >= 100 && col("vec_id") < 220)
      .select("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData(tail.as[(Long, Seq[Float])].collect().toSeq)
    Streams.runIvfAssignAppend(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, outDir)
    val landed = spark.read.parquet(s"$outDir/batch_*")
    assert(landed.count() == 220L &&
      landed.select("id").distinct().count() == 220L)
    // crash-repair: duplicate a stale batch dir alongside the compacted
    // one (the swap-then-delete gap) — a re-run dedupes by id
    spark.read.parquet(s"$outDir/batch_compacted")
      .limit(50).write.parquet(s"$outDir/batch_stale")
    assert(Streams.compactIvfAssign(spark, outDir) >= 1)
    val repaired = spark.read.parquet(s"$outDir/batch_*")
    assert(repaired.count() == 220L &&
      repaired.select("id").distinct().count() == 220L)
  }

  private lazy val crashEmb = Tables.table(spark, sf0001, "embeddings")
    .select("vec_id", "embedding")
  private lazy val crashCents = crashEmb.filter(col("vec_id") < 8)
    .select(col("vec_id").cast("int").as("cell"),
      transform(col("embedding"), _.cast("double")).as("centroid"))
  private lazy val crashDocs = Tables.table(spark, sf0001, "documents")
    .select("doc_id", "text")
  private lazy val crashCust = Tables.table(spark, sf0001, "customer")

  private val crashCases = Seq(
    // plain drain: nothing standing, the batch lands as it came
    CrashCase("runForeachBatch", "out", Seq("out"),
      () => (crashEmb.filter(col("vec_id") < 40),
        crashEmb.filter(col("vec_id") >= 40 && col("vec_id") < 80)),
      _ => (), (s, root) => Streams.runForeachBatch(s, s"$root/out")),
    // exclude-own-dir: batch 1 carries a copy of a batch-0 document
    CrashCase("runIncrementalDedup", "out", Seq("out", "digests"),
      () => (crashDocs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
        crashDocs.filter(col("doc_id") >= 150 && col("doc_id") < 200)
          .unionByName(crashDocs.filter(col("doc_id") === 100)
            .withColumn("doc_id", lit(20000L)))),
      root => graft.ops.Dedup.contentDigests(
          crashDocs.filter(col("doc_id") < 100), "text")
        .write.parquet(s"$root/digests/batch_seed"),
      (s, root) => Streams.runIncrementalDedup(s, "doc_id", "text",
        s"$root/digests", s"$root/out")),
    // strictly-below-version: v_1 must merge onto v_0, not onto itself
    CrashCase("runUpsert", "table", Seq("table"),
      () => (crashCust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("k"), lit("B1").as("seg"),
            lit(1L).as("ver")),
        crashCust.filter(col("c_custkey") % 6 === 0)
          .select(col("c_custkey").as("k"), lit("B2").as("seg"),
            lit(2L).as("ver"))),
      root => crashCust.select(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg"), lit(0L).as("ver"))
        .write.parquet(s"$root/table/v_seed"),
      (s, root) => Streams.runUpsert(s, "k", "ver", s"$root/table")),
    // store-and-refresh: batch 1's span bridges batch 0's islands
    CrashCase("runIntervalMerge", "out", Seq("store", "out"),
      () => (Seq((1L, 0L, 10L, 1L), (1L, 30L, 40L, 2L), (2L, 0L, 5L, 3L))
          .toDF("k", "s", "e", "o"),
        Seq((1L, 8L, 32L, 4L), (3L, 0L, 1L, 5L)).toDF("k", "s", "e", "o")),
      _ => (), (s, root) => Streams.runIntervalMerge(s, "k", "s", "e", "o",
        s"$root/store", s"$root/out")),
    // admit-once: batch 1 overlaps the seed and batch 0
    CrashCase("runIvfAssignAppend", "assign", Seq("assign"),
      () => (crashEmb.filter(col("vec_id") >= 10 && col("vec_id") < 60),
        crashEmb.filter(col("vec_id") >= 40 && col("vec_id") < 100)),
      root => graft.ops.Similarity.ivfAssign(
          crashEmb.filter(col("vec_id") < 20), "vec_id", "embedding",
          crashCents)
        .write.parquet(s"$root/assign/batch_seed"),
      (s, root) => Streams.runIvfAssignAppend(s, "vec_id", "embedding",
        crashCents, s"$root/assign")))

  /** Each landed `batch_*` / `v_*` directory of `dir` with its rows,
    * as a sorted multiset. */
  private def landed(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("batch_") || n.startsWith("v_"))
      .map(n => n -> spark.read.parquet(s"$dir/$n").collect()
        .map(_.toString).sorted.toSeq).toMap

  crashCases.foreach { c =>
    test(s"crash replay: ${c.runner} re-runs its uncommitted last batch " +
        "to the same directories and rows") {
      val root = Files.createTempDirectory(s"graft-crash-${c.runner}").toString
      val (f1, f2) = c.inputs()
      f1.coalesce(1).write.parquet(s"$root/src/f1")
      f2.coalesce(1).write.parquet(s"$root/src/f2")
      c.seed(root)
      def stream() = spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src/f*/*.parquet")
      c.run(stream(), root)
      val before = c.outputs.map(o => o -> landed(s"$root/$o")).toMap
      // the crash: the last batch's sink writes finished, its commit did not
      val commits = new java.io.File(s"$root/${c.ckpt}/_ckpt/commits")
      val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(last == 1L, s"two input files must make two batches, got ${last + 1}")
      assert(new java.io.File(commits, s"$last").delete())
      new java.io.File(commits, s".$last.crc").delete()
      c.run(stream(), root)
      assert(new java.io.File(commits, s"$last").exists,
        s"batch $last was not re-run")
      val after = c.outputs.map(o => o -> landed(s"$root/$o")).toMap
      def sizes(m: Map[String, Map[String, Seq[String]]]) =
        m.map { case (o, ds) => o -> ds.map { case (d, r) => d -> r.size } }
      val unchanged = after == before
      assert(unchanged, s"replay changed the landing (rows per directory): " +
        s"${sizes(before)} -> ${sizes(after)}")
    }
  }
}

object StreamingSuite {

  /** One row per standing-read kind of the `foreachBatch` runners: its
    * checkpoint base, the directories it lands (relative to the run's
    * root), its two input files (one micro-batch each), the seed it needs
    * and the call itself. */
  final case class CrashCase(runner: String, ckpt: String,
      outputs: Seq[String], inputs: () => (DataFrame, DataFrame),
      seed: String => Unit, run: (DataFrame, String) => Unit)
}
