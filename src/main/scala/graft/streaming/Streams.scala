package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ops.Dedup

/** Structured Streaming surface (SURVEY.md §2.8 ST1–ST8).
  *
  * The reference's streaming capability was Kafka micro-batch pipelines;
  * re-expressed here as Structured Streaming transforms that are
  * source-agnostic: every operator takes a streaming DataFrame, so the
  * same code runs over Kafka (`readStream.format("kafka")` where the
  * connector is deployed), file streams, or `MemoryStream` in tests.
  * Correctness oracle = batch equivalence: replaying the events fixture
  * through any operator converges to the identical batch result (Spark's
  * unified-API guarantee, asserted in StreamingSuite).
  *
  * Scale notes: watermarks bound state; windowed aggregations shuffle once
  * on (window, key); `foreachBatch` is the batch-reuse bridge (micro-batch
  * DataFrames hit the full Catalyst/AQE path including broadcast joins).
  */
object Streams {

  /** File-source stream over the events fixture (schema pinned, ns→µs
    * normalization identical to the batch path in [[graft.Tables]]). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$sfDir/events*.parquet") // glob: file source needs a dir/glob base

      .select(
        col("event_id"), graft.Tables.tsNormalized(schema).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** ST1: tumbling-window counts/sums per event_type with a watermark. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** ST2: sliding-window counts. */
  def slidingAgg(events: DataFrame, window_ : String = "1 hour",
                 slide: String = "15 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** ST3: session windows (30 min gap) per user. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("ss"),
        col("user_id"), col("n"), col("sum_value"))

  /** ST4: streaming dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** ST4c: `dropDuplicatesWithinWatermark` — unlike [[dedup]], the key
    * need not include the event-time column's value in the state key
    * semantics: two records with the SAME id but different timestamps
    * still dedup, as long as they arrive within the watermark delay of
    * each other. This is the CDC-replay shape (a retried producer
    * re-emits the same id with a fresh timestamp); plain
    * dropDuplicates would keep both forever or key on the exact ts. */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  final case class UserStat(user_id: Long, n: Long, sum_value: Double)

  /** ST5: arbitrary stateful aggregation via flatMapGroupsWithState —
    * a per-user running (count, sum) that emits the updated state each
    * micro-batch. The state object is tiny and keyed; at scale this is
    * the standard keyed-state pattern (state store per shuffle partition). */
  def userRunningStats(events: DataFrame): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator(UserStat(uid, n, s))
      }
  }

  final case class CusumAlarm(key: Long, ts_us: Long, id: Long, x: Long,
                              cusum_stat: Long)

  /** ST23: streaming one-sided CUSUM drift alarm — the live twin of
    * [[graft.ops.Stats.cusumOnline]]: per key the state is ONLY
    * (running drift sum c, running min of c) — two longs, constant in
    * stream length — updated by the Page recursion and emitting every
    * row whose statistic c − min(0, min c) crosses `threshold`.
    * Within a micro-batch rows are folded in (ts, id) order; ACROSS
    * batches the operator assumes per-key event-time-ordered arrival
    * (the incremental-op contract shared with the dedup/rollup tiers —
    * front it with a watermark + sorted window if the transport
    * reorders). StreamingSuite pins multi-batch replay ≡ the batch
    * closed form. */
  def runCusumOnline(rows: DataFrame, keyCol: String, tsCol: String,
      idCol: String, xCol: String, target: Long, slack: Long,
      threshold: Long): Dataset[CusumAlarm] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col(keyCol).cast("long").as[Long],
        unix_micros(col(tsCol)).as[Long],
        col(idCol).cast("long").as[Long], col(xCol).cast("long").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (c, minC) = state.getOption.getOrElse((0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumAlarm]
          // micro-batch group fits in memory by the micro-batch contract;
          // (ts, id) sort pins the within-batch fold order
          it.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            c += r._4 - target - slack
            if (c < minC) minC = c
            val s = c - math.min(0L, minC)
            if (s >= threshold) out += CusumAlarm(key, r._2, r._3, r._4, s)
          }
          state.update((c, minC))
          out.iterator
      }
  }

  final case class HeavyHitter(key: Long, item: String, est: Long,
                               err: Long, n_processed: Long)

  /** ST24: streaming heavy hitters per key — the SPACE-SAVING sketch
    * (Metwally et al. 2005): at most `m` counters per key; a new item
    * evicts the smallest counter and inherits its count as `err`, so
    * for every tracked item true ≤ est ≤ true + err, and ANY item
    * with true frequency > n/m is guaranteed tracked. O(m) keyed
    * state — the live top-k/dominant-value monitor where exact
    * per-item counts (ST18 rollup) would grow with item cardinality.
    * Emits the full counter table with the per-key processed count
    * after every batch (latest = max n_processed). Within-batch
    * fold order is pinned by `idCol` for replay determinism; the
    * guarantees themselves hold under ANY order. */
  def runHeavyHitters(rows: DataFrame, keyCol: String, itemCol: String,
      idCol: String, m: Int): Dataset[HeavyHitter] = {
    require(m >= 1, s"m must be >= 1, got $m")
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col(keyCol).cast("long").as[Long],
        col(itemCol).cast("string").as[String],
        col(idCol).cast("long").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, String, Long)],
         state: GroupState[(Long, Map[String, (Long, Long)])]) =>
          var (n, counters) = state.getOption.getOrElse(
            (0L, Map.empty[String, (Long, Long)]))
          it.toArray.sortBy(_._3).foreach { r =>
            val item = r._2
            n += 1
            counters.get(item) match {
              case Some((c, e)) => counters += item -> (c + 1, e)
              case None if counters.size < m =>
                counters += item -> (1L, 0L)
              case None =>
                // evict the smallest counter (deterministic: min by
                // (count, item)); the newcomer inherits its count as err
                val (vi, (vc, _)) = counters.minBy(kv => (kv._2._1, kv._1))
                counters = counters - vi + (item -> (vc + 1, vc))
            }
          }
          state.update((n, counters))
          counters.toSeq.sortBy(_._1).iterator.map { case (i, (c, e)) =>
            HeavyHitter(key, i, c, e, n)
          }
      }
  }

  /** ST5b: the same per-user running stat on Spark 4's `transformWithState`
    * API (typed keyed state in the RocksDB state store — the modern
    * replacement for flatMapGroupsWithState; supports state TTL, timers,
    * and schema evolution in production deployments). */
  def userRunningStatsTws(events: DataFrame): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .transformWithState(new RunningStatProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** ST9: stream-stream interval join — each purchase enriched with the
    * same user's clicks from the preceding hour. Both sides carry
    * watermarks and the join condition is time-bounded: that pair is what
    * lets Spark evict join state (an unbounded stream-stream equi-join
    * would buffer both streams forever). At scale the state store holds
    * one watermark-width window of each side per key partition — bounded,
    * like the windowed aggregations. */
  def purchaseClickJoin(events: DataFrame,
                        watermark: String = "30 minutes",
                        joinType: String = "inner"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", watermark)
    // joinType "left_outer": purchases with NO click in the preceding
    // hour still emit (null click columns) — but only once the global
    // watermark passes the purchase's join window, because until then a
    // matching click could still arrive. Same evictable state as inner.
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"), joinType)
    // "left_semi": purchases with at least one preceding-hour click,
    // emitted once with no click columns — same watermark-evicted state
    if (joinType == "left_semi")
      joined.select(col("user_id"), col("p_id"), col("p_ts"),
        col("p_value"))
    else
      joined.select(col("user_id"), col("p_id"), col("c_id"),
        col("p_ts"), col("c_ts"), col("p_value"))
  }

  /** The one micro-batch drain of every `foreachBatch` runner below: run
    * `body(batch, batchId)` on each micro-batch until the input available
    * at start is processed (`Trigger.AvailableNow`), checkpointing at
    * `<ckptBase>/_ckpt`. Returns the completed query.
    *
    * Spark re-runs a batch id whose sink write finished but whose commit
    * did not, so every body keeps one replay layout (DESIGN.md
    * "Streaming"): it overwrites its own `batch_<id>` / `v_<id>`
    * directories, its standing read leaves its own directory out
    * ([[batchDirs]] `except`) or reads the highest version strictly below
    * its id, and it writes the store before the output and the main
    * output before any sidecar. A replayed batch then rewrites identical
    * rows. */
  private def drain(df: DataFrame, ckptBase: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = df.writeStream.foreachBatch(body)
      .option("checkpointLocation", s"$ckptBase/_ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** The child directories of `dir`, sorted by name; none when `dir` is
    * missing. */
  private def subdirs(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName)
  }

  /** The `batch_*` subdirectories of `dir`, sorted by name; none when
    * `dir` is missing. `except` leaves out `batch_<except>`, the replaying
    * batch's own landing. */
  private def batchDirs(spark: SparkSession, dir: String,
                        except: Option[Long] = None): Seq[String] =
    subdirs(spark, dir).collect {
      case p if p.getName.startsWith("batch_") &&
          !except.exists(id => p.getName == s"batch_$id") => p.toString
    }

  /** ST4 × L1 (VERDICT r2 item 4): streaming incremental exact dedup of a
    * document stream against a STANDING corpus digest store — the
    * production shape of a training-data ingest, where the dedup horizon
    * must be the full corpus history, not the watermark window that bounds
    * ST4's in-flight state.
    *
    * Each micro-batch runs [[graft.ops.Dedup.incrementalExactDedup]]
    * against every digest persisted by earlier batches plus any seeded
    * corpus digests, writes the kept rows to `outDir/batch_<id>`, and
    * appends the kept rows' digests to `digestDir/batch_<id>`. Seed the
    * standing corpus by writing [[graft.ops.Dedup.contentDigests]] to
    * `digestDir/batch_seed` before starting.
    *
    * Replay-safe by the [[drain]] layout; the naive append-digests design
    * would self-poison on replay (the replayed batch finds its own
    * digests and drops every row).
    *
    * Scale: per-batch work is one anti-join on 32-byte digests (AQE
    * broadcasts the batch side when small); the standing set lives in
    * parquet, never in the streaming state store, so state is O(1) in
    * corpus size. Digest-dir compaction (many small batch dirs → one) is
    * an offline concern, same as any streaming file sink. */
  def runIncrementalDedup(docs: DataFrame, idCol: String, textCol: String,
                          digestDir: String, outDir: String): StreamingQuery =
    drain(docs, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val priorDirs = batchDirs(spark, digestDir, except = Some(id))
      val prior =
        if (priorDirs.nonEmpty) spark.read.parquet(priorDirs: _*)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__h",
              org.apache.spark.sql.types.StringType))))
      val kept = Dedup.incrementalExactDedup(batch, idCol, textCol, prior)
        .cache()
      kept.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      kept.select(sha2(col(textCol), 256).as("__h")).distinct()
        .write.mode("overwrite").parquet(s"$digestDir/batch_$id")
      kept.unpersist()
    }

  /** ST × L17: streaming drift monitor — every micro-batch is PSI-scored
    * against a STANDING reference snapshot (the quality gate a
    * training-data ingest runs before a batch lands: did the incoming
    * value/length/score distribution move?). One psi row per (batch,
    * column) lands in `outDir/batch_<id>`, replay-safe by the [[drain]]
    * layout.
    *
    * Scale: the stream state store holds nothing (foreachBatch only);
    * per-batch cost is [[graft.ops.Drift.psi]]'s bucket counts — the
    * reference side's bucket table could be precomputed, but the
    * reference scan is one aggregation and the monitor stays a
    * two-liner; swap in a cached reference DataFrame if it dominates. */
  def runDriftMonitor(cur: DataFrame, reference: DataFrame,
                      cols: Seq[String], outDir: String,
                      buckets: Int = 10): StreamingQuery =
    drain(cur, outDir) { (batch, id) =>
      graft.ops.Drift.psi(reference, batch, cols, buckets)
        .withColumn("batch_id", lit(id))
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  /** ST20: streaming KS drift monitor — the distribution-shape
    * companion to [[runDriftMonitor]]'s PSI: each micro-batch is
    * two-sample-KS-tested per key against the STANDING reference
    * ([[graft.ops.Stats.ksTest]] with reference/batch as the two arms
    * of a tagged union), catching shifts PSI's fixed buckets smear
    * out. Replay-safe by the [[drain]] layout; reference is frozen (the
    * monitor defines drift AGAINST a pinned baseline — re-baselining is
    * an offline decision, not a side effect). State store holds
    * nothing. */
  def runKsDriftMonitor(cur: DataFrame, reference: DataFrame,
                        keyCol: String, valueCol: String,
                        outDir: String): StreamingQuery =
    drain(cur, outDir) { (batch, id) =>
      val tagged = reference
        .select(col(keyCol), col(valueCol), lit("ref").as("__side"))
        .unionByName(batch.select(col(keyCol), col(valueCol),
          lit("cur").as("__side")))
      graft.ops.Stats.ksTest(tagged, keyCol,
          col("__side") === "ref", col("__side") === "cur",
          col(valueCol))
        .withColumn("batch_id", lit(id))
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  /** ST27: streaming calibration monitor — each micro-batch of scored
    * outcomes lands ONE row of [[graft.ops.Stats.hosmerLemeshow]]
    * (χ², with degenerate-bin count) plus [[graft.ops.Stats
    * .expectedCalibrationError]]'s magnitude — the model-monitoring
    * twin of [[runDriftMonitor]]: drift watches the INPUTS, this
    * watches whether the model's scores still mean what they say.
    * Stateless foreachBatch, replay-safe by the [[drain]] layout; the
    * bin spec is frozen by the caller (re-binning is an offline
    * decision, the drift-monitor reference discipline). State store
    * holds nothing. */
  def runCalibrationMonitor(cur: DataFrame, scoreCol: String,
                            positiveCol: String, bins: Int, lo: Double,
                            hi: Double, outDir: String): StreamingQuery =
    drain(cur, outDir) { (batch, id) =>
      val hl = graft.ops.Stats.hosmerLemeshow(batch, col(scoreCol),
        col(positiveCol), bins, lo, hi)
      val ece = graft.ops.Stats.expectedCalibrationError(batch,
        col(scoreCol), col(positiveCol), bins, lo, hi).select(col("ece"))
      hl.crossJoin(org.apache.spark.sql.functions.broadcast(ece))
        .withColumn("batch_id", lit(id))
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  /** ST × L1++: streaming boilerplate-span excision against a FROZEN
    * boiler set — each micro-batch of documents is cleaned by
    * [[graft.ops.Dedup.exciseNgrams]] with the standing n-gram table
    * induced once over the seed corpus ([[graft.ops.Dedup
    * .boilerplateNgrams]]; the frozen-index discipline the IVF append
    * uses: no re-induction, ever, so a document cleans identically no
    * matter which batch delivers it). Replay-safe by the [[drain]]
    * layout.
    *
    * Scale: state store holds nothing; the boiler table is the only
    * standing state and is corpus-frequency-pruned (grams seen in >=
    * minDf docs), orders of magnitude smaller than the corpus. */
  def runBoilerplateExcision(docs: DataFrame, idCol: String,
                             textCol: String, boiler: DataFrame,
                             outDir: String, n: Int = 5): StreamingQuery =
    drain(docs, outDir) { (batch, id) =>
      graft.ops.Dedup.exciseNgrams(batch, idCol, textCol, boiler, n)
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  /** ST13 × L3+: streaming append into a STANDING IVF similarity index —
    * each micro-batch of embeddings is assigned to the frozen coarse
    * cells ([[graft.ops.Similarity.ivfAssign]]: the centroids inline as
    * literals, so the per-batch pass is a pure map-only projection with
    * zero joins) and lands under a per-batch-id directory. The same
    * frozen-quantizer append discipline as the batch path — no refit,
    * ever — which is what keeps cell ids stable across years of
    * batches; queries read the union of batch dirs with
    * [[graft.ops.Similarity.ivfTopKFromTables]]. Replay-safe by the
    * [[drain]] layout. The stream state store holds nothing. */
  def runIvfAppend(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, outDir: String): StreamingQuery =
    drain(emb, outDir) { (batch, id) =>
      graft.ops.Similarity.ivfAssign(batch, idCol, vecCol, centroids)
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  /** ST25 × L3+++++: streaming kNN-GRAPH append — [[graft.ops.Similarity.annJoin]]'s
    * stream twin (VERDICT r11 item 4): each micro-batch of embeddings
    * is ANN-joined (queries = the batch) against the standing corpus —
    * the union of the per-batch-id assignment dirs seeded with
    * [[graft.ops.Similarity.ivfAssign]] rows — PLUS the batch itself,
    * through the same FROZEN cells (no refit, the ST13 discipline), so
    * every arriving row gets its k nearest among everything admitted
    * up to and including its own batch (intra-batch neighbors count).
    * Edges land per-batch-id and the batch's assignments append for
    * future batches, replay-safe by the [[drain]] layout.
    * `excludeSelf = Some(true)`:
    * the batch's ids ARE in the union corpus (one shared id space),
    * so annJoin's structural queries-eq-corpus derivation would
    * otherwise keep trivial self-edges. Earlier rows' edge lists are
    * NOT revised by later arrivals — arrival-time kNN, the standard
    * append-only graph contract (a full rebuild is the batch annJoin
    * over the union). The stream state store holds nothing. */
  def runKnnGraphAppend(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, assignDir: String,
                        outDir: String, k: Int, nprobe: Int,
                        cellSplits: Int = 0): StreamingQuery = {
    import graft.ops.Similarity
    drain(emb, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val priorDirs = batchDirs(spark, assignDir, except = Some(id))
      val assigned = Similarity.ivfAssign(batch, idCol, vecCol, centroids)
        .cache() // feeds the union corpus AND the assignment landing
      val standing =
        if (priorDirs.nonEmpty)
          spark.read.parquet(priorDirs: _*).select("id", "arr")
            .unionByName(assigned.select("id", "arr"))
        else assigned.select("id", "arr")
      Similarity.annJoin(
          batch.select(col(idCol).as("id"), col(vecCol).as("arr")),
          standing, "id", "arr", centroids, k, nprobe, cellSplits,
          excludeSelf = Some(true))
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      assigned.write.mode("overwrite").parquet(s"$assignDir/batch_$id")
      assigned.unpersist()
    }
  }

  /** ST26: streaming incremental SRP near-dedup — the sign-random-
    * projection tier of the admit-a-batch family
    * ([[runIncrementalDedup]] digests, [[runIncrementalNearDedup]]
    * MinHash, [[runIncrementalSemDedup]] IVF cells): each micro-batch
    * runs [[graft.ops.Similarity.incrementalSrpNearDup]] against the
    * standing signature dirs (seed `sigDir/batch_seed` with
    * [[graft.ops.Similarity.srpSignatures]] rows over the same frozen
    * plane table — signatures are plane-deterministic so they stay
    * mutually joinable across runs), writes its kept rows, and appends
    * THEIR signatures for the next batch. Replay-safe by the [[drain]]
    * layout; the state store holds nothing and the
    * standing corpus is never re-read beyond its signature table.
    * `bucketSplits` is the inherited hot-bucket salt dial (r13 — 0 =
    * auto-profile the standing side per batch; pass the offline-
    * profiled dial to skip the per-batch profile pass at scale). */
  def runSrpDedup(emb: DataFrame, idCol: String, vecCol: String,
                  planes: DataFrame, bandBits: Int, sigDir: String,
                  outDir: String, threshold: Double,
                  bucketSplits: Int = 0): StreamingQuery = {
    import graft.ops.Similarity
    drain(emb, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val priorDirs = batchDirs(spark, sigDir, except = Some(id))
      val standing =
        if (priorDirs.nonEmpty) spark.read.parquet(priorDirs: _*)
        else Similarity.srpSignatures(batch.limit(0), idCol, vecCol,
          planes, bandBits)
      val (kept, keptSigs) = Similarity.incrementalSrpNearDup(batch,
        standing, idCol, vecCol, planes, bandBits, threshold,
        bucketSplits)
      kept.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      keptSigs.write.mode("overwrite").parquet(s"$sigDir/batch_$id")
    }
  }

  /** ST13's PQ sibling: stream micro-batches ENCODE against FROZEN
    * codebooks (the incremental-append discipline of a standing PQ
    * index — no retrain; `codebooks` is the persisted
    * [[graft.ops.Similarity.pqCodebooks]] table, reloaded once on the
    * driver, m·kCent rows). Replay-safe by the [[drain]] layout, like
    * [[runIvfAppend]]; the encoded batches union with the standing
    * encoded table for `pqTopK` queries. */
  def runPqAppend(emb: DataFrame, idCol: String, vecCol: String,
                  codebooks: DataFrame, outDir: String): StreamingQuery = {
    val cbs = graft.ops.Similarity.pqCodebooksFromTable(codebooks)
    drain(emb, outDir) { (batch, id) =>
      graft.ops.Similarity.pqAssign(batch, idCol, vecCol, cbs)
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
  }

  /** ST14 × L16+: streaming incremental SEMANTIC dedup — the embedding
    * tier of the admit-a-batch family ([[runIncrementalDedup]] exact,
    * [[runIncrementalNearDedup]] MinHash): each micro-batch runs
    * [[graft.ops.Similarity.incrementalSemDedup]] against the standing
    * per-batch-id assignment table (frozen cells from `centroids` —
    * seed the table with `assignDir/batch_seed` written by
    * [[graft.ops.Similarity.ivfAssign]]), writes its kept rows, and
    * appends THEIR assignments for the next batch. Replay-safe by the
    * [[drain]] layout; the state store holds nothing and the standing
    * corpus is never re-scanned beyond its assignment table. */
  def runIncrementalSemDedup(emb: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, assignDir: String,
                             outDir: String,
                             threshold: Double = 0.45): StreamingQuery = {
    import graft.ops.Similarity
    drain(emb, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val priorDirs = batchDirs(spark, assignDir, except = Some(id))
      val standing =
        if (priorDirs.nonEmpty) spark.read.parquet(priorDirs: _*)
        else Similarity.ivfAssign(batch.limit(0), idCol, vecCol, centroids)
      val (kept, _) = Similarity.incrementalSemDedup(batch, standing,
        idCol, vecCol, threshold, centroids)
      val keptC = kept.cache()
      keptC.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      Similarity.ivfAssign(keptC, idCol, vecCol, centroids)
        .write.mode("overwrite").parquet(s"$assignDir/batch_$id")
      keptC.unpersist()
    }
  }

  /** ST4 × L2: streaming incremental NEAR-dedup — [[runIncrementalDedup]]
    * with the LSH tier in place of content digests. Each micro-batch is
    * shingled and MinHash-signed ONCE, joined (banded bucket equi-join +
    * exact-Jaccard confirm) against the signature rows persisted by
    * earlier batches and the seeded corpus (`sigDir/batch_seed`, written
    * with [[graft.ops.Dedup.minHashSignatures]] — same shingleN /
    * numHashTables, signatures are seed-deterministic so
    * they stay mutually joinable across runs), then appends its kept
    * signatures. Replay-safe by the [[drain]] layout.
    *
    * COMPATIBILITY: `sigDir` must hold NATIVE (id, shs, sig) rows — a
    * directory seeded by the pre-round-6 MLlib signature path is not
    * readable (schema + hash family both changed; see
    * [[graft.ops.Dedup.minHashSignatures]]); re-seed it once.
    *
    * Scale: the stream state store holds NOTHING (foreachBatch only);
    * per-batch cost is batch-side signing plus a bucket join against the
    * standing signature table — corpus text is never re-read. */
  def runIncrementalNearDedup(docs: DataFrame, idCol: String, textCol: String,
                              sigDir: String, outDir: String,
                              shingleN: Int = 3, threshold: Double = 0.8,
                              numHashTables: Int = 16): StreamingQuery =
    drain(docs, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val priorDirs = batchDirs(spark, sigDir, except = Some(id))
      require(priorDirs.nonEmpty,
        s"seed the standing corpus first: write minHashSignatures to $sigDir/batch_seed")
      val corpusSigs = spark.read.parquet(priorDirs: _*)
      val (kept, keptSigs) = Dedup.incrementalMinHashNearDup(
        batch, idCol, textCol, corpusSigs, shingleN, threshold,
        numHashTables)
      kept.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      keptSigs.write.mode("overwrite").parquet(s"$sigDir/batch_$id")
    }

  /** ST16: streaming incremental IMAGE dedup — [[runIncrementalNearDedup]]
    * with the perceptual-dHash tier in place of MinHash text signatures.
    * Each micro-batch of media rows is dHash-signed ONCE
    * ([[graft.ops.Multimodal.imageDHashes]] — real decode, deterministic
    * nearest-neighbor rescale), banded-Hamming joined against the hash
    * rows persisted by earlier batches plus the seeded corpus
    * (`sigDir/batch_seed`, written with `imageDHashes`), then appends
    * its kept hashes. Replay-safe by the [[drain]] layout. Non-image
    * rows pass through to the output untouched. */
  def runIncrementalImageDedup(media: DataFrame, sigDir: String,
                               outDir: String,
                               maxDist: Int = 3): StreamingQuery =
    drain(media, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val priorDirs = batchDirs(spark, sigDir, except = Some(id))
      require(priorDirs.nonEmpty,
        s"seed the standing corpus first: write imageDHashes to $sigDir/batch_seed")
      val corpusHashes = spark.read.parquet(priorDirs: _*)
      val (kept, keptHashes) = graft.ops.Multimodal.incrementalImageNearDup(
        batch.as[graft.ops.Multimodal.MediaRow], corpusHashes, maxDist)
      kept.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      keptHashes.write.mode("overwrite").parquet(s"$sigDir/batch_$id")
    }

  /** Streaming upsert into a standing keyed table on plain parquet —
    * the landing mode of a CDC/update feed. Each micro-batch applies
    * [[graft.ops.Merge.upsert]] (latest `versionCol` wins within the
    * batch, matched keys replaced, new keys inserted) against the most
    * recent table version and writes the result as `tableDir/v_<batchId>`.
    *
    * Replay-safe by the [[drain]] layout: a batch reads the highest
    * version with id STRICTLY BELOW its own (the seed `v_seed` counts as
    * -1) and overwrites its own dir. Old versions are the
    * table's history — retention/compaction is an offline concern, as
    * with any versioned-table layout. Seed the table by writing the
    * initial state to `tableDir/v_seed`. */
  def runUpsert(updates: DataFrame, keyCol: String, versionCol: String,
                tableDir: String): StreamingQuery =
    runVersionedMerge(updates, tableDir,
      (current, batch) => graft.ops.Merge.upsert(current, batch, keyCol,
        versionCol))

  /** ST19: streaming CDC apply — a change feed with inserts, updates
    * AND deletes lands into a standing keyed snapshot
    * ([[runUpsert]] cannot remove keys). Each micro-batch merges
    * through [[graft.ops.Merge.applyChangesWithTombstones]]: the
    * standing table keeps winning deletes as tombstoned rows (op
    * retained), so a late out-of-order change with a lower sequence
    * cannot resurrect a deleted key — batch-by-batch apply is exactly
    * the one-shot apply over the concatenated feed, for ANY batch
    * split. The serving snapshot is `filter(op != deleteOp).drop(op)`.
    * Same `v_seed` + overwrite-own-version replay discipline as
    * [[runUpsert]]; seed with a tombstone-form table (op + seq
    * columns present). */
  def runApplyChanges(changes: DataFrame, keyCol: String,
                      seqCols: Seq[String],
                      tableDir: String): StreamingQuery =
    runVersionedMerge(changes, tableDir,
      (current, batch) => graft.ops.Merge.applyChangesWithTombstones(
        current.unionByName(batch), keyCol, seqCols))

  /** Streaming SCD Type-2: [[runUpsert]]'s versioned-table discipline
    * with [[graft.ops.Merge.scd2Apply]] as the merge — each micro-batch
    * closes/opens validity intervals in the dimension history. Same seed
    * (`v_seed`) and replay guarantees. */
  def runScd2(updates: DataFrame, keyCol: String, tsCol: String,
              attrCols: Seq[String], tableDir: String): StreamingQuery =
    runVersionedMerge(updates, tableDir,
      (current, batch) => graft.ops.Merge.scd2Apply(current, batch, keyCol,
        tsCol, attrCols))

  private def runVersionedMerge(updates: DataFrame, tableDir: String,
      merge: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    drain(updates, tableDir) { (batch, id) =>
      val spark = batch.sparkSession
      val versions = subdirs(spark, tableDir).collect {
        case p if p.getName == "v_seed" => (-1L, p.toString)
        case p if p.getName.startsWith("v_") &&
            p.getName.drop(2).forall(_.isDigit) =>
          (p.getName.drop(2).toLong, p.toString)
      }
      val prior = versions.filter(_._1 < id).sortBy(-_._1).headOption
      require(prior.nonEmpty,
        s"seed the standing table first: write the initial state to $tableDir/v_seed")
      val current = spark.read.parquet(prior.get._2)
      merge(current, batch)
        .write.mode("overwrite").parquet(s"$tableDir/v_$id")
    }

  /** The store-and-refresh runner of the funnel, interval-merge and
    * transitions feeds. Each micro-batch lands its `project`ion in
    * `storeDir/batch_<id>`, unions it with the prior store, keeps the
    * history of the batch's `key` values only (a semi-join), and writes
    * `recompute` of that history, tagged `__batch` with the batch id, to
    * `outDir/batch_<id>`. Per-batch cost is the affected keys' history,
    * never the key universe; the state store holds nothing. */
  private def refreshAffected(src: DataFrame, storeDir: String,
      outDir: String, key: String)(project: DataFrame => DataFrame)(
      recompute: DataFrame => DataFrame): StreamingQuery =
    drain(src, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val b = project(batch)
      b.write.mode("overwrite").parquet(s"$storeDir/batch_$id")
      val prior = batchDirs(spark, storeDir, except = Some(id))
      val store =
        if (prior.isEmpty) b
        else spark.read.parquet(prior: _*).unionByName(b)
      recompute(store.join(b.select(key).distinct(), Seq(key), "left_semi"))
        .withColumn("__batch", lit(id))
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  /** ST15: streaming incremental funnel — per-user ordered-funnel
    * snapshots maintained against a STANDING step-event store, the
    * real-time "where is every user in the signup→…→purchase journey"
    * feed.
    *
    * A pure state-machine funnel is NOT exact under out-of-order
    * arrival: a late earlier event for step i−1 can retroactively make
    * an already-seen step-i event eligible (greedy-earliest times only
    * ever move EARLIER as history fills in). Exactness therefore needs
    * the step-event history, not just the current (t₁…tₖ) tuple — so
    * each micro-batch appends its step-typed events to the store and
    * recomputes [[graft.ops.Funnel.funnel]] for AFFECTED users only
    * ([[refreshAffected]]); [[latestFunnel]] resolves last-write-wins
    * per user.
    *
    * Scale: the store holds only funnel-step events — a projection of
    * the log. */
  def runIncrementalFunnel(events: DataFrame, userCol: String,
                           typeCol: String, tsCol: String,
                           steps: Seq[String], storeDir: String,
                           outDir: String,
                           maxGap: Option[String] = None): StreamingQuery =
    refreshAffected(events, storeDir, outDir, "user")(
      _.filter(col(typeCol).isin(steps: _*))
        .select(col(userCol).as("user"), col(typeCol).as("step"),
          col(tsCol).as("ts")))(
      graft.ops.Funnel.funnel(_, "user", "step", "ts", steps, maxGap))

  /** ST21: streaming incremental interval stitching — per-key merged
    * activity islands ([[graft.ops.Intervals.mergeIntervals]])
    * maintained against a standing span store. Like the funnel (ST15),
    * a state-machine formulation is NOT exact under out-of-order
    * arrival: a late span can bridge two previously-separate islands,
    * so exactness needs the span history. Each micro-batch appends its
    * spans and re-merges AFFECTED keys only ([[refreshAffected]]);
    * [[latestIntervals]] resolves whole-latest-snapshot-wins per key
    * (an island row set is only valid atomically). */
  def runIntervalMerge(spans: DataFrame, keyCol: String, startCol: String,
                       endCol: String, tieCol: String, storeDir: String,
                       outDir: String): StreamingQuery =
    refreshAffected(spans, storeDir, outDir, "k")(
      _.select(col(keyCol).as("k"), col(startCol).as("s"),
        col(endCol).as("e"), col(tieCol).as("o")))(
      graft.ops.Intervals.mergeIntervals(_, "k", "s", "e", "o"))

  /** Current island table from [[runIntervalMerge]] snapshots:
    * per key, ALL rows of the key's latest batch (an island set is
    * atomic — mixing rows across batches would resurrect bridged
    * islands). */
  def latestIntervals(spark: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
    spark.read.parquet(s"$outDir/batch_*")
      .withColumn("__mx",
        org.apache.spark.sql.functions.max(col("__batch")).over(w))
      .filter(col("__batch") === col("__mx"))
      .drop("__mx", "__batch")
  }

  /** ST22: streaming incremental JOIN-view maintenance — a standing
    * materialized view V = A ⋈ B kept current from ONE tagged change
    * stream (the CDC-envelope shape: every row carries the side tag
    * plus the union of both sides' columns, nulls on the irrelevant
    * side). Each micro-batch splits into ΔA/ΔB, lands them in the
    * sides' batch-dir stores, and appends exactly
    * [[graft.ops.Rollup.joinDelta]] (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) to the view
    * — the standing A ⋈ B recompute never happens. Replay-safe by the
    * [[drain]] layout (the standing sides leave the current id out), so
    * a replay appends nothing twice. Append-only semantics, like the
    * batch operator; compose with the CDC tombstone landing for upserts.
    * [[currentJoinView]] reads the accumulated view. */
  def runJoinView(changes: DataFrame, sideCol: String, aSide: String,
                  key: String, aCols: Seq[String], bCols: Seq[String],
                  aDir: String, bDir: String,
                  viewDir: String): StreamingQuery =
    drain(changes, viewDir) { (batch, id) =>
      val spark = batch.sparkSession
      val da = batch.filter(col(sideCol) === aSide)
        .select(col(key) +: aCols.map(col): _*)
      val db = batch.filter(col(sideCol) =!= aSide)
        .select(col(key) +: bCols.map(col): _*)
      da.write.mode("overwrite").parquet(s"$aDir/batch_$id")
      db.write.mode("overwrite").parquet(s"$bDir/batch_$id")
      def standing(dir: String, delta: DataFrame): DataFrame = {
        val prior = batchDirs(spark, dir, except = Some(id))
        if (prior.isEmpty) delta.limit(0) else spark.read.parquet(prior: _*)
      }
      graft.ops.Rollup.joinDelta(standing(aDir, da), da,
          standing(bDir, db), db, key)
        .write.mode("overwrite").parquet(s"$viewDir/batch_$id")
    }

  /** The accumulated join view from [[runJoinView]] batch appends. */
  def currentJoinView(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.parquet(s"$viewDir/batch_*")

  /** ST17: streaming incremental transition matrix — per-user Markov
    * from→to counts maintained against a standing event store, exact
    * under out-of-order arrival: a late event SPLICES into a user's
    * sequence and rewrites two adjacent transitions, which a
    * count-only running state cannot undo but the stored history can.
    * Per-user counts are ADDITIVE across users, so each micro-batch
    * recomputes only the batch's users from the store
    * ([[refreshAffected]]) and snapshots their per-user rows
    * ([[graft.ops.Funnel.userTransitions]]); [[latestTransitions]]
    * folds the last-write-wins per-user rows into the global matrix. */
  def runIncrementalTransitions(events: DataFrame, userCol: String,
                                typeCol: String, tsCol: String,
                                tieCol: String, storeDir: String,
                                outDir: String): StreamingQuery =
    refreshAffected(events, storeDir, outDir, "user")(
      _.select(col(userCol).as("user"), col(typeCol).as("step"),
        col(tsCol).as("ts"), col(tieCol).as("tie")))(
      graft.ops.Funnel.userTransitions(_, "user", "step", "ts", "tie"))

  /** The global transition matrix from [[runIncrementalTransitions]]
    * output: each user's ENTIRE latest snapshot wins (per-row
    * last-write-wins would resurrect transitions a late splice
    * removed), then the per-user counts fold by plain summation (they
    * are additive across users). */
  def latestTransitions(spark: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user")
    spark.read.parquet(s"$outDir/batch_*")
      .withColumn("__mb",
        org.apache.spark.sql.functions.max("__batch").over(w))
      .filter(col("__batch") === col("__mb"))
      .groupBy("from_type", "to_type").agg(sum("n").as("n"))
  }

  /** ST18: streaming incremental rollup — maintain per-key mergeable
    * aggregate state ([[graft.ops.Rollup]]) from a stream without ever
    * rescanning raw history. Each micro-batch folds to its own state
    * table (`storeDir/batch_$id`, replay-safe by the [[drain]] layout);
    * the standing rollup is the
    * monoid fold of all batch states ([[currentRollup]]) — one shuffle
    * over pre-aggregated rows, so a replayed or out-of-order batch can
    * never double-count and the result is independent of arrival order
    * (asserted ≡ the batch operator in StreamingSuite). */
  def runRollup(raw: DataFrame, keys: Seq[String],
                measures: Seq[graft.ops.Rollup.Measure],
                storeDir: String): StreamingQuery =
    drain(raw, storeDir) { (batch, id) =>
      graft.ops.Rollup.aggregate(batch, keys, measures)
        .write.mode("overwrite").parquet(s"$storeDir/batch_$id")
    }

  /** ST28: streaming IVF assignment landing — the streaming twin of
    * the declarative `mode="ivf"` load (and the assignment half of
    * [[runKnnGraphAppend]] without the edge join): each micro-batch
    * admits only ids NOT already assigned in a prior batch dir,
    * assigns them against the FROZEN centroid table in one map-only
    * pass ([[graft.ops.Similarity.ivfAssign]] — cell ids stay stable
    * forever; re-training is the versioned
    * [[graft.ops.IndexLifecycle]]), optionally PQ-encodes with frozen
    * codebooks, and lands `outDir/batch_<id>`, replay-safe by the
    * [[drain]] layout; the state store holds nothing.
    *
    * GROWTH NOTE (ADVICE r14): the admit-once anti-join re-reads
    * every prior `batch_*` dir on each micro-batch, so per-batch cost
    * grows linearly with batch count (quadratic over a feed's
    * lifetime). For a long-lived feed, run [[compactIvfAssign]]
    * between stream runs to fold the batch dirs into one standing
    * table — the declarative `mode="ivf"` keeps one merged table for
    * the same reason. */
  def runIvfAssignAppend(emb: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, outDir: String,
                         codebooks: Option[Array[Array[Array[Double]]]] =
                           None): StreamingQuery =
    runIvfAssignImpl(emb, idCol, vecCol, centroids, outDir, codebooks,
      verOpt = None)

  /** ST29: the LIFECYCLE-COMPOSED twin of [[runIvfAssignAppend]] —
    * the streaming analogue of the declarative loads' `centroidsBase`
    * option: the live COMMITTED [[graft.ops.IndexLifecycle]] version
    * resolves ONCE at stream start (a retrain that commits mid-run
    * does not affect a running query; the next start picks it up),
    * every landed batch carries an `index_version` column, and the
    * run REFUSES to start when standing batch dirs were assigned
    * under a DIFFERENT version — streaming micro-batches are the
    * wrong place for a corpus-scale re-key, so the operator points at
    * [[rekeyIvfAssign]] (the maintenance pass that folds + re-keys in
    * one idempotent swap) instead of doing it silently per batch. */
  def runIvfAssignAppendVersioned(emb: DataFrame, idCol: String,
                                  vecCol: String, centroidsBase: String,
                                  outDir: String,
                                  codebooks: Option[Array[Array[Array[Double]]]] =
                                    None): StreamingQuery = {
    val spark = emb.sparkSession
    val (v, cents, _) =
      graft.ops.IndexLifecycle.resolve(spark, centroidsBase)
    standingVersion(spark, outDir).foreach { sv =>
      require(sv == v,
        s"runIvfAssignAppendVersioned: standing batch dirs under " +
          s"$outDir are at index_version $sv but the committed " +
          s"version under $centroidsBase is v$v — run " +
          "Streams.rekeyIvfAssign to fold + re-key them first " +
          "(a streaming micro-batch is the wrong place for a " +
          "corpus-scale re-key)")
    }
    runIvfAssignImpl(emb, idCol, vecCol, cents, outDir, codebooks,
      verOpt = Some(v))
  }

  /** The uniform `index_version` of a feed's standing batch dirs:
    * None when no dirs exist; Some(-1) marks a LEGACY/unversioned
    * layout (which the versioned runner refuses — its quantizer is
    * unknowable). Bounded driver read: one min() row. */
  private def standingVersion(spark: SparkSession,
                              outDir: String): Option[Int] = {
    val dirs = batchDirs(spark, outDir)
    if (dirs.isEmpty) return None
    // mergeSchema: with a MIXED legacy+versioned layout the inferred
    // schema would otherwise come from an arbitrary file — if it carries
    // index_version, the legacy dirs' rows read as NULL and a plain
    // min() would skip them, letting the versioned runner's
    // refuse-on-mismatch guard silently pass over un-re-keyed legacy
    // dirs (ADVICE r15). A null-row count now maps mixed layouts to the
    // legacy Some(-1) refusal, same as a fully-legacy layout.
    val st = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    if (!st.columns.contains("index_version")) Some(-1)
    else {
      val r = st.agg(
        org.apache.spark.sql.functions.min("index_version"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.when(
            col("index_version").isNull, 1))).collect()(0)
      if (r.getLong(1) > 0) Some(-1) // mixed legacy+versioned = legacy
      else if (r.isNullAt(0)) None
      else Some(r.getInt(0))
    }
  }

  private def runIvfAssignImpl(emb: DataFrame, idCol: String,
                               vecCol: String, centroids: DataFrame,
                               outDir: String,
                               codebooks: Option[Array[Array[Array[Double]]]],
                               verOpt: Option[Int]): StreamingQuery = {
    import graft.ops.Similarity
    drain(emb, outDir) { (batch, id) =>
      val spark = batch.sparkSession
      val priorDirs = batchDirs(spark, outDir, except = Some(id))
      val fresh =
        if (priorDirs.nonEmpty)
          batch.join(spark.read.parquet(priorDirs: _*)
            .select(col("id").as(idCol)), Seq(idCol), "left_anti")
        else batch
      val assigned0 = Similarity.ivfAssign(fresh, idCol, vecCol, centroids)
      val assigned1 = codebooks match {
        case Some(cb) => Similarity.withPqCode(assigned0, "arr", cb)
        case None => assigned0
      }
      val assigned = verOpt match {
        case Some(v) => assigned1.withColumn("index_version", lit(v))
        case None => assigned1
      }
      assigned.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
  }

  /** Delete the folded `batch_*` dirs of a compaction, all but
    * `batch_compacted` itself; returns how many were deleted. */
  private def dropFolded(spark: SparkSession, dirs: Seq[String]): Int = {
    val stale = dirs.map(new Path(_)).filter(_.getName != "batch_compacted")
    stale.foreach(d =>
      d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, true))
    stale.length
  }

  /** Fold a versioned feed's `batch_*` dirs into ONE standing
    * `batch_compacted` dir RE-KEYED under the live COMMITTED
    * lifecycle version — [[compactIvfAssign]] + the version bump in
    * one idempotent maintenance swap (the streaming counterpart of
    * the declarative `mode="ivf"` bump; run BETWEEN stream runs,
    * single-maintainer). Map-only from the stored `arr`; dedupes by
    * id, so a crash between the swap and the stale-dir deletes is
    * repaired by re-running. Returns the committed version the feed
    * now sits at. */
  def rekeyIvfAssign(spark: SparkSession, outDir: String,
                     centroidsBase: String,
                     codebooks: Option[Array[Array[Array[Double]]]] =
                       None): Int = {
    import graft.ops.Similarity
    val (v, cents, _) =
      graft.ops.IndexLifecycle.resolve(spark, centroidsBase)
    val dirs = batchDirs(spark, outDir)
    if (dirs.isEmpty) return v
    val merged = spark.read.parquet(dirs: _*).dropDuplicates("id")
    val reassigned0 = Similarity.ivfAssign(
      merged.select(col("id"), col("arr")), "id", "arr", cents)
    val reassigned = (codebooks match {
      case Some(cb) => Similarity.withPqCode(reassigned0, "arr", cb)
      case None => reassigned0
    }).withColumn("index_version", lit(v))
    graft.sources.Sinks.writeParquetSwapped(
      reassigned, s"$outDir/batch_compacted")
    dropFolded(spark, dirs)
    v
  }

  /** Fold an [[runIvfAssignAppend]] feed's `batch_*` dirs into ONE
    * standing dir (`batch_compacted`) so the admit-once anti-join
    * stops re-reading an ever-growing dir list — the mirror of the
    * declarative `mode="ivf"` layout's single merged table. Run it
    * BETWEEN stream runs (single-maintainer, like every maintenance
    * tier here); the compacted dir keeps the `batch_` prefix, so the
    * next run's anti-join sees it like any prior batch.
    *
    * Crash discipline: the fold dedupes by `idCol` and lands via
    * [[graft.sources.Sinks.writeParquetSwapped]]; old dirs are
    * deleted only AFTER the swap. A crash between swap and deletes
    * leaves ids duplicated across `batch_compacted` and stale dirs —
    * RE-RUNNING compact repairs it (the dedupe makes the fold
    * idempotent). Returns the number of dirs folded away. */
  def compactIvfAssign(spark: SparkSession, outDir: String,
                       idCol: String = "id"): Int = {
    val dirs = batchDirs(spark, outDir)
    if (dirs.length <= 1) return 0
    val merged = spark.read.parquet(dirs: _*).dropDuplicates(idCol)
    graft.sources.Sinks.writeParquetSwapped(merged, s"$outDir/batch_compacted")
    dropFolded(spark, dirs)
  }

  /** The standing rollup from [[runRollup]] output: merge every batch's
    * state table by the measures' monoid. */
  def currentRollup(spark: SparkSession, storeDir: String, keys: Seq[String],
                    measures: Seq[graft.ops.Rollup.Measure]): DataFrame = {
    val states = spark.read.parquet(s"$storeDir/batch_*")
    graft.ops.Rollup.merge(states.limit(0), states, keys, measures)
  }

  /** The current funnel table from [[runIncrementalFunnel]] output:
    * last write per user wins. */
  def latestFunnel(spark: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user").orderBy(col("__batch").desc)
    spark.read.parquet(s"$outDir/batch_*")
      .withColumn("__rk",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk", "__batch")
  }

  /** Run a streaming DataFrame to a named in-memory sink until all
    * currently-available data is processed (Trigger.AvailableNow —
    * deterministic replay, ST8). Returns the completed query. */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** ST7: the micro-batch bridge — every micro-batch DataFrame goes
    * through a full batch write (parquet here; any batch sink works),
    * overwriting its own `batch_<id>` so a replayed batch lands once.
    * This is exactly the reference's Kafka-fed micro-batch model. */
  def runForeachBatch(df: DataFrame, outDir: String): StreamingQuery =
    drain(df, outDir)((batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id"))

  /** File sink in append mode (ST7b). */
  def runToFiles(df: DataFrame, outDir: String): StreamingQuery = {
    val q = df.writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
