package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.sources.{Sinks, Sources}

/** Executes a `PipelineSpec`: extract → transform chain → load
  * (SURVEY.md §3.3 entry point 1 — the reference framework's main path).
  *
  * Each extract registers a temp view; each transform runs over the views
  * registered so far and registers its own result; each load writes one
  * view through the sink dispatch. All of it is one lazy Catalyst tree per
  * load — the runner performs no driver-side data movement.
  */
final case class LoadReport(format: String, target: String, source: String,
                            rows: Long = -1L, status: String = "ok",
                            attempts: Int = 1, error: Option[String] = None)
final case class PipelineReport(
    name: String, extracts: Int, transforms: Int, loads: Seq[LoadReport])

/** A load exhausted its retry budget and the spec did not opt into
  * `continueOnError` — siblings after it did not run. Status rows for
  * everything that DID run (including the failure) were written first. */
final class PipelineLoadException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

object PipelineRunner {

  def runJson(spark: SparkSession, json: String): PipelineReport =
    run(spark, PipelineSpec.fromJson(json))

  /** Dispatches on extension: `.xml` feeds parse via
    * [[PipelineSpec.fromXml]], everything else as JSON. `params` bind
    * the spec's `${name}` placeholders (run date, environment roots). */
  def runFile(spark: SparkSession, path: String,
              params: Map[String, String] = Map.empty): PipelineReport =
    run(spark, readSpec(path, params))

  private def readSpec(path: String, params: Map[String, String]): PipelineSpec = {
    val text = PipelineSpec.substitute(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8), params)
    if (path.endsWith(".xml")) PipelineSpec.fromXml(text)
    else PipelineSpec.fromJson(text)
  }

  /** Validate a spec against the real catalog without executing any
    * load: extracts and transforms are resolved and ANALYZED (so schema
    * errors, missing columns, and bad SQL all surface), and each load's
    * would-be physical plan is returned as text. The dry run triggers
    * zero jobs — analysis and planning are driver-side only. */
  def dryRun(spark: SparkSession, spec: PipelineSpec): Seq[(String, String)] =
    perLoad(spark, spec)(_.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

  /** Column-level lineage per load (see [[Lineage]]): resolve the feed
    * like [[dryRun]] — zero jobs — and return, for every load, the
    * map from each output column to the `view.column` leaves that feed
    * it. The impact-analysis entry point a feed repository runs in CI
    * next to the dry run. */
  def lineage(spark: SparkSession,
              spec: PipelineSpec): Seq[(String, Map[String, Set[String]])] =
    perLoad(spark, spec)(Lineage.columnLineage)

  private def perLoad[T](spark: SparkSession, spec: PipelineSpec)(
      f: DataFrame => T): Seq[(String, T)] = {
    val defaultSource = prepare(spark, spec)
    spec.loads.map { l =>
      val src = sourceOf(l, defaultSource)
      s"$src -> ${l.format}:${l.table.getOrElse(l.path)}" -> f(spark.table(src))
    }
  }

  /** The extract → transform prelude every entry point shares: registers
    * the engine's functions, a temp view per extract and per transform
    * (each transform analyzed as it registers, so a bad one fails here),
    * and returns the default load source — the last transform's view,
    * else the first extract's. */
  private def prepare(spark: SparkSession, spec: PipelineSpec): Option[String] = {
    graft.functions.Registry.registerAll(spark)
    spec.extracts.foreach { e =>
      Sources.read(spark, e.format, e.path, e.schema, e.options)
        .createOrReplaceTempView(e.view)
    }
    spec.transforms.foreach { tr =>
      val df: DataFrame = (tr.sql, tr.className) match {
        case (Some(sql), _) => spark.sql(sql)
        case (_, Some(cls)) =>
          val stage = Class.forName(cls).getDeclaredConstructor()
            .newInstance().asInstanceOf[TransformStage]
            .withOptions(tr.options)
          stage(spark, tr.inputs.map(v => v -> spark.table(v)).toMap)
        case _ => throw new IllegalStateException(s"transform ${tr.view}")
      }
      df.queryExecution.assertAnalyzed()
      df.createOrReplaceTempView(tr.view)
    }
    spec.transforms.lastOption.map(_.view)
      .orElse(spec.extracts.headOption.map(_.view))
  }

  private def sourceOf(l: LoadSpec, defaultSource: Option[String]): String =
    l.source.orElse(defaultSource).getOrElse(
      throw new IllegalArgumentException("load: no source view"))

  def run(spark: SparkSession, spec: PipelineSpec): PipelineReport = {
    val defaultSource = prepare(spark, spec)

    // Per-load retry with exponential backoff + failure isolation
    // (VERDICT r6 #6): each load gets 1 + retries attempts; a load that
    // exhausts them either records "failed" and lets siblings run
    // (continueOnError) or aborts the pipeline AFTER status rows for
    // everything that ran are persisted. Retrying a load is safe because
    // every sink mode is an overwrite, an append of this load's own
    // output, or the crash-safe swap — a half-written first attempt is
    // replaced, not doubled.
    val loadReports = scala.collection.mutable.ArrayBuffer.empty[LoadReport]
    spec.loads.foreach { l =>
      val src = sourceOf(l, defaultSource)
      val target = l.table.getOrElse(l.path)
      val maxAttempts = 1 + l.retries.getOrElse(0)
      val backoff = l.retryBackoffMs.getOrElse(100L)
      var attempt = 0
      var done: Option[LoadReport] = None
      var lastErr: Throwable = null
      while (done.isEmpty && attempt < maxAttempts) {
        attempt += 1
        try done = Some(executeLoad(spark, l, src).copy(attempts = attempt))
        catch { case e: Exception =>
          lastErr = e
          if (attempt < maxAttempts) Thread.sleep(backoff << (attempt - 1))
        }
      }
      loadReports += done.getOrElse {
        val failed = LoadReport(l.format, target, src, -1L, "failed",
          attempt, Some(Option(lastErr.getMessage).getOrElse(
            lastErr.getClass.getName)))
        if (!l.continueOnError.getOrElse(false)) {
          writeStatus(spark, spec, (loadReports :+ failed).toSeq)
          throw new PipelineLoadException(
            s"pipeline ${spec.name}: load $src -> ${l.format}:$target " +
              s"failed after $attempt attempt(s)", lastErr)
        }
        failed
      }
    }
    writeStatus(spark, spec, loadReports.toSeq)

    PipelineReport(spec.name, spec.extracts.size, spec.transforms.size,
      loadReports.toSeq)
  }

  /** Resolve the frozen centroid table for mode=knn/ivf: either the
    * static spec view (`centroids`) or — the lifecycle composition,
    * VERDICT r14 item 4 — the live COMMITTED version under an
    * [[graft.ops.IndexLifecycle]] base (`centroidsBase`). Resolved
    * ONCE at load start, so a retrain that commits mid-run cannot
    * split one run across two quantizers. Returns `(Some(version),
    * centroids)` on the lifecycle path, `(None, view)` on the static
    * path (whose behavior is bit-unchanged from before this option
    * existed — no version column is ever added there). */
  private def resolveCentroids(spark: SparkSession, l: LoadSpec,
                               mode: String): (Option[Int], DataFrame) =
    l.centroidsBase match {
      case Some(base) =>
        val (v, c, _) = graft.ops.IndexLifecycle.resolve(spark, base)
        (Some(v), c)
      case None =>
        (None, spark.table(l.centroids.getOrElse(
          throw new IllegalArgumentException(
            s"$mode load: 'centroids' or 'centroidsBase' required"))))
    }

  /** The uniform `index_version` of a standing assignment table —
    * None for a legacy/unversioned table (which forces one full
    * re-key on the first lifecycle-composed run: the quantizer the
    * legacy table froze is unknowable, so re-assigning under the
    * committed version is the only sound migration). Bounded driver
    * read: ONE min() row. */
  private def tableVersion(df: DataFrame): Option[Int] =
    if (!df.columns.contains("index_version")) None
    else {
      val r = df.agg(F.min("index_version")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getInt(0))
    }

  /** Tags assignment rows with the committed quantizer version (a no-op
    * on the static-centroids path). */
  private def stamp(df: DataFrame, ver: Option[Int]): DataFrame =
    ver.fold(df)(v => df.withColumn("index_version", F.lit(v)))

  /** A standing knn/ivf assignment table brought to the committed
    * version `ver`: as it stands on the static path or when already at
    * `ver`; re-keyed from its stored `arr` by `assign` (map-only — the
    * one corpus-scale pass a retrain already prices) when older;
    * refused when NEWER, which means the lifecycle base was pruned or
    * replaced and a silent downgrade would mix quantizers. */
  private def atVersion(st: DataFrame, ver: Option[Int], l: LoadSpec,
                        what: String)(
      assign: (DataFrame, String, String) => DataFrame): DataFrame =
    ver match {
      case Some(v) =>
        val sv = tableVersion(st)
        if (sv.contains(v)) st
        else if (sv.exists(_ > v)) throw new IllegalStateException(
          s"$what at index_version ${sv.get} is NEWER than the committed " +
            s"v$v under ${l.centroidsBase.get} — was the lifecycle base " +
            "pruned or replaced? refusing to silently downgrade")
        else assign(st.select("id", "arr"), "id", "arr")
      case None => st
    }

  /** The batch rows whose `key` is not yet assigned in `standing`. */
  private def unassigned(batch: DataFrame, standing: Option[DataFrame],
                         key: String): DataFrame =
    standing.fold(batch)(st =>
      batch.join(st.select(F.col("id").as(key)), Seq(key), "left_anti"))

  /** `standing` plus the rows of `add` whose `key` it does not hold yet,
    * so replaying a batch lands nothing twice. */
  private def appendNew(standing: Option[DataFrame], add: DataFrame,
                        key: String): DataFrame =
    standing.fold(add)(st => st.unionByName(
      add.join(st.select(F.col(key)), Seq(key), "left_anti")))

  /** `df` counting its rows as the write runs — observe() rides the write
    * job, where a count() would re-execute the plan — and a reader of the
    * count for after the write (-1 if it never ran). */
  private def counted(df: DataFrame): (DataFrame, () => Long) = {
    val obs = new org.apache.spark.sql.Observation()
    (df.observe(obs, F.count(F.lit(1)).as("rows")),
      () => scala.util.Try(obs.get("rows").asInstanceOf[Long]).getOrElse(-1L))
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** A swap-landing mode's merge result: the target's new contents, the
    * sidecar's (for modes that keep one), and what to release once both
    * are installed. */
  private final case class Merged(target: DataFrame,
                                  sidecar: Option[DataFrame] = None,
                                  release: () => Unit = () => ())

  /** One attempt of one load — the body of [[run]]'s retry loop.
    *
    * Every standing-target mode (upsert, cdc, rollup, dedup, knn, ivf,
    * scd2, zorder) lands through one skeleton, so each is only its merge
    * body: repair an interrupted swap of the target and its sidecar
    * (`Sinks.recoverSwap`); hand the merge the standing target, read
    * only if the mode touches it; observe the merged frame's row count
    * on its own write; install it with the crash-safe directory swap
    * (`Sinks.writeParquetSwapped` — the merged plan reads the directory
    * it replaces, so a plain overwrite would truncate its own input);
    * then swap the sidecar in. Target before sidecar: a crash between
    * the two swaps replays against the unchanged sidecar and recomputes
    * the same target, which the key anti-joins land only once. */
  private def executeLoad(spark: SparkSession, l: LoadSpec,
                          src: String): LoadReport = {
    val df0 = spark.table(src)
    // Output-file-count control: coalesce narrows without a shuffle;
    // repartition forces an exchange for exact write parallelism.
    val df1 = (l.repartition, l.coalesce) match {
      case (Some(n), _) => df0.repartition(n)
      case (_, Some(n)) => df0.coalesce(n)
      case _            => df0
    }
    def required(opt: Option[String], what: String): String =
      opt.getOrElse(throw new IllegalArgumentException(
        s"${l.mode} load: '$what' required"))
    def report(rows: Long) =
      LoadReport(l.format, l.table.getOrElse(l.path), src, rows)
    def swapLanded(sidecar: Option[String] = None)(
        merge: (=> Option[DataFrame]) => Merged): LoadReport = {
      Sinks.recoverSwap(df1, l.path)
      sidecar.foreach(Sinks.recoverSwap(df1, _))
      lazy val standing = readIfExists(spark, l.path)
      val m = merge(standing)
      // the figure is the row count of the frame written — the standing
      // count after the merge, however the mode consumes the batch
      val (target, rows) = counted(m.target)
      Sinks.writeParquetSwapped(target, l.path)
      for (dir <- sidecar; df <- m.sidecar) Sinks.writeParquetSwapped(df, dir)
      m.release()
      report(rows())
    }

    l.mode match {
      case "upsert" =>
        // declarative MERGE-INTO landing: latest-wins per key against
        // the standing parquet target
        val key = required(l.key, "key")
        val ver = required(l.versionCol, "versionCol")
        swapLanded() { standing =>
          Merged(standing.fold(df1)(graft.ops.Merge.upsert(_, df1, key, ver)))
        }
      case "cdc" =>
        // declarative CDC landing: the feed carries inserts/updates/
        // deletes ordered by seqCols; the standing table is kept in
        // TOMBSTONE form (winning deletes retained, op column intact)
        // so a later run's lower-sequence stragglers cannot resurrect
        // deleted keys — batch-by-batch landing equals the one-shot
        // apply (graft.ops.Merge.applyChangesWithTombstones). Readers
        // serve `op != 'D'`.
        val key = required(l.key, "key")
        swapLanded() { standing =>
          Merged(graft.ops.Merge.applyChangesWithTombstones(
            standing.fold(df1)(_.unionByName(df1)), key, l.seqCols))
        }
      case "rollup" =>
        // declarative incremental-rollup landing: the delta batch is
        // aggregated once and folded into the standing per-key state
        // table by the measures' monoid (graft.ops.Rollup) — history is
        // never rescanned. NOTE: additive semantics — each run must be a
        // NEW delta (exactly-once feed); replaying a batch is the
        // streaming runner's job (Streams.runRollup).
        val keys = l.rollupKeys
        val ms = l.measures.map(graft.ops.Rollup.parseMeasure)
        swapLanded() { standing =>
          val delta = graft.ops.Rollup.aggregate(df1, keys, ms)
          Merged(standing.fold(delta)(graft.ops.Rollup.merge(_, delta, keys, ms)))
        }
      case "dedup" =>
        // declarative incremental NEAR-DEDUP landing (the L2+ MinHash
        // tier as a feed surface — VERDICT r11 item 7): the batch is
        // shingled and signed ONCE, dropped against the standing
        // signature table at `<path>_sigs` (and against lower-id twins
        // within the batch — Dedup.incrementalMinHashNearDup), and the
        // survivors append to the standing corpus; their signatures
        // append to the sidecar so the NEXT feed run sees them.
        // Standing-corpus-dominates makes re-applying the same feed a
        // no-op. Standing corpus TEXT is never re-read — only its
        // signature table.
        val key = required(l.key, "key")
        val text = required(l.textCol, "textCol")
        val shingleN = l.dedupShingleN.getOrElse(3)
        val thr = l.dedupThreshold.getOrElse(0.8)
        val sigsPath = s"${l.path}_sigs"
        swapLanded(Some(sigsPath)) { standing =>
          // sidecar backfill (r12 ADVICE): a target landed before the
          // feed switched to mode=dedup has no `_sigs` — treating it as
          // an empty signature table would drop near-dup protection
          // against every standing doc. Sign the standing text ONCE and
          // install the sidecar with the same swap: a one-time
          // migration pass over the standing corpus.
          if (!exists(spark, sigsPath) && standing.nonEmpty)
            Sinks.writeParquetSwapped(graft.ops.Dedup.minHashSignatures(
              standing.get, key, text, shingleN), sigsPath)
          val sigs = readIfExists(spark, sigsPath)
          val (kept, keptSigs) = graft.ops.Dedup.incrementalMinHashNearDup(
            df1, key, text, sigs.getOrElse(graft.ops.Dedup.minHashSignatures(
              df1.limit(0), key, text, shingleN)), shingleN, thr)
          Merged(appendNew(standing, kept, key),
            Some(appendNew(sigs, keptSigs, "id")))
        }
      case "knn" =>
        // declarative ANN-MAINTENANCE landing (VERDICT r12 item 5 —
        // the batch form of Streams.runKnnGraphAppend): the target
        // holds the standing kNN edge table; the `<path>_assign`
        // sidecar holds the standing (id, cell, arr) assignments under
        // the FROZEN centroid table (no refit, ever, so cell ids stay
        // stable across feeds). Each run admits only ids NOT already
        // assigned (re-applying a feed is a no-op), ANN-joins the fresh
        // rows against standing ∪ fresh (intra-batch neighbors count,
        // trivial self-edges excluded), appends the edges, and lands the
        // fresh assignments for future runs.
        //
        // Lifecycle composition (VERDICT r14 item 4, the knn half): a
        // committed retrain re-keys the assignment SIDECAR under the new
        // version so future probes group under the new cells. The edge
        // table is untouched by a bump: its neighbors are exact cosine
        // results over the cells probed at their time — a quantizer
        // version changes only future candidate RECALL.
        val key = required(l.key, "key")
        val vec = required(l.vecCol, "vecCol")
        val assignPath = s"${l.path}_assign"
        swapLanded(Some(assignPath)) { standing =>
          val (ver, cents) = resolveCentroids(spark, l, "knn")
          def assign(df: DataFrame, k: String, v: String) =
            stamp(graft.ops.Similarity.ivfAssign(df, k, v, cents), ver)
          val standingAssign = readIfExists(spark, assignPath).map(
            atVersion(_, ver, l, "knn load: assignment sidecar")(assign))
          // cache: feeds the union corpus, the edge queries, and the
          // assignment landing — released after both swaps
          val freshAssigned =
            assign(unassigned(df1, standingAssign, key), key, vec).cache()
          val freshArr = freshAssigned.select("id", "arr")
          val edges = graft.ops.Similarity.annJoin(freshArr,
            standingAssign.fold(freshArr)(
              _.select("id", "arr").unionByName(freshArr)),
            "id", "arr", cents, l.knnK.getOrElse(10), l.knnProbe.getOrElse(2),
            excludeSelf = Some(true))
          Merged(appendNew(standing, edges, "qid"),
            Some(standingAssign.fold(freshAssigned)(_.unionByName(freshAssigned))),
            () => freshAssigned.unpersist())
        }
      case "ivf" =>
        // declarative ASSIGNMENT-TABLE landing (VERDICT r13 item 4 —
        // the retrieval-structure twin of mode=knn): the target holds
        // the standing (id, cell, arr[, code]) assignment table under
        // the FROZEN centroid view; an optional `codebooks` view
        // (subspace, centroid_id, centroid — the pqCodebooks layout)
        // adds the PQ code column, i.e. the fused IVF+PQ layout,
        // encoded with frozen codebooks. Each run admits only ids NOT
        // already assigned (re-applying a feed is a no-op; re-training
        // is a separate, versioned lifecycle — ops.IndexLifecycle).
        //
        // Lifecycle composition (VERDICT r14 item 4): with
        // `centroidsBase`, a committed RETRAIN re-keys the ENTIRE
        // standing table under v+1 in the SAME swapped write as the
        // batch admit: a crash before the swap leaves the old version's
        // table readable; a re-run recomputes the identical bump.
        val key = required(l.key, "key")
        val vec = required(l.vecCol, "vecCol")
        swapLanded() { standing =>
          val (ver, cents) = resolveCentroids(spark, l, "ivf")
          def encode(df: DataFrame): DataFrame = l.codebooks match {
            case Some(cbView) => graft.ops.Similarity.withPqCode(
              df, "arr",
              graft.ops.Similarity.pqCodebooksFromTable(spark.table(cbView)))
            case None => df
          }
          def assign(df: DataFrame, k: String, v: String) =
            stamp(encode(graft.ops.Similarity.ivfAssign(df, k, v, cents)), ver)
          val st = standing.map(
            atVersion(_, ver, l, "ivf load: standing table")(assign))
          val assigned = assign(unassigned(df1, st, key), key, vec)
          Merged(st.fold(assigned)(_.unionByName(assigned)))
        }
      case "scd2" =>
        // declarative SCD Type-2 landing: the feed batch's latest
        // change per key (by `versionCol`) closes a differing open row
        // at that timestamp and opens a new one
        // (graft.ops.Merge.scd2Apply); identical attributes are a
        // no-op, so re-applying a batch is idempotent. First run
        // bootstraps from an EMPTY current with the dimension schema
        // derived from the batch — every batch key then inserts as an
        // open row through the same code path.
        import org.apache.spark.sql.functions.{col, lit}
        val key = required(l.key, "key")
        val ts = l.versionCol.getOrElse(throw new IllegalArgumentException(
          "scd2 load: 'versionCol' (change-ts column) required"))
        val attrs = l.scdAttrs
        swapLanded() { standing =>
          val cur = standing.getOrElse(
            df1.select(col(key) +: attrs.map(col) :+
                col(ts).as("valid_from") :+
                lit(null).cast(df1.schema(ts).dataType).as("valid_to"): _*)
              .limit(0))
          Merged(graft.ops.Merge.scd2Apply(cur, df1, key, ts, attrs))
        }
      case "zorder" =>
        // declarative re-layout maintenance load (the Compact family's
        // clustering twin): rewrite the target z-order-clustered on
        // `zorderBy` into `zorderFiles` range-partitioned files, so
        // every file holds a small hyper-rectangle in the clustered
        // columns and zone maps prune multi-column predicates
        // (graft.ops.Layout.zorderByN — exact integer interleave over
        // equi-depth ranks). The usual spec's extract view IS the
        // target path, so the standing table arrives as the batch and
        // the skeleton's read is never taken.
        val nFiles = l.zorderFiles.getOrElse(8)
        swapLanded() { _ =>
          Merged(
            if (l.zorderCurve.contains("hilbert"))
              graft.ops.Layout.hilbertOrderBy(df1,
                l.zorderBy.head, l.zorderBy(1), nFiles = nFiles)
            else graft.ops.Layout.zorderByN(df1, l.zorderBy, nFiles = nFiles))
        }
      case "compact" =>
        // declarative small-file compaction (the maintenance twin of
        // mode=zorder without re-clustering): rewrite the target
        // directory into measured-bytes-sized files, optionally
        // range-clustered on `compactSortCol`
        // (graft.ops.Compact.compactDir — its own two-rename crash
        // recovery). The load's SOURCE view is conventionally the
        // target read back (the zorder convention) and is not
        // consumed: compaction is in-place maintenance, not a write
        // of new data.
        report(graft.ops.Compact.compactDir(spark, l.path,
          targetBytes = l.compactTargetBytes.getOrElse(128L << 20),
          sortCol = l.compactSortCol).rows)
      case _ =>
        val (df, rows) = counted(df1)
        Sinks.write(df, l.format, l.path, l.mode,
          l.partitionBy, l.options, l.table)
        report(rows())
    }
  }

  /** Persist one status row per load attempt outcome to the RDBMS named
    * by `statusJdbc` — the reference framework's job-status table
    * (SURVEY.md §0.2), previously trimmed to the status FILE
    * ([[reportJson]], which remains the fallback). Append-mode JDBC
    * through the registered DuckDB dialect (S6); the row carries the
    * retry count, so an operator can see flakiness that retries papered
    * over. No-op when the spec has no statusJdbc. */
  private def writeStatus(spark: SparkSession, spec: PipelineSpec,
                          reports: Seq[LoadReport]): Unit =
    spec.statusJdbc.foreach { url =>
      if (reports.nonEmpty) {
        import spark.implicits._
        val ts = new java.sql.Timestamp(System.currentTimeMillis())
        val rows = reports.zipWithIndex.map { case (r, i) =>
          (spec.name, i, r.format, r.target, r.source, r.status,
            r.attempts, r.rows, r.error.orNull, ts)
        }
        val df = rows.toDF("pipeline", "load_idx", "format", "target",
          "source", "status", "attempts", "rows", "error", "run_ts")
          .coalesce(1) // a handful of rows; one JDBC connection, not 8
        Sinks.write(df, "jdbc", "", mode = "append", options = Map(
          "url" -> url,
          "dbtable" -> spec.statusTable.getOrElse("graft_job_status"),
          "driver" -> "org.duckdb.DuckDBDriver"))
      }
    }

  /** Serialize a report as one JSON object (no external deps; the
    * reference persisted job status to an RDBMS — offline we write a
    * status file, SURVEY.md §3.1 entry point 3). */
  def reportJson(r: PipelineReport): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val loads = r.loads.map(l =>
      s"""{"format":${q(l.format)},"target":${q(l.target)},"source":${q(l.source)},"rows":${l.rows}""" +
        s""","status":${q(l.status)},"attempts":${l.attempts}""" +
        s""","error":${l.error.map(q).getOrElse("null")}}""")
      .mkString("[", ",", "]")
    s"""{"name":${q(r.name)},"extracts":${r.extracts},"transforms":${r.transforms},"loads":$loads}"""
  }

  /** CLI: `graft.pipeline.PipelineRunner --spec feed.json [--report out.json]`
    * (the reference's `spark-submit ... -feed path` surface). */
  def main(args: Array[String]): Unit = {
    val specPath = args.sliding(2).collectFirst {
      case Array("--spec", p) => p
    }.getOrElse(sys.error("usage: PipelineRunner --spec <feed.json> [--report out.json]"))
    val reportPath = args.sliding(2).collectFirst {
      case Array("--report", p) => p
    }
    // repeated --param name=value pairs bind ${name} in the spec text
    val params = args.sliding(2).collect {
      case Array("--param", kv) =>
        val i = kv.indexOf('=')
        require(i > 0, s"--param expects name=value, got '$kv'")
        kv.take(i) -> kv.drop(i + 1)
    }.toMap
    // EtlSession for parity with StreamingRunner: GraftExtensions, the
    // nanosAsLong flag (ns-timestamp parquet like events.parquet would
    // otherwise fail PARQUET_TYPE_ILLEGAL), AQE, UTC (ADVICE r1).
    val spark = graft.EtlSession.create(
      master = sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      appName = "graft-pipeline")
    try {
      if (args.contains("--dry-run") || args.contains("--lineage")) {
        val spec = readSpec(specPath, params)
        if (args.contains("--lineage")) {
          lineage(spark, spec).foreach { case (target, cols) =>
            println(s"== $target ==")
            cols.toSeq.sortBy(_._1).foreach { case (c, srcs) =>
              println(s"  $c <- ${srcs.toSeq.sorted.mkString(", ")}")
            }
          }
          println(s"pipeline ${spec.name}: lineage OK (no loads executed)")
          return
        }
        dryRun(spark, spec).foreach { case (target, plan) =>
          println(s"== $target ==")
          println(plan)
        }
        println(s"pipeline ${spec.name}: dry run OK (no loads executed)")
        return
      }
      val report = runFile(spark, specPath, params)
      reportPath.foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), reportJson(report)))
      println(s"pipeline ${report.name}: ${report.extracts} extracts, " +
        s"${report.transforms} transforms, ${report.loads.size} loads OK")
    } finally spark.stop()
  }
}
