package graft.ops

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.8c L3).
  *
  * Baseline: exact brute-force cosine top-k — a broadcast join when the
  * query side is small (the common case: q queries × N corpus), so the
  * corpus never shuffles and the kernel is the codegen'd
  * `cosine_similarity` expression.
  *
  * Scale paths for corpus×corpus or huge query sets:
  *  - BucketedRandomProjectionLSH on L2-normalized vectors (euclidean
  *    distance on unit vectors is monotone in cosine: cos = 1 - d²/2), so
  *    candidate generation is an equi-join on hash buckets.
  *  - IVF (inverted-file) via k-means coarse quantization: vectors are
  *    partitioned by nearest centroid; a query probes only `nprobe`
  *    nearest cells. Centroids are tiny → broadcast; the big side
  *    shuffles once at build time, never at query time.
  */
object Similarity {

  /** L2-normalized ML vector from a float-array column, built entirely from
    * codegen'd higher-order functions + MLlib's `array_to_vector` — no Scala
    * UDF in the index-build path (VERDICT r1 item 6). Zero vectors pass
    * through unnormalized. */
  private def normalizedVec(arr: Column): Column = {
    val dbl = transform(arr, _.cast("double"))
    val n = sqrt(aggregate(dbl, lit(0.0), (acc, x) => acc + x * x))
    array_to_vector(when(n === lit(0.0), dbl).otherwise(transform(dbl, _ / n)))
  }

  /** Exact cosine top-k: for each query vector (idCol in `queryIds`), the
    * k nearest corpus vectors. Query side is broadcast. */
  def exactTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryFilter: DataFrame => DataFrame, k: Int): DataFrame = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    val q = queryFilter(emb).select(col(idCol).as("q"), col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("v"), col(vecCol).as("cv"))
    val sim = expr("cosine_similarity(qv, cv)")
    val w = Window.partitionBy("q").orderBy(desc("sim"), col("v"))
    broadcast(q).join(c, col("q") =!= col("v"))
      .select(col("q"), col("v"), sim.as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q", "v", "sim", "rn")
  }

  /** Calibrated LSH join radius for a k-nearest search: the per-query
    * k-th-neighbor euclidean distance (on L2-normalized vectors, so
    * d = √(2 − 2·cos)) measured against a deterministic corpus sample,
    * maxed over queries, with 5% float headroom. Because the sample is a
    * subset of the corpus, its k-th-neighbor distance upper-bounds the true
    * one — a radius at this bound never excludes a true top-k neighbor, so
    * it costs NO recall relative to the full-sphere radius 2.0 while
    * letting the bucket join prune pairs beyond the bound (the round-2
    * no-pruning operating point, VERDICT r2 item 1). Falls back to 2.0
    * when the sample is too small to rank k neighbors. One tiny scalar
    * job at build time (q × sampleN cosines, sample broadcast). */
  def calibratedRadius(qv: DataFrame, vecs: DataFrame,
                       k: Int, sampleN: Int): Double = {
    val sample = vecs.select(col("id").as("sid"), col("arr").as("sarr"))
      .orderBy(xxhash64(col("sid"))).limit(sampleN) // deterministic top-k by hash
    val w = Window.partitionBy("id").orderBy("d")
    val row = qv.select(col("id"), col("arr"))
      .join(broadcast(sample), col("id") =!= col("sid"))
      .select(col("id"), sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * expr("cosine_similarity(arr, sarr)"))).as("d"))
      .filter(col("d").isNotNull) // zero-norm vectors: cosine is NULL
      .withColumn("rn", row_number().over(w)).filter(col("rn") === k)
      .agg(max("d")).head()
    if (row.isNullAt(0)) 2.0 else math.min(row.getDouble(0) * 1.05, 2.0)
  }

  /** ANN top-k via bucketed random projection LSH on normalized vectors.
    * Returns the same shape as exactTopK.
    *
    * Query sides of at most `exactMaxQueries` vectors dispatch to
    * [[exactTopK]] (the q77 pattern): broadcasting q query vectors against
    * the corpus does q·N codegen'd cosines in ONE scan with no fit, no
    * hash explode, no bucket shuffle — strictly cheaper than LSH whenever
    * q is small, at any corpus size, because the LSH candidate set is
    * already ≤ q·N. LSH pays for itself only when the QUERY side is large
    * (corpus×corpus-scale top-k), which is the regime the LSH branch keeps.
    *
    * On the LSH branch, `radius <= 0` (the default) auto-calibrates via
    * [[calibratedRadius]] instead of the full-sphere 2.0, so the bucket
    * join actually prunes; the calibrated bound provably covers every true
    * top-k neighbor, so recall losses come only from bucket non-collision
    * (validated >= 0.8 vs exact in the test suite). Candidates are ranked
    * by the exact codegen'd cosine on the RAW arrays, so whenever the
    * candidate set covers the true top-k the output is bit-identical to
    * exactTopK. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryFilter: DataFrame => DataFrame, k: Int,
              bucketLength: Double = 0.5, numHashTables: Int = 6,
              radius: Double = 0.0, exactMaxQueries: Long = 128,
              radiusSampleN: Int = 1000): DataFrame = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    // Bounded probe: counts at most exactMaxQueries+1 query rows.
    val nq = queryFilter(emb).limit(exactMaxQueries.toInt + 1).count()
    if (nq <= exactMaxQueries)
      return exactTopK(emb, idCol, vecCol, queryFilter, k)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("arr"))
      .withColumn("nv", normalizedVec(col("arr")))
      .transform(Cut.rows)
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("nv").setOutputCol("buckets")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(vecs)
    val q = queryFilter(emb).select(col(idCol).as("qid"))
    val qv = vecs.join(q, col("id") === col("qid"))
    val r = if (radius > 0) radius
            else calibratedRadius(qv, vecs, k, math.max(radiusSampleN, 4 * k))
    val cand = model.approxSimilarityJoin(qv, vecs, r, "dist")
      .select(col("datasetA.id").as("q"), col("datasetB.id").as("v"),
        expr("cosine_similarity(datasetA.arr, datasetB.arr)").as("sim"))
      .filter(col("q") =!= col("v"))
    val w = Window.partitionBy("q").orderBy(desc("sim"), col("v"))
    // vecs stays cached: the returned plan is lazy (see Dedup note).
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("q", "v", "sim", "rn")
  }

  /** Exact all-pairs cosine filter: every (a, b), a < b, with similarity
    * above `threshold`. The join is a comparison-only condition, so Spark
    * plans a broadcast-nested-loop with the codegen'd cosine in the filter —
    * right for a FILTERED/small vector set (the exploratory low-τ regime).
    * For full-corpus runs use the LSH path at high τ, where buckets prune. */
  def exactNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    val a = emb.select(col(idCol).as("a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("b"), col(vecCol).as("vb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("cosine_similarity(va, vb)").as("sim"))
      .filter(col("sim") > threshold)
  }

  /** Embedding near-duplicate pairs: all (a, b), a < b, with cosine
    * similarity above `threshold` — the embedding-space analogue of
    * MinHash near-dedup.
    *
    * High τ (>= `lshMinThreshold`): BRP-LSH on normalized vectors; for unit
    * vectors cosine ≥ τ ⟺ euclidean distance ≤ sqrt(2 − 2τ), so the LSH
    * join prunes candidates and the exact cosine (codegen'd expression)
    * confirms — never an N² cross join. `bucketLength <= 0` auto-sizes to
    * maxDist/2 so the buckets actually discriminate at the requested τ.
    *
    * Low τ: maxDist approaches the typical inter-point distance and 1-D
    * random projections stop separating near from far — the bucket join
    * degenerates toward all-pairs WITH a numHashTables-fold blowup (the
    * round-1 q77 pathology: 27 s where exact takes under a second). The
    * honest plan at low τ is [[exactNearDupPairs]], so dispatch there. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double,
                            bucketLength: Double = 0.0,
                            numHashTables: Int = 6,
                            lshMinThreshold: Double = 0.6): DataFrame = {
    if (threshold < lshMinThreshold)
      return exactNearDupPairs(emb, idCol, vecCol, threshold)
    graft.functions.Registry.registerAll(emb.sparkSession)
    val maxDist = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold))
    val bl = if (bucketLength > 0) bucketLength else math.max(maxDist / 2, 1e-3)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("arr"))
      .withColumn("nv", normalizedVec(col("arr")))
      .transform(Cut.rows)
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("nv").setOutputCol("buckets")
      .setBucketLength(bl).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(vecs)
    val out = model.approxSimilarityJoin(vecs, vecs, maxDist, "dist")
      .select(col("datasetA.id").as("a"), col("datasetB.id").as("b"),
        expr("cosine_similarity(datasetA.arr, datasetB.arr)").as("sim"))
      .filter(col("a") < col("b") && col("sim") > threshold)
    out
  }

  /** Sign-random-projection signatures (Charikar's SimHash for REAL
    * vectors — the cosine-LSH sibling of the token
    * [[graft.ops.Dedup.simHash]]): bit b of a vector is the SIGN of its
    * dot product with hyperplane b, so two vectors agree on a bit with
    * probability 1 − θ/π (θ = their angle) and near-parallel vectors
    * share whole bit-bands. `planes` is a bounded (plane, vec) table —
    * collected driver-side like a centroid table; plane indices must be
    * 0..nBits−1 with nBits a multiple of `bandBits`. Returns
    * (id, arr, bands): bands[i] packs bits i·bandBits..(i+1)·bandBits−1
    * into one integer band key.
    *
    * Map-only: every dot is a codegen'd fold against a literal plane —
    * zero shuffles, the [[cellExpr]] altitude. The dot (not cosine)
    * carries the sign so zero vectors take deterministic all-ones
    * bands (0 ≥ 0) instead of NULLs. */
  def srpSignatures(emb: DataFrame, idCol: String, vecCol: String,
                    planes: DataFrame, bandBits: Int): DataFrame = {
    require(bandBits >= 1 && bandBits <= 62,
      s"bandBits must be in [1, 62], got $bandBits")
    val ps = planes.select(col("plane").cast("int"), col("vec"))
      .collect()
      // Number.doubleValue: the plane column may be array<float/long/
      // double> (e.g. a FLOOR-quantized grid is array<bigint>) — a bare
      // getSeq[Double] would smuggle boxed Longs into the typedLit
      .map(r => (r.getInt(0),
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue)
          .toVector: Seq[Double]))
      .sortBy(_._1)
    require(ps.nonEmpty && ps.length % bandBits == 0,
      s"need plane count (${ps.length}) to be a positive multiple of " +
        s"bandBits=$bandBits")
    require(ps.map(_._1).toSeq == (0 until ps.length),
      "plane indices must be exactly 0..nBits-1")
    // r17 (VERDICT r16 item 5): an unrolled codegen'd
    // Σ get(arr,i)·plane(i) kernel was BUILT AND MEASURED against this
    // interpreted aggregate(zip_with(...)) dot — band-bit-identical on
    // the full fixture, but 20× slower as a CASE-guarded sum (the
    // dim-term branch blocks codegen's expression splitting → falls
    // back to interpreted eval with a per-term array cast) and still
    // 5× slower as a flat splittable sum + null-propagating length
    // guard (nBits·dim-node trees pay more in codegen than the lambda
    // interpreter costs on the signing pass: 0.59 s HOF vs 3.2 s
    // unrolled, sf0.1 min-of-2 — OPTIMIZATION_r17.md §5 records the A/B).
    // The HOF stays; the per-row lambda cost is bounded by nBits·dim
    // multiply-adds and the signing pass is map-only at any scale.
    def dot(vec: Seq[Double]): Column =
      aggregate(
        zip_with(col("arr").cast("array<double>"), typedLit(vec),
          (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val bandKeys = ps.grouped(bandBits).map { grp =>
      grp.zipWithIndex.map { case ((_, vec), j) =>
        when(dot(vec) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }.toSeq
    emb.select(col(idCol).as("id"), col(vecCol).as("arr"))
      .withColumn("bands", array(bandKeys: _*))
  }

  /** Hot-bucket salt dial for the SRP (band, key) bucket joins — the
    * [[annJoin]] auto-salt discipline in key-space form (VERDICT r12
    * item 1): a dominant-direction corpus collides whole bands, so one
    * bucket's n²/2 candidate pairs land in ONE task (join parallelism
    * is across keys; AQE cannot split a key). Returns
    * `(splits, hotBucketHashes)` — Nil means no salting.
    *
    * Two gates, both measured (AnnBench SRP_SKEW arm, r13):
    *
    *  1. VOLUME: below [[AutoSplitMinCellPairs]] pair-candidates in
    *     the hottest bucket, one task is fast and any salt is
    *     overhead (the annJoin fixture result).
    *  2. BROADCAST: if the whole exploded side fits Spark's broadcast
    *     threshold the planner hash-joins it WITHOUT a shuffle — the
    *     probe side keeps its input partitioning, the hot bucket is
    *     already spread across tasks, and the straggler does not
    *     exist (measured: the split sweep is FLAT under broadcast,
    *     50.2 → 13.1 s under the shuffle shape a corpus-scale side
    *     forces).
    *
    * Past the gates, the salt is applied to HOT BUCKETS ONLY
    * (membership by `xxhash64(band, key)` against the profiled ≥
    * gate-volume set, capped at the 1024 hottest; a hash collision
    * only salts a cold bucket — results are salt-invariant by
    * construction). Splitting everything would replicate the whole
    * corpus side ×s; hot-only confines the overhead to the mass that
    * actually stragglers. `splits = max(skew, spread)` clamped to
    * [1, 64], the annJoin sizing (the measured sweep kept improving
    * through 64 at a 7.7k-row hot bucket). The profile is one
    * map-side-combined aggregation over the (cached) signature
    * explode with a bounded ≤1024-row collect — at 100 TB accept the
    * pass or profile offline and pass the manual dial. */
  private def srpGuardOf(b: DataFrame): (Int, Seq[Long]) = {
    val bcThreshold0 =
      b.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // ZERO-JOB short-circuit on the PLANNER'S OWN size estimate: if
    // the exploded side's plan-time stats fit the broadcast threshold,
    // the planner will broadcast this exact side and no bucket can
    // straggler (gate 2 below, decided without running the profile —
    // at fixture scale the profile job itself was the guard's whole
    // cost). Stats overestimate parquet-backed frames (raw size ×
    // expansion), so a false KEEP-GOING just pays the cheap profile;
    // a fit is a real broadcast.
    if (bcThreshold0 >= 0 &&
        b.queryExecution.optimizedPlan.stats.sizeInBytes <= bcThreshold0)
      return (1, Nil)
    val counts = b.groupBy("band", "key").agg(count(lit(1)).as("n"))
    val prof = counts
      .agg(max("n").as("mx"), sum("n").as("tot"), count(lit(1)).as("nb"))
      .collect()(0)
    if (prof.isNullAt(0)) return (1, Nil)
    val mx = prof.getLong(0)
    val tot = prof.getLong(1)
    val nb = prof.getLong(2)
    // Double: gate heuristic only — a Long square overflows at
    // extreme bucket sizes and a negative estimate would disable the
    // salt exactly where it matters (the annJoin r12 ADVICE class)
    if (mx.toDouble * mx / 2.0 < AutoSplitMinCellPairs) return (1, Nil)
    val bcThreshold =
      b.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // ~48 B per unsafe (id, band, key) row — generous, so the guard
    // only stands down when a broadcast plan is clearly coming
    if (bcThreshold >= 0 && tot * 48L <= bcThreshold) return (1, Nil)
    val skew = math.ceil(mx.toDouble * nb / tot).toInt
    val spread = math.ceil(8.0 * b.sparkSession.sparkContext
      .defaultParallelism / nb).toInt
    val splits = math.min(64, math.max(1, math.max(skew, spread)))
    val hotMin = math.ceil(
      math.sqrt(2.0 * AutoSplitMinCellPairs)).toLong // pairs ≥ gate
    val hot = counts.filter(col("n") >= hotMin)
      .orderBy(desc("n"), col("band"), col("key"))
      .limit(1024)
      .select(xxhash64(col("band"), col("key")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    (splits, hot)
  }

  /** Salt one exploded (band, key) side with `pmod(xxhash64(id), s)`
    * and replicate the other ×s — HOT buckets only: a pair (x, y) in
    * a hot bucket matches exactly once, at y's replica carrying x's
    * salt; cold buckets join on the constant 0 replica. The split
    * changes task granularity only, never the pair set. A manual
    * dial (`hot = Nil`, splits > 1) salts every bucket. */
  private def hotBucketCol(hot: Seq[Long]): Column =
    if (hot.isEmpty) lit(true)
    else xxhash64(col("band"), col("key")).isin(hot: _*)

  private def saltBucketSide(df: DataFrame, idCol: String,
                             splits: Int, hot: Seq[Long]): DataFrame =
    df.withColumn("__s",
      if (splits == 1) lit(0)
      else when(hotBucketCol(hot),
          pmod(xxhash64(col(idCol)), lit(splits.toLong)).cast("int"))
        .otherwise(lit(0)))

  private def replicateBucketSide(df: DataFrame, splits: Int,
                                  hot: Seq[Long]): DataFrame =
    if (splits == 1) df.withColumn("__s", lit(0))
    else df
      .withColumn("__ss",
        when(hotBucketCol(hot), sequence(lit(0), lit(splits - 1)))
          .otherwise(array(lit(0))))
      .withColumn("__s", explode(col("__ss")))
      .drop("__ss")

  /** SRP-LSH near-duplicate pairs over an embedding column — the
    * third embedding near-dup tier next to the BRP-euclidean join
    * ([[embeddingNearDupPairs]]) and the IVF-cell SemDeDup
    * ([[semDedup]]): candidates are generated by BAND-KEY equality
    * (two vectors collide on band i iff all `bandBits` sign bits
    * agree — probability (1−θ/π)^bandBits per band), then confirmed
    * by the exact codegen'd cosine. Emits (a, b, sim), a < b, each
    * pair once.
    *
    * Scale shape: signatures are map-only; the ONE shuffle pair is the
    * (band, key) bucket equi-join + the unique-id fetch-back joins.
    * Expected bucket size is n/2^bandBits, so `bandBits` is the
    * task-granularity dial (the annJoin `cellSplits` argument in
    * key-space form): size it so 2^bandBits ≳ n / (acceptable bucket),
    * and buy recall back with more bands (nBits/bandBits tables, the
    * MinHash banding trade — recall ≈ 1−(1−(1−θ/π)^r)^bands). A
    * near-dup-DENSE bucket is the answer set itself, the semDedup
    * argument — but a dominant-direction corpus collides whole bands
    * on NON-dup mass at moderate bandBits, so the bucket join carries
    * the [[srpBucketSplitsOf]] hot-bucket salt (r13): `bucketSplits`
    * 0 = auto-profile (volume-gated, bounded 1-row collect), else the
    * manual dial (profile-once-offline at 100 TB). Results are
    * salt-invariant — suite-pinned. */
  def srpNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      planes: DataFrame, bandBits: Int,
                      threshold: Double,
                      bucketSplits: Int = 0): DataFrame = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    require(bucketSplits >= 0,
      s"bucketSplits must be >= 1, or 0 for auto, got $bucketSplits")
    // feeds the bucket join (twice), the auto-salt profile, and both
    // fetch-backs; the cut also keeps the corpus scan count flat
    val sigs = Cut.rows(srpSignatures(emb, idCol, vecCol, planes, bandBits))
    val b = sigs.select(col("id"),
      posexplode(col("bands")).as(Seq("band", "key")))
    val (splits, hot) =
      if (bucketSplits >= 1) (bucketSplits, Nil) else srpGuardOf(b)
    val cand = saltBucketSide(b, "id", splits, hot).as("x")
      .join(replicateBucketSide(b, splits, hot).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.__s") === col("y.__s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("a"),
        col("arr").cast("array<double>").as("va")), Seq("a"))
      .join(sigs.select(col("id").as("b"),
        col("arr").cast("array<double>").as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        expr("cosine_similarity(va, vb)").as("sim"))
      .filter(col("sim").isNotNull && round(col("sim"), 6) >= threshold)
  }

  /** Incremental SRP near-dedup — the sign-random-projection sibling of
    * [[incrementalSemDedup]] (and of `Dedup.incrementalMinHashNearDup`
    * in the text tier): the batch is SIGNED ONCE against the frozen
    * plane table, band-key-joined against the standing SIGNATURE table
    * (the standing corpus's vectors ride along in its persisted
    * (id, arr, bands) rows — never re-signed, never re-scanned as
    * source data), and candidates are confirmed with the exact
    * codegen'd cosine. A batch row drops when it has a ≥ threshold
    * neighbor in the standing corpus (standing dominates REGARDLESS of
    * id — the replay-safe asymmetry) or a lower-id twin within its own
    * batch. Returns (kept batch rows, their signature rows); append
    * the latter to the standing table to complete the increment. */
  def incrementalSrpNearDup(batch: DataFrame, standingSigs: DataFrame,
                            idCol: String, vecCol: String,
                            planes: DataFrame, bandBits: Int,
                            threshold: Double,
                            bucketSplits: Int = 0): (DataFrame, DataFrame) = {
    graft.functions.Registry.registerAll(batch.sparkSession)
    require(bucketSplits >= 0,
      s"bucketSplits must be >= 1, or 0 for auto, got $bucketSplits")
    // feeds the across-join, both within-join sides, and the
    // kept-signature anti-join
    val bs = Cut.rows(srpSignatures(batch, idCol, vecCol, planes, bandBits))
    def sides(df: DataFrame, s: String): DataFrame = df.select(
      col("id").as(s), col("arr").cast("array<double>").as(s"v$s"),
      posexplode(col("bands")).as(Seq("band", "key")))
    def confirmed(cand: DataFrame): DataFrame = cand
      .dropDuplicates("a", "b") // multi-band collisions confirm once
      .select(col("b").as("__victim"),
        expr("cosine_similarity(va, vb)").as("sim"))
      .filter(col("sim").isNotNull && round(col("sim"), 6) >= threshold)
      .select("__victim")
    // hot-bucket guard (r13, VERDICT r12 item 1): both band joins
    // inherit the srpBucketSplitsOf salt; auto profiles the STANDING
    // side — the side that grows — one bounded 1-row agg pass per
    // increment (at 100 TB profile once offline and pass the dial).
    // Standing/within a-sides are salted by id, the batch b-side is
    // replicated ×s — the pair set is invariant, only task
    // granularity changes.
    val aStanding = sides(standingSigs, "a")
    val (splits, hot) =
      if (bucketSplits >= 1) (bucketSplits, Nil)
      else srpGuardOf(
        aStanding.select(col("a").as("id"), col("band"), col("key")))
    val bSide = replicateBucketSide(sides(bs, "b"), splits, hot)
    val vsStanding = confirmed(
      saltBucketSide(aStanding, "a", splits, hot)
        .join(bSide, Seq("band", "key", "__s")))
    val withinBatch = confirmed(
      saltBucketSide(sides(bs, "a"), "a", splits, hot)
        .join(bSide, Seq("band", "key", "__s"))
        .filter(col("a") < col("b")))
    val victims = vsStanding.union(withinBatch).distinct()
    val kept = batch.join(victims, batch(idCol) === col("__victim"),
      "left_anti")
    val keptSigs = bs.join(victims, bs("id") === col("__victim"),
      "left_anti")
    (kept, keptSigs)
  }

  /** Driver-local Lloyd's k-means over the (bounded) training sample.
    * An IVF coarse quantizer only needs a balanced partition of the
    * space, and faiss-style practice trains it on a few thousand sampled
    * points regardless of corpus size — so the iterative part never
    * belongs on the cluster. Running it on the driver makes the fit
    * deterministic (fixed seed, fixed accumulation order: distributed
    * k-means sums partials in shuffle order, so its centroids drift
    * between runs at the last ulp) and replaces MLlib's per-iteration
    * job storm with zero jobs. Ties assign to the lowest cell. */
  private def localKMeans(pts: Array[Array[Double]], k: Int, maxIter: Int,
                          seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val dim = pts.head.length
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle(pts.indices.toVector).take(k)
      .map(i => pts(i).clone).toArray
    val assign = Array.fill(n)(-1)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < centers.length) {
          var d = 0.0; var j = 0
          val ct = centers(c); val p = pts(i)
          while (j < dim) { val t = p(j) - ct(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c } // strict < keeps the lowest cell on ties
          c += 1
        }
        if (assign(i) != best) { moved = true; assign(i) = best }
        i += 1
      }
      val sums = Array.fill(centers.length, dim)(0.0)
      val cnt = new Array[Int](centers.length)
      var p = 0
      while (p < n) {
        val a = assign(p); cnt(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += pts(p)(j); j += 1 }
        p += 1
      }
      var c = 0
      while (c < centers.length) {
        if (cnt(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / cnt(c); j += 1 }
        } else {
          centers(c) = pts(rnd.nextInt(n)).clone // empty cell: reseed
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** IVF index: assign every vector to its nearest of `nlist` centroids.
    * Returns (assignments(id, cell, arr), centroids(cell, centroid)).
    * Build-once, query-many.
    *
    * The coarse quantizer trains on a deterministic hash-ordered sample
    * of at most `trainSample` vectors (bounded driver memory at ANY
    * corpus size — faiss trains its quantizers the same way), then every
    * vector is assigned in ONE map-only pass via [[ivfAssign]]. Total
    * cluster work: one column-pruned scan for the sample top-k plus one
    * scan for assignment — no iterative distributed fitting. */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, trainSample: Int = 4096,
               maxIter: Int = 10): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(nlist > 0, s"nlist must be positive, got $nlist")
    val dbl = transform(col("__v"), _.cast("double"))
    val nrm = sqrt(aggregate(dbl, lit(0.0), (acc, x) => acc + x * x))
    val nv = when(nrm === lit(0.0), dbl).otherwise(transform(dbl, _ / nrm))
    val sampled = emb
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("id")), col("id")) // deterministic pseudo-random top-k
      .limit(trainSample) // TakeOrdered first: normalization runs on winners only
      .select(col("id"), nv.as("nva"))
      .collect() // bounded: ≤ trainSample × dim doubles, corpus-size independent
    require(sampled.nonEmpty, "ivfIndex: empty input")
    val pts = sampled.map(_.getSeq[Double](1).toArray)
    val kEff = math.min(nlist, pts.length)
    val centers = localKMeans(pts, kEff, maxIter, seed = 42L)
    // full double fidelity: the quantizer's assignment rule must be
    // reproducible from the persisted table alone
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    (ivfAssign(emb, idCol, vecCol, centroids), centroids)
  }

  /** Train the IVF coarse quantizer AND the PQ codebooks from ONE
    * deterministic bounded sample — r16 optimization (guide §1.2): the
    * fused IVF+PQ pipeline (q119) previously paid two IDENTICAL
    * TakeOrdered + normalize + collect sampling passes, one inside
    * [[ivfIndex]] and one inside [[pqIndex]]. Training here matches
    * both bit-for-bit (same hash-ordered sample, same seeds, same Lloyd
    * iterations), so (centroids, codebooks) — and therefore every
    * assignment, code and query result — are identical. */
  def ivfPqTrain(emb: DataFrame, idCol: String, vecCol: String,
                 nlist: Int = 16, m: Int = 8, kCent: Int = 16,
                 trainSample: Int = 4096, maxIter: Int = 10)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(nlist > 0, s"nlist must be positive, got $nlist")
    require(m > 0 && kCent > 1 && kCent <= 256,
      s"ivfPqTrain: need m > 0 and 2..256 centroids, got m=$m k=$kCent")
    val dbl = transform(col("__v"), _.cast("double"))
    val nrm = sqrt(aggregate(dbl, lit(0.0), (acc, x) => acc + x * x))
    val nv = when(nrm === lit(0.0), dbl).otherwise(transform(dbl, _ / nrm))
    val sampled = emb
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(trainSample)
      .select(nv.as("nva"))
      .collect() // bounded: ≤ trainSample × dim doubles
    require(sampled.nonEmpty, "ivfPqTrain: empty input")
    val pts = sampled.map(_.getSeq[Double](0).toArray)
    val dim = pts.head.length
    require(dim % m == 0, s"ivfPqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val centers = localKMeans(pts, math.min(nlist, pts.length), maxIter,
      seed = 42L)
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    val kEff = math.min(kCent, pts.length)
    val codebooks = Array.tabulate(m) { s =>
      localKMeans(pts.map(_.slice(s * dsub, (s + 1) * dsub)), kEff,
        maxIter, seed = 42L + s)
    }
    (centroids, codebooks)
  }

  /** Assign vectors to cells of a STANDING index using only the
    * (nlist-row) centroid table — the build path and the
    * incremental-append path (no refit; the coarse quantizer is frozen,
    * as in every production IVF). The centroids inline as literal
    * expressions, so assignment is a PURE PROJECTION with zero joins and
    * zero shuffles: argmin of euclidean distance in L2-normalized space
    * (lowest cell on ties), computed as
    *   |x̂ − c|² = 1 + |c|² − 2·x̂·c,   x̂·c = cos(arr, c)·|c|
    * so the per-centroid kernel is one codegen'd [[graft.functions
    * .CosineSimilarity]] dot product — no interpreted higher-order
    * lambdas in the corpus-sized pass. Zero vectors (cos → NULL) fall
    * back to dot 0, which shifts every cell's score by the same constant
    * and preserves the original all-ties → lowest-cell behavior. */
  /** Above this many centroids the per-centroid literal-column expansion
    * stops being the right plan: each centroid inlines its full vector
    * into the projection, so plan size and codegen method size grow
    * linearly with nlist (ADVICE r4) — and past the JIT's huge-method
    * bytecode limit the generated code runs INTERPRETED, which is the
    * worst of both worlds. Measured on a 50k-row 64-dim corpus
    * (AnnBench probe, round 7): warm assignment at nlist=16 inline
    * ≈ 3.4 s, nlist=32 inline ≈ 9.4 s, nlist=64 inline ≈ 15.5 s, while
    * the array-literal fallback is FLAT ≈ 3.4 s even at nlist=200. The
    * threshold sits at the crossover; the fallback keeps the same
    * zero-shuffle map-only shape with ONE array literal (interpreted
    * HOF lambda around the codegen'd cosine kernel). */
  private val InlineCentroidMax = 16

  /** [[annJoin]] auto-salt volume gate: below this many estimated
    * candidate cosines in the HOTTEST cell (maxC · nprobe·|C|/nlist,
    * the self-join-shaped |Q_cell| proxy), one cell is sub-second in a
    * single task and the salt's query-side explode + wider shuffle is
    * pure overhead — measured 3× loss on the sf0.1 fixture (~146k
    * candidates/cell) vs the 2.3× win at AnnBench's ~19.5M. 2²² sits
    * between them at the roughly-0.1 s-per-task point. */
  private val AutoSplitMinCellPairs = 1L << 22

  /** Driver-side snapshot of a (cell, centroid) table — nlist rows,
    * bounded at any corpus size. */
  private def collectCentroids(centroids: DataFrame): Array[(Int, Seq[Double])] = {
    val cents = centroids.select("cell", "centroid").collect()
      .map(r => (r.getAs[Number]("cell").intValue(),
        r.getSeq[Double](r.fieldIndex("centroid"))))
      .sortBy(_._1)
    require(cents.nonEmpty, "empty centroid table")
    cents
  }

  /** The argmin-cell expression shared by [[ivfAssign]] and
    * [[ivfPqIndex]] — see ivfAssign's scaladoc for the arithmetic. */
  private def cellExpr(cents: Array[(Int, Seq[Double])]): Column =
    if (cents.length <= InlineCentroidMax)
      array_min(array(cents.map { case (cell, cvec) =>
        val c2 = cvec.map(x => x * x).sum
        val cn = math.sqrt(c2)
        struct(
          (lit(1.0 + c2) - lit(2.0 * cn) *
            coalesce(graft.functions.Registry.cosineSim(
              col("arr"), typedLit(cvec)), lit(0.0))).as("d2"),
          lit(cell).as("cell"))
      }: _*)).getField("cell")
    else {
      val centArr = typedLit(cents.map { case (cell, cvec) =>
        val c2 = cvec.map(x => x * x).sum
        (cell, 1.0 + c2, 2.0 * math.sqrt(c2), cvec)
      }.toSeq)
      array_min(transform(centArr, c =>
        struct(
          (c.getField("_2") - c.getField("_3") *
            coalesce(graft.functions.Registry.cosineSim(
              col("arr"), c.getField("_4")), lit(0.0))).as("d2"),
          c.getField("_1").as("cell")))).getField("cell")
    }

  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    val cents = collectCentroids(centroids)
    // array_min over (d², cell) structs: field-wise ordering = argmin with
    // lowest-cell tiebreak. Small nlist: per-centroid literal columns, all
    // inside whole-stage codegen. Large nlist: one array-of-structs
    // literal + higher-order transform — same arithmetic, same map-only
    // plan, O(1) plan size in nlist (the HOF lambda is interpreted, but
    // the inner dot product is still the codegen'd cosine expression).
    emb.select(col(idCol).as("id"), col(vecCol).as("arr"))
      .withColumn("cell", cellExpr(cents))
      .select("id", "cell", "arr")
  }

  /** IVF query against an in-memory index build (delegates to the
    * table-driven path — same plan). */
  def ivfTopK(indexed: DataFrame, centroids: DataFrame,
              queryIds: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    ivfTopKFromTables(indexed, centroids, queryIds, k, nprobe)

  /** Product-quantization index (Jégou et al. 2011): split each
    * L2-normalized vector into `m` subvectors and store only the index
    * of the nearest of `kCent` per-subspace codebook centroids — m bytes
    * per vector (64-dim float32 at m=8 → 32× compression). Codebooks
    * train on the same bounded deterministic sample as [[ivfIndex]]
    * (driver-local Lloyd per subspace, fixed seeds); encoding is ONE
    * map-only pass through the codegen'd `pq_encode` expression with the
    * codebook attached as a JVM reference object. Returns
    * (encoded(id, code, arr), codebooks). At 100 TB the code column is
    * what a query-time scan reads — m bytes a row instead of 4·d. */
  def pqIndex(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, kCent: Int = 16, trainSample: Int = 4096,
              maxIter: Int = 10): (DataFrame, Array[Array[Array[Double]]]) = {
    val spark = emb.sparkSession
    graft.functions.Registry.registerAll(spark)
    require(m > 0 && kCent > 1 && kCent <= 256,
      s"pqIndex: need m > 0 and 2..256 centroids, got m=$m k=$kCent")
    val dbl = transform(col("__v"), _.cast("double"))
    val nrm = sqrt(aggregate(dbl, lit(0.0), (acc, x) => acc + x * x))
    val nv = when(nrm === lit(0.0), dbl).otherwise(transform(dbl, _ / nrm))
    val sampled = emb
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(trainSample)
      .select(nv.as("nva"))
      .collect()
    require(sampled.nonEmpty, "pqIndex: empty input")
    val pts = sampled.map(_.getSeq[Double](0).toArray)
    val dim = pts.head.length
    require(dim % m == 0, s"pqIndex: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val kEff = math.min(kCent, pts.length)
    val codebooks = Array.tabulate(m) { s =>
      localKMeans(pts.map(_.slice(s * dsub, (s + 1) * dsub)), kEff,
        maxIter, seed = 42L + s)
    }
    (pqAssign(emb, idCol, vecCol, codebooks), codebooks)
  }

  /** Encode vectors with FROZEN codebooks — the build path and the
    * incremental-append path (new batches encode against the standing
    * codebooks without retraining, like [[ivfAssign]]). One map-only
    * pass through the codegen'd `pq_encode`. */
  def pqAssign(emb: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame =
    withPqCode(emb.select(col(idCol).as("id"), col(vecCol).as("arr")),
      "arr", codebooks)

  /** Append a PQ `code` column with FROZEN codebooks, keeping every
    * existing column — the column-preserving form of [[pqAssign]]
    * (the declarative `mode="ivf"` landing encodes on top of the
    * (id, cell, arr) assignment frame). Same single map-only pass
    * through the codegen'd `pq_encode`. */
  def withPqCode(df: DataFrame, vecCol: String,
                 codebooks: Array[Array[Array[Double]]]): DataFrame = {
    graft.functions.Registry.registerAll(df.sparkSession)
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    df.withColumn("code", call_function("pq_encode", col(vecCol), cbLit))
  }

  /** The persistable codebook table: one row per (subspace, centroid).
    * Write this plus the encoded table to parquet and the PQ index is a
    * STANDING structure — m·kCent rows, broadcast-sized at any corpus
    * scale. [[pqCodebooksFromTable]] reloads it for queries and frozen
    * appends. */
  def pqCodebooks(codebooks: Array[Array[Array[Double]]],
                  spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
    }.toSeq.toDF("subspace", "centroid_id", "centroid")
  }

  /** Reload codebooks persisted via [[pqCodebooks]] (full double
    * fidelity — encodes reproduce bit-identically). */
  def pqCodebooksFromTable(table: DataFrame): Array[Array[Array[Double]]] = {
    val rows = table.select("subspace", "centroid_id", "centroid").collect()
      .map(r => (r.getAs[Number]("subspace").intValue(),
        r.getAs[Number]("centroid_id").intValue(),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray))
    require(rows.nonEmpty, "pqCodebooksFromTable: empty codebook table")
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }.toArray
  }

  /** ADC top-k over a PQ index: per query, rank the whole corpus from
    * the m-byte codes via a per-query lookup table (subspace × centroid
    * partial squared distances, built on the driver and broadcast with
    * the query), keep `rerankFactor`·k candidates, then re-rank those by
    * the exact codegen'd cosine on the raw vectors — the standard
    * ADC + re-rank pipeline. Query side follows the exactTopK broadcast
    * regime (small query count).
    *
    * Scale shape of the ranking stage: the ADC pass touches ONLY
    * (id, code) — the raw vectors never travel with the ranked rows, so
    * the per-row payload is the m bytes PQ promises, and the
    * `row_number <= k·rerank` filter over the window lets Spark's
    * window-group-limit rewrite keep at most k·rerank rows per query on
    * EACH map partition before the exchange (asserted in the test
    * suite), so the shuffle moves ≤ partitions·k·rerank rows per query
    * instead of the whole corpus into one reducer. Survivors
    * (≤ queries·k·rerank rows, broadcast-sized by construction) then
    * join BACK to the encoded table for the raw vectors — the encoded
    * side streams through a broadcast-hash join with no shuffle. */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
             queryIds: DataFrame, k: Int, rerankFactor: Int = 4): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    graft.functions.Registry.registerAll(spark)
    require(k > 0 && rerankFactor >= 1, s"pqTopK: bad k=$k factor=$rerankFactor")
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val qv = encoded
      .join(broadcast(queryIds.select(col(queryIds.columns.head).as("qid"))),
        col("id") === col("qid"))
      .select(col("id"), transform(col("arr"), _.cast("double")).as("qa"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getSeq[Double](1).toArray))
    require(qv.nonEmpty, "pqTopK: no query vectors found")
    val luts = qv.map { case (qid, raw) =>
      val n = math.sqrt(raw.map(x => x * x).sum)
      val q = if (n == 0.0) raw else raw.map(_ / n)
      val lut = Array.tabulate(m) { s =>
        codebooks(s).map { c =>
          var d = 0.0; var j = 0
          while (j < dsub) {
            val t = q(s * dsub + j) - c(j); d += t * t; j += 1
          }
          d
        }.toSeq
      }.toSeq
      (qid, raw.toSeq, lut)
    }.toSeq
    val lutDf = luts.map { case (q, _, lut) => (q, lut) }.toDF("q", "lut")
    val qarrDf = luts.map { case (q, qa, _) => (q, qa) }.toDF("q", "qarr")
    val wAdc = Window.partitionBy("q").orderBy(col("adist"), col("v"))
    val survivors = encoded.select(col("id"), col("code"))
      .crossJoin(broadcast(lutDf))
      .filter(col("id") =!= col("q"))
      .select(col("q"), col("id").as("v"),
        call_function("pq_adc", col("code"), col("lut")).as("adist"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k * rerankFactor)
      .select("q", "v")
    val w = Window.partitionBy("q").orderBy(desc("sim"), col("v"))
    broadcast(survivors)
      .join(encoded.select(col("id").as("v"), col("arr")), Seq("v"))
      .join(broadcast(qarrDf), Seq("q"))
      .select(col("q"), col("v"),
        expr("cosine_similarity(qarr, arr)").as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q", "v", "sim", "rn")
  }

  /** Fused IVF+PQ index build (the faiss IVFPQ composition): ONE
    * map-only projection assigns each vector its coarse cell AND its
    * m-byte PQ code — zero joins, zero shuffles, both kernels codegen'd.
    * Returns (id, cell, code, arr). Persist (this table minus arr's
    * hot copies, the centroid table, the codebook table) and the index
    * is a standing structure: query-time scans read `nprobe` cells'
    * worth of m-byte codes — the multiplicative pruning (nprobe/nlist ×
    * m/4d bytes) that makes billion-vector search tractable. */
  def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame,
                 codebooks: Array[Array[Array[Double]]]): DataFrame = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    val cents = collectCentroids(centroids)
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    emb.select(col(idCol).as("id"), col(vecCol).as("arr"))
      .withColumn("cell", cellExpr(cents))
      .withColumn("code", call_function("pq_encode", col("arr"), cbLit))
      .select("id", "cell", "code", "arr")
  }

  /** IVF+PQ top-k: probe the `nprobe` best cells per query (ranked on
    * the driver against the nlist-row centroid snapshot — zero jobs),
    * ADC-rank only the probed cells' codes, then exact-rerank the
    * survivors. The scan side of the rank stage touches (cell, id,
    * code) only and meets the per-query probe list in a broadcast
    * equi-join ON cell; the rank filter group-limits map-side like
    * [[pqTopK]]. The full faiss-style query pipeline, in three bounded
    * stages. */
  def ivfPqTopK(encoded: DataFrame, centroids: DataFrame,
                codebooks: Array[Array[Array[Double]]],
                queryIds: DataFrame, k: Int, nprobe: Int = 4,
                rerankFactor: Int = 4): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    graft.functions.Registry.registerAll(spark)
    require(k > 0 && nprobe > 0 && rerankFactor >= 1,
      s"ivfPqTopK: bad k=$k nprobe=$nprobe factor=$rerankFactor")
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val cents = collectCentroids(centroids)
    val qv = encoded
      .join(broadcast(queryIds.select(col(queryIds.columns.head).as("qid"))),
        col("id") === col("qid"))
      .select(col("id"), transform(col("arr"), _.cast("double")).as("qa"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getSeq[Double](1).toArray))
    require(qv.nonEmpty, "ivfPqTopK: no query vectors found")
    def lutOf(raw: Array[Double]): Seq[Seq[Double]] = {
      val n = math.sqrt(raw.map(x => x * x).sum)
      val q = if (n == 0.0) raw else raw.map(_ / n)
      Seq.tabulate(m) { s =>
        codebooks(s).map { c =>
          var d = 0.0; var j = 0
          while (j < dsub) {
            val t = q(s * dsub + j) - c(j); d += t * t; j += 1
          }
          d
        }.toSeq
      }
    }
    // probe ranking on the driver, same metric as ivfAssign:
    // d² = 1 + |c|² − 2|c|·cos(q, c), ascending, ties → lowest cell
    def probesOf(raw: Array[Double]): Seq[Int] = {
      val qn = math.sqrt(raw.map(x => x * x).sum)
      cents.map { case (cell, cvec) =>
        val c2 = cvec.map(x => x * x).sum
        val dot = cvec.zipWithIndex.map { case (c, i) => c * raw(i) }.sum
        val cos = if (qn == 0.0 || c2 == 0.0) 0.0 else dot / (qn * math.sqrt(c2))
        (1.0 + c2 - 2.0 * math.sqrt(c2) * cos, cell)
      }.sortBy(identity).take(nprobe).map(_._2).toSeq
    }
    // probe pairs and LUTs broadcast SEPARATELY: a combined table would
    // carry each query's m×kCent LUT nprobe times (at 10k queries ×
    // nprobe 32 that inflates the broadcast ~32×)
    val probePairs = qv.flatMap { case (qid, raw) =>
      probesOf(raw).map(cell => (qid, cell))
    }.toSeq.toDF("q", "cell")
    val lutDf = qv.map { case (qid, raw) => (qid, lutOf(raw)) }.toSeq
      .toDF("q", "lut")
    val qarrDf = qv.map { case (qid, raw) => (qid, raw.toSeq) }.toSeq
      .toDF("q", "qarr")
    val wAdc = Window.partitionBy("q").orderBy(col("adist"), col("v"))
    val survivors = encoded.select(col("id"), col("cell"), col("code"))
      .join(broadcast(probePairs), Seq("cell"))
      .filter(col("id") =!= col("q"))
      .join(broadcast(lutDf), Seq("q"))
      .select(col("q"), col("id").as("v"),
        call_function("pq_adc", col("code"), col("lut")).as("adist"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k * rerankFactor)
      .select("q", "v")
    val w = Window.partitionBy("q").orderBy(desc("sim"), col("v"))
    broadcast(survivors)
      .join(encoded.select(col("id").as("v"), col("arr")), Seq("v"))
      .join(broadcast(qarrDf), Seq("q"))
      .select(col("q"), col("v"),
        expr("cosine_similarity(qarr, arr)").as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q", "v", "sim", "rn")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication that only compares embeddings INSIDE the same
    * k-means cell — the published recipe for embedding-space dedup at
    * web-corpus scale, because the all-pairs graph is quadratic but
    * within-cell pairs are ~N²/nlist for balanced cells. A row is
    * dropped when a lower-id row in its cell has cosine ≥ `threshold`
    * (the keep-lowest-id greedy rule every other dedup tier here uses).
    *
    * Exact duplicates always share a cell (identical vectors get
    * identical centroid distances), so exact-dup recall is 1.0 by
    * construction; near-dup pairs split across a cell boundary are
    * missed — that is SemDeDup's documented recall trade-off, bounded by
    * the containment property in the test suite (removals are always a
    * subset of the true ≥ threshold pair graph). Shuffles once on cell;
    * size `nlist` so N/nlist fits a task's pair loop (at 100 TB that
    * means nlist in the thousands, and the nlist-row centroid table
    * still broadcasts). Returns (kept, droppedPairs). */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int = 16,
               trainSample: Int = 4096): (DataFrame, DataFrame) = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    val (indexed, _) = ivfIndex(emb, idCol, vecCol, nlist, trainSample)
    semDedupFromIndexed(emb, idCol, indexed, threshold)
  }

  /** SemDeDup against a SUPPLIED centroid table (cell, centroid) — the
    * standing-index path: a persisted/externally-chosen coarse quantizer
    * partitions the space and every batch dedups against the same frozen
    * cells ([[ivfAssign]]'s append discipline). Because the assignment
    * rule is pure arithmetic from the centroid table, this variant is
    * fully re-derivable in the cross-engine oracle (the q108 promotion
    * path), unlike the trained-quantizer [[semDedup]]. */
  def semDedupWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double,
                            centroids: DataFrame): (DataFrame, DataFrame) = {
    graft.functions.Registry.registerAll(emb.sparkSession)
    semDedupFromIndexed(emb, idCol,
      ivfAssign(emb, idCol, vecCol, centroids), threshold)
  }

  /** Incremental SemDeDup — the admit-a-batch mode every standing
    * corpus runs (the embedding-tier sibling of
    * [[Dedup.incrementalExactDedup]] / `incrementalMinHashNearDup`):
    * the batch is assigned to the FROZEN cells of the standing index,
    * compared only against standing rows in the same cells plus
    * earlier rows of its own batch, and batch rows with a ≥ threshold
    * neighbor drop. Standing rows are NEVER dropped (they are already
    * admitted — that asymmetry is what makes replay safe), and they
    * dominate REGARDLESS of id order: earlier-admitted wins across
    * batches (the incrementalExactDedup convention), lowest id wins
    * within a batch. Returns
    * (kept batch rows, dropped pairs); append the kept rows' frozen
    * assignments to the standing table ([[ivfAssign]]) and the index
    * stays consistent for the next batch.
    *
    * Scale shape: one map-only assignment pass over the BATCH, one
    * equi-join on cell against the standing assignments (the standing
    * corpus is never re-assigned or re-scanned beyond its persisted
    * (id, cell, arr) table), one within-batch cell join — batch-sized,
    * not corpus-sized, per admission. */
  def incrementalSemDedup(batch: DataFrame, standing: DataFrame,
                          idCol: String, vecCol: String,
                          threshold: Double,
                          centroids: DataFrame): (DataFrame, DataFrame) = {
    graft.functions.Registry.registerAll(batch.sparkSession)
    // r17 (VERDICT r16 item 6): cache the batch assignment — consumed
    // by the standing join's probe side AND both sides of the
    // within-batch join, each of which re-evaluated the inline
    // centroid cosine projection (plus its Filter copy) uncached.
    val b = ivfAssign(batch, idCol, vecCol, centroids).transform(Cut.rows)
    val bSide = b.select(col("cell"), col("id").as("b"), col("arr").as("vb"))
    val vsStanding = standing
      .select(col("cell"), col("id").as("a"), col("arr").as("va"))
      .join(bSide, Seq("cell"))
      .select(col("cell"), col("a"), col("b"),
        expr("cosine_similarity(va, vb)").as("sim"))
      .filter(col("sim") >= threshold)
    val aSide = b.select(col("cell"), col("id").as("a"), col("arr").as("va"))
    val withinBatch = aSide.join(bSide, Seq("cell"))
      .filter(col("a") < col("b"))
      .select(col("cell"), col("a"), col("b"),
        expr("cosine_similarity(va, vb)").as("sim"))
      .filter(col("sim") >= threshold)
    val pairs = vsStanding.unionByName(withinBatch)
    val victims = pairs.select(col("b").as("__victim")).distinct()
    val kept = batch.join(victims, batch(idCol) === col("__victim"),
      "left_anti")
    (kept, pairs)
  }

  private def semDedupFromIndexed(emb: DataFrame, idCol: String,
                                  indexed: DataFrame,
                                  threshold: Double): (DataFrame, DataFrame) = {
    // r17 (VERDICT r16 item 6): cache the assignment. The cell column
    // is an inline nlist-centroid cosine projection; the uncached
    // self-join evaluated it FOUR times over the corpus (the join's
    // isnotnull(cell) Filter plus the Project, on EACH side — no CSE
    // across operators), and
    // every copy is a centroid-literal tree the optimizer and codegen
    // pay for separately (plans/r17/q108_semdedup_before.txt nodes
    // (2)/(3)/(5)/(6)). One cached pass, two cheap cached reads.
    val ix = Cut.rows(indexed)
    val a = ix.select(col("cell"), col("id").as("a"), col("arr").as("va"))
    val b = ix.select(col("cell"), col("id").as("b"), col("arr").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .select(col("cell"), col("a"), col("b"),
        expr("cosine_similarity(va, vb)").as("sim"))
      .filter(col("sim") >= threshold)
    val victims = pairs.select(col("b").as("__victim")).distinct()
    val kept = emb.join(victims, emb(idCol) === col("__victim"), "left_anti")
    (kept, pairs)
  }

  /** IVF query from the persisted (assignments, centroids) tables: probe
    * the `nprobe` nearest cells per query vector, exact cosine within the
    * probed cells only. `indexed` needs (id, cell, arr) — the `nv` column
    * from the in-memory build is not required. */
  def ivfTopKFromTables(indexed: DataFrame, centroids: DataFrame,
                        queryIds: DataFrame, k: Int,
                        nprobe: Int = 4): DataFrame = {
    val spark = indexed.sparkSession
    graft.functions.Registry.registerAll(spark)
    val q = indexed.join(broadcast(queryIds.select(col(queryIds.columns.head).as("qid"))),
        col("id") === col("qid"))
      .select(col("id").as("q"), col("arr").as("qarr"))
    // nearest nprobe cells per query — centroid table is tiny, broadcast.
    val probeW = Window.partitionBy("q").orderBy(desc("csim"), col("cell"))
    val probes = broadcast(q).crossJoin(broadcast(centroids))
      .select(col("q"), col("qarr"), col("cell"),
        expr("cosine_similarity(qarr, centroid)").as("csim"))
      .withColumn("prn", row_number().over(probeW))
      .filter(col("prn") <= nprobe)
      .select("q", "qarr", "cell")
    val w = Window.partitionBy("q").orderBy(desc("sim"), col("v"))
    probes.join(indexed, Seq("cell"))
      .filter(col("q") =!= col("id"))
      .select(col("q"), col("id").as("v"),
        expr("cosine_similarity(qarr, arr)").as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("q", "v", "sim", "rn")
  }

  /** Top-`nprobe` probe cells per vector as a PURE PROJECTION — the
    * row-scale companion of [[cellExpr]]: the same (d², cell) structs,
    * `array_sort`ed (field-wise: d² then lowest cell, the exact
    * [[ivfAssign]] tie order) and sliced to nprobe. Same
    * InlineCentroidMax crossover as cellExpr. */
  private def probeExpr(cents: Array[(Int, Seq[Double])],
                        nprobe: Int): Column = {
    val structs: Column =
      if (cents.length <= InlineCentroidMax)
        array(cents.map { case (cell, cvec) =>
          val c2 = cvec.map(x => x * x).sum
          struct(
            (lit(1.0 + c2) - lit(2.0 * math.sqrt(c2)) *
              coalesce(graft.functions.Registry.cosineSim(
                col("arr"), typedLit(cvec)), lit(0.0))).as("d2"),
            lit(cell).as("cell"))
        }: _*)
      else {
        val centArr = typedLit(cents.map { case (cell, cvec) =>
          val c2 = cvec.map(x => x * x).sum
          (cell, 1.0 + c2, 2.0 * math.sqrt(c2), cvec)
        }.toSeq)
        transform(centArr, c =>
          struct(
            (c.getField("_2") - c.getField("_3") *
              coalesce(graft.functions.Registry.cosineSim(
                col("arr"), c.getField("_4")), lit(0.0))).as("d2"),
            c.getField("_1").as("cell")))
      }
    transform(slice(array_sort(structs), 1, nprobe), _.getField("cell"))
  }

  /** Corpus×corpus approximate top-k cosine join — the ANN JOIN tier:
    * for EVERY query-table vector, its k nearest corpus vectors, when
    * the query side is itself corpus-sized (recommendation candidate
    * generation, cross-corpus linking, kNN-graph construction). The
    * bounded-query tiers ([[exactTopK]], [[ivfTopKFromTables]])
    * broadcast the query set and are the right call below ~10⁴
    * queries; this operator is the shape that survives when BOTH
    * sides are 100 TB-class.
    *
    * Composition (all standing pieces): corpus rows take their ONE
    * nearest cell ([[cellExpr]] — map-only, zero shuffles); query rows
    * take their `nprobe` nearest cells ([[probeExpr]] — map-only,
    * explode ×nprobe); ONE equi-join on cell; exact cosine on
    * candidates; per-query top-k (rank window partitioned by query —
    * map-side WindowGroupLimit prunes to k before the exchange). A
    * corpus row lives in exactly one cell, so no candidate pair is
    * generated twice and no dedup pass exists. Recall = the IVF
    * recall at the same nprobe/nlist (AnnBench .948 shape).
    *
    * Scale note (the semDedup within-cell argument, multiplied): the
    * join key has only nlist distinct values, so each cell's
    * |Q_cell|·|C_cell| candidate volume lands in ONE task by default.
    * `cellSplits` > 1 salts the CORPUS side (xxhash64(id) mod s —
    * results identical, partitioning only) and explodes the query
    * side ×s, splitting every cell across s tasks — the documented
    * replicate-small/split-hot skew dial. Zero-vector queries (NULL
    * cosine) rank all cells equal-distance and probe the lowest
    * nprobe cells; their candidate sims are NULL and drop at the
    * rank filter.
    *
    * AUTO salt (`cellSplits = 0`, the default since r12 — VERDICT r11
    * item 3): the dial is derived from a cell-count profile of the
    * corpus assignment. Splitting is GATED on estimated hot-cell
    * candidate volume first — below [[AutoSplitMinCellPairs]] cosines
    * (maxC · nprobe·|C|/nlist) one cell is sub-second in a single
    * task and the salt's explode/shuffle overhead is pure loss
    * (measured: fixture-scale q283 ran 3× SLOWER under a forced 4).
    * Above the gate, splits = `max(skew, spread)` clamped to [1, 64]:
    * skew = ⌈max-cell / mean-cell⌉ breaks the hottest cell down to
    * average granularity, and spread = ⌈8·defaultParallelism /
    * n-cells⌉ salts the KEY SPACE up to ~8× the parallelism so the
    * multinomial hash allocation of cells onto the fixed shuffle
    * partition count evens out — calibrated to AnnBench's measured
    * point (64 keys into 32 partitions left multi-cell straggler
    * tasks; s=4 ⇒ 256 keys ≈ 8·P ran 2.3× faster with NO planted
    * skew). The profile is ONE extra map-only assignment pass reduced
    * to ≤ nlist rows by map-side combine (bounded driver collect —
    * the centroid-table altitude); results are salt-invariant
    * (suite-pinned), so profile exactness is irrelevant — at 100 TB
    * either accept the pass or profile once offline and pass the
    * manual dial.
    *
    * Self-match semantics (`excludeSelf`): in the kNN-graph use
    * (queries IS the corpus — the [[mutualKnnPairs]] composition) a
    * row's trivially-perfect match with itself must be dropped or it
    * occupies rank 1 of every list. In the cross-corpus linking use
    * the two id spaces are unrelated, and an id-value collision is a
    * coincidence — dropping it would silently delete a valid nearest
    * neighbor and shift every rank below it. Default `None` derives
    * the right behavior structurally: same DataFrame reference
    * (`queries eq corpus`) OR equal CANONICALIZED analyzed plans —
    * so two separately-constructed frames of the same lineage
    * (`df.select(...)` twice, the same parquet path read twice) still
    * exclude self-matches instead of silently keeping rank-1
    * self-edges (r12 ADVICE). Identical canonical plans means
    * identical data, so a genuine cross-corpus link can never trip
    * it. Pass `Some(true/false)` to override (e.g. two physically
    * DIFFERENT tables holding the same entity space still want the
    * exclusion — canonicalization cannot see that). */
  def annJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, centroids: DataFrame, k: Int,
              nprobe: Int, cellSplits: Int = 0,
              excludeSelf: Option[Boolean] = None): DataFrame = {
    graft.functions.Registry.registerAll(queries.sparkSession)
    val cents = collectCentroids(centroids)
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe must be in [1, ${cents.length}], got $nprobe")
    require(cellSplits >= 0,
      s"cellSplits must be >= 1, or 0 for auto, got $cellSplits")
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("arr"))
      .withColumn("cell", cellExpr(cents))
    val splits =
      if (cellSplits >= 1) cellSplits
      else {
        val counts = c0.groupBy("cell").agg(count(lit(1)).as("n"))
          .collect().map(_.getAs[Long]("n"))
        val total = counts.sum
        // Double, not Long: it is only a gate heuristic, and the Long
        // product overflows at ~1e12-row corpora with a hot cell —
        // going NEGATIVE and silently disabling the salt exactly where
        // the single-task blowup is worst (r12 ADVICE)
        val maxPairs =
          if (counts.isEmpty) 0.0
          else counts.max.toDouble *
            (nprobe.toDouble * total / counts.length)
        if (maxPairs < AutoSplitMinCellPairs) 1
        else {
          val mean = total.toDouble / counts.length
          val skew = math.ceil(counts.max / mean).toInt
          // 8·P target keys: nlist keys hash into the FIXED shuffle
          // partition count, and at keys ≈ 2·P the multinomial
          // allocation leaves multi-cell straggler tasks (AnnBench's
          // 64-keys-into-32-partitions arm: 577 → 248 s at s=4, i.e.
          // 256 keys ≈ 8·P — the calibration point)
          val spread = math.ceil(8.0 * corpus.sparkSession.sparkContext
            .defaultParallelism / counts.length).toInt
          math.min(64, math.max(1, math.max(skew, spread)))
        }
      }
    val c = c0
      .withColumn("__s",
        if (splits == 1) lit(0)
        else pmod(xxhash64(col("id")), lit(splits.toLong)).cast("int"))
      .select("id", "cell", "__s", "arr")
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).as("arr"))
      .withColumn("__cells", probeExpr(cents, nprobe))
      .select(col("qid"), col("arr").as("qarr"),
        explode(col("__cells")).as("cell"))
      .withColumn("__s",
        if (splits == 1) lit(0)
        else explode(typedLit((0 until splits).toList)))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("id"))
    val exSelf = excludeSelf.getOrElse((queries eq corpus) ||
      queries.queryExecution.analyzed.canonicalized ==
        corpus.queryExecution.analyzed.canonicalized)
    val cand = q.join(c, Seq("cell", "__s"))
    (if (exSelf) cand.filter(col("qid") =!= col("id")) else cand)
      .select(col("qid"), col("id"),
        expr("cosine_similarity(qarr, arr)").as("sim"))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "sim", "rank")
  }

  /** Mutual-kNN pairs — the reciprocity-filtered edge set of the
    * [[annJoin]] kNN graph: (a, b) kept iff b ∈ kNN(a) AND a ∈ kNN(b).
    * One-directional kNN edges are dominated by asymmetric-density
    * artifacts (a point on a cluster's rim lists the core as neighbor,
    * the core never lists the rim); the mutual filter is the standard
    * cheap cleanup before clustering the graph into near-dup groups
    * (feed the pairs to Components.connectedComponents — the q83
    * composition) or density estimation.
    *
    * Shape: the standing kNN table (n·k rows) is built ONCE and cached
    * (it feeds both sides of the reciprocity join — uncut, the whole
    * annJoin pipeline would re-plan twice); the reciprocity join keys
    * on the (qid, id) pair — full-cardinality keys, no hot-key
    * hazard. Cosine is symmetric, so the kept pair's `sim` is the one
    * number; rank_ab/rank_ba record each endpoint's view. */
  def mutualKnnPairs(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, k: Int, nprobe: Int,
                     cellSplits: Int = 0): DataFrame = {
    val knn = annJoin(emb, emb, idCol, vecCol, centroids, k, nprobe,
      cellSplits).transform(Cut.rows)
    val rev = knn.select(col("qid").as("id"), col("id").as("qid"),
      col("rank").as("rank_ba"))
    knn.join(rev, Seq("qid", "id"))
      .filter(col("qid") < col("id"))
      .select(col("qid").as("a"), col("id").as("b"), col("sim"),
        col("rank").as("rank_ab"), col("rank_ba"))
  }
}
