package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{EtlSession, Tables}
import graft.ops.{Cut, Similarity}
import graft.tools.BenchKit.time

/** ANN benchmark at a volume that exercises pruning (VERDICT r6 #2):
  * the sf0.1 embeddings fixture is 2,000 rows — small enough that every
  * ANN tier is dominated by fixed setup (codegen compile, quantizer
  * training, plan overhead), so its bench numbers measure overhead, not
  * throughput. This tool:
  *
  *  1. synthesizes a DETERMINISTIC clustered embedding table
  *     (`ANN_N` rows, default 200k; 64-dim, 64 planted clusters —
  *     splitmix64-hashed centers + scaled hash noise, no RNG state),
  *     which is the regime where IVF cell pruning actually pays;
  *  2. times exact brute-force top-k vs IVF vs PQ(+rerank) vs fused
  *     IVF+PQ — build and query separately — and measures each tier's
  *     recall against the exact result;
  *  3. re-times the q119 fixture-scale pipeline twice in one session
  *     (cold then warm) to attribute its fixture-scale seconds to
  *     one-time compile/setup vs steady-state work.
  *
  * Prints ONE JSON line; numbers are recorded in BASELINE.md §v6.
  */
object AnnBench {

  /** splitmix64 of (a, b) → double in [-1, 1]. Pure, seedless. */
  private def h(a: Long, b: Long): Double =
    BenchKit.h(a, b).toDouble / Long.MaxValue

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("q", "v").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
      .toSet

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("ANN_N", "200000").toInt
    val dim = 64; val clusters = 64; val k = 10; val nQueries = 100
    val spark = EtlSession.create("local[32]", 32, "graft-ann-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Skew-planted arm (r12; ANN_SKEW=1 runs ONLY this arm): ~30% of
    // rows collapse onto ONE coarse direction, assigned through FIXED
    // basis centroids (no training — a trained quantizer would carve
    // the hot direction into several cells and un-plant the skew), so
    // one cell holds ~30% of the corpus (~19× the mean at 64 cells).
    // Prices the auto dial's SKEW term — the default arms price the
    // spread term. Interleaved min-of-2 per arm (throttle discipline).
    if (sys.env.get("ANN_SKEW").contains("1")) {
      val embS = spark.range(n).map { id =>
        val c = if (h(id, 9L) < -0.4) 0L else id % clusters
        val g = (id / clusters) / 20
        (id, Array.tabulate(dim)(d =>
          (h(c * 7919L + 13L, d) + 0.35 * h(c * 104729L + g, d + 53)
            + 0.05 * h(id, d + 101)).toFloat))
      }.toDF("vec_id", "embedding").repartition(32).transform(Cut.rows)
      embS.count()
      val centsS = (0 until clusters).map { c =>
        (c, (0 until dim).map(d => h(c.toLong * 7919L + 13L, d)))
      }.toDF("cell", "centroid")
      def arm(s: Int): Double = time {
        Similarity.annJoin(embS, embS, "vec_id", "embedding", centsS,
          k = k, nprobe = 2, cellSplits = s).count()
      }._2
      val m1 = arm(1); val a1 = arm(0); val m2 = arm(1); val a2 = arm(0)
      val hot = Similarity.ivfAssign(embS, "vec_id", "embedding", centsS)
        .groupBy("cell").count().agg(max("count")).head().getLong(0)
      println(s"""{"bench":"ann-skew","n":$n,"hot_cell_rows":$hot,""" +
        s""""skew_split1_sec":${"%.3f".format(math.min(m1, m2))},""" +
        s""""skew_auto_sec":${"%.3f".format(math.min(a1, a2))}}""")
      spark.stop()
      return
    }

    // SRP hot-BUCKET arm (r13; SRP_SKEW=1 runs ONLY this arm —
    // VERDICT r12 item 1): a DOMINANT-direction corpus is the SRP
    // tier's skew hazard — ~25% of rows share one coarse direction
    // with jitter sized so pairwise cosine ≈ 0.94 (BELOW the 0.99
    // confirm threshold: the bucket is hot NON-dup mass, not the
    // answer set) while single-bit sign agreement with the direction
    // stays ≈ 0.92, so ~half the hot rows collide on a band's whole
    // 8-bit key → one (band, key) bucket carries (0.5·n_hot)²/2
    // candidate cosines in ONE task at bucketSplits = 1. Times the
    // unguarded join vs the auto salt (srpBucketSplitsOf), noop-sink
    // timed (never .count() a multi-branch output), interleaved
    // min-of-2 per arm (throttle discipline).
    if (sys.env.get("SRP_SKEW").contains("1")) {
      val nS = sys.env.getOrElse("SRP_N", "40000").toInt
      val embS = spark.range(nS).map { id =>
        val hotRow = h(id, 9L) < -0.5
        val c = if (hotRow) 31337L else 100L + id % 512
        val jit = if (hotRow) 0.25 else 0.6
        (id, Array.tabulate(dim)(d =>
          (h(c * 7919L + 13L, d) + jit * h(id, d + 101)).toFloat))
      }.toDF("vec_id", "embedding").repartition(32).transform(Cut.rows)
      embS.count()
      val planesS = (0 until 32).map { p =>
        (p, (0 until dim).map(d => h(p.toLong + 5555L, d)))
      }.toDF("plane", "vec")
      // price the 100 TB shuffle-join shape: at bench scale AQE
      // broadcasts the 160k-row exploded signature side, which spreads
      // the hot bucket across probe partitions and HIDES the
      // single-task straggler (the r11 StatsBench lesson — 164 s vs
      // 0.95 s). A corpus-scale side cannot broadcast.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      def srpArm(s: Int): Double = time {
        Similarity.srpNearDupPairs(embS, "vec_id", "embedding",
            planesS, bandBits = 8, threshold = 0.99, bucketSplits = s)
          .write.format("noop").mode("overwrite").save()
      }._2
      val hotBucket = Similarity.srpSignatures(embS, "vec_id",
          "embedding", planesS, bandBits = 8)
        .select(posexplode(col("bands")).as(Seq("band", "key")))
        .groupBy("band", "key").count().agg(max("count"))
        .head().getLong(0)
      val arms = sys.env.getOrElse("SRP_ARMS", "1,0").split(",")
        .map(_.trim.toInt).toSeq
      val r1 = arms.map(s => s -> srpArm(s))
      val r2 = arms.map(s => s -> srpArm(s))
      val mins = r1.zip(r2).map { case ((s, a), (_, b)) =>
        s -> math.min(a, b) }
      val armsJson = mins.map { case (s, t) =>
        s""""split_$s":${"%.3f".format(t)}""" }.mkString(",")
      println(s"""{"bench":"srp-skew","n":$nS,""" +
        s""""hot_bucket_rows":$hotBucket,$armsJson}""")
      spark.stop()
      return
    }

    // Deterministic hierarchical corpus — the structure real embedding
    // data has and uniform noise lacks: 64 coarse clusters (topics; what
    // IVF prunes on), and inside each cluster sibling GROUPS of ~20
    // sharing a direction (near-duplicate pages; what top-k retrieves),
    // plus small per-id jitter. A query's true top-10 are its siblings
    // (cos ≈ 0.999), well separated from same-cluster non-siblings
    // (cos ≈ 0.9) — so recall measures whether a tier can rank real
    // neighbors, not whether it can break ties between equidistant noise.
    val emb = spark.range(n).map { id =>
      val c = id % clusters            // coarse cluster
      val g = (id / clusters) / 20     // sibling group within the cluster
      (id, Array.tabulate(dim)(d =>
        (h(c * 7919L + 13L, d) + 0.35 * h(c * 104729L + g, d + 53)
          + 0.05 * h(id, d + 101)).toFloat))
    }.toDF("vec_id", "embedding").repartition(32).transform(Cut.rows)
    emb.count()
    val queryIds = emb.select("vec_id").filter(col("vec_id") < nQueries)
    def queryFilter(df: DataFrame) = df.filter(col("vec_id") < nQueries)

    // exact brute-force: nQueries × n codegen'd cosines
    val (exactSet, exactSec) = time {
      pairs(Similarity.exactTopK(emb, "vec_id", "embedding", queryFilter, k))
    }
    def recall(s: Set[(Long, Long)]): Double =
      exactSet.count(s.contains).toDouble / exactSet.size

    // IVF: build (train + assign) then partial-probe query
    val ((indexed, centroids), ivfBuildSec) = time {
      val (ix, c) = Similarity.ivfIndex(emb, "vec_id", "embedding",
        nlist = clusters, trainSample = 8192)
      val cached = Cut.rows(ix); cached.count()
      (cached, c)
    }
    val ((ivfSet, ivfQuerySec), _) = time {
      time(pairs(Similarity.ivfTopK(indexed, centroids, queryIds, k, nprobe = 8)))
    }

    // PQ: encode then ADC + exact rerank over the FULL corpus codes
    val ((encoded, codebooks), pqBuildSec) = time {
      val (_, cb) = Similarity.pqIndex(emb, "vec_id", "embedding",
        m = 8, kCent = 64, trainSample = 8192)
      val enc = Cut.rows(Similarity.pqAssign(emb, "vec_id", "embedding", cb))
      enc.count()
      (enc, cb)
    }
    val (pqSet, pqQuerySec) = time {
      pairs(Similarity.pqTopK(encoded, codebooks, queryIds, k, rerankFactor = 8))
    }

    // fused IVF+PQ: ADC only inside probed cells, then exact rerank
    val (ivfpqEncoded, ivfpqBuildSec) = time {
      val e = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        centroids, codebooks).transform(Cut.rows)
      e.count(); e
    }
    val (ivfpqSet, ivfpqQuerySec) = time {
      pairs(Similarity.ivfPqTopK(ivfpqEncoded, centroids, codebooks,
        queryIds, k, nprobe = 8, rerankFactor = 8))
    }

    // JL random-projection tier (ops/Projection): compress 64→16 dims
    // with the MD5 ±1 family, generate k·8 candidates by brute-force
    // cosine in the PROJECTED space (4× less arithmetic + bandwidth per
    // comparison), then exact-rerank the candidates on raw vectors —
    // the cheap zero-shuffle first-stage filter ahead of the
    // IVF/PQ tiers.
    val (jlVec, jlBuildSec) = time {
      val p = graft.ops.Projection.randomProjectionVec(
        emb, "vec_id", "embedding", dim, 16).transform(Cut.rows)
      p.count(); p
    }
    val (jlSet, jlQuerySec) = time {
      val cand = Similarity.exactTopK(jlVec, "vec_id", "yv",
          queryFilter, k * 8)
        .select(col("q"), col("v"))
      val qe = emb.select(col("vec_id").as("q"), col("embedding").as("qe"))
      val ve = emb.select(col("vec_id").as("v"), col("embedding").as("ve"))
      val rescored = cand.join(qe, "q").join(ve, "v")
        .select(col("q"), col("v"),
          expr("cosine_similarity(qe, ve)").as("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy(desc("sim"), col("v"))
      pairs(rescored.withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= k))
    }

    // Full-corpus Lloyd refinement (ops/Clustering): one refinement
    // iteration over ALL n rows in the quantizer's normalized space —
    // the per-iteration price a standing index pays to close the
    // sample-quality gap at volume — then the refined centroids through
    // the unchanged IVF assign + query path, with recall.
    val dblB = transform(col("embedding"), _.cast("double"))
    val nrmB = sqrt(aggregate(dblB, lit(0.0), (acc, x) => acc + x * x))
    val embN = emb.select(col("vec_id"),
      when(nrmB === lit(0.0), dblB)
        .otherwise(transform(dblB, _ / nrmB)).as("v"))
    val (refinedCents, lloydIterSec) = time {
      graft.ops.Clustering.refineCentroids(embN, "vec_id", "v",
        centroids, iters = 1)
    }
    val (refIndexed, refAssignSec) = time {
      val ix = Similarity.ivfAssign(emb, "vec_id", "embedding",
        refinedCents).transform(Cut.rows)
      ix.count(); ix
    }
    val (refSet, refQuerySec) = time {
      pairs(Similarity.ivfTopK(refIndexed, refinedCents, queryIds, k,
        nprobe = 8))
    }
    // one all-subspace PQ codebook refinement iteration (same corpus)
    val (_, pqLloydIterSec) = time {
      graft.ops.Clustering.refinePqCodebooks(emb, "vec_id", "embedding",
        codebooks, iters = 1)
    }

    // annJoin (r11): corpus×corpus top-k — EVERY row is a query (the
    // kNN-graph workload), nprobe-of-nlist cell pruning, count() is
    // safe to time here because the rank filter forces the window,
    // the sims, and the join (unlike the pruned stats counts — see
    // StatsBench.force). Candidate volume ≈ n·nprobe·(n/nlist)
    // ≈ 1.25×10⁹ exact cosines at the 200k default: the honest price
    // of a full self-kNN pass. Recall is measured on the same 100
    // queries as the exact tier. cellSplits=4 re-run shows the salt
    // dial's overhead when cells are NOT skewed (uniform clusters):
    // the split only pays when one cell dominates.
    val (annJoinRows, annJoinSec) = time {
      Similarity.annJoin(emb, emb, "vec_id", "embedding", centroids,
        k = k, nprobe = 2).count()
    }
    // excludeSelf: the query frame is a FILTER of the corpus (distinct
    // ref, same id space), so the structural derivation would keep
    // self-matches and displace one true neighbor per list — the
    // recall arm must mirror exactTopK's self-exclusion
    val annJoinSet = Similarity.annJoin(
        queryFilter(emb), emb, "vec_id", "embedding", centroids,
        k = k, nprobe = 2, excludeSelf = Some(true))
      .select(col("qid").as("q"), col("id").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (_, annJoinSplit4Sec) = time {
      Similarity.annJoin(emb, emb, "vec_id", "embedding", centroids,
        k = k, nprobe = 2, cellSplits = 4).count()
    }
    // auto salt (r12): cellSplits=0 profiles the corpus cells and
    // derives the dial (volume-gated skew/spread) — the parity arm
    // vs the hand-tuned salt above; results are suite-pinned
    // invariant, so only the time is informative
    val (_, annJoinAutoSec) = time {
      Similarity.annJoin(emb, emb, "vec_id", "embedding", centroids,
        k = k, nprobe = 2, cellSplits = 0).count()
    }

    // q119 fixture-scale attribution: same pipeline as the corpus query,
    // cold (first execution in this session: codegen compile + quantizer
    // fit) vs warm (second execution, plans and kernels already compiled)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def q119(): Long = {
      val fe = Tables.table(spark, sfDir, "embeddings")
      val (_, cents) = Similarity.ivfIndex(fe, "vec_id", "embedding", nlist = 16)
      val (_, cb) = Similarity.pqIndex(fe, "vec_id", "embedding", m = 8, kCent = 64)
      val enc = Similarity.ivfPqIndex(fe, "vec_id", "embedding", cents, cb)
      Similarity.ivfPqTopK(enc, cents, cb,
        fe.filter(col("vec_id") < 5).select("vec_id"), k = 3,
        nprobe = 8, rerankFactor = 16).count()
    }
    val (_, fixtureColdSec) = time(q119())
    val (_, fixtureWarmSec) = time(q119())
    // per-stage split of the WARM fixture run: quantizer training
    // (driver-local k-means — corpus-size independent) vs encode vs query
    val fe = Tables.table(spark, sfDir, "embeddings")
    val ((cents119, cb119), fixtureTrainSec) = time {
      val (_, c) = Similarity.ivfIndex(fe, "vec_id", "embedding", nlist = 16)
      val (_, b) = Similarity.pqIndex(fe, "vec_id", "embedding", m = 8, kCent = 64)
      (c, b)
    }
    val (enc119, fixtureEncodeSec) = time {
      val e = Similarity.ivfPqIndex(fe, "vec_id", "embedding", cents119, cb119)
        .transform(Cut.rows)
      e.count(); e
    }
    val (_, fixtureQuerySec) = time {
      Similarity.ivfPqTopK(enc119, cents119, cb119,
        fe.filter(col("vec_id") < 5).select("vec_id"), k = 3,
        nprobe = 8, rerankFactor = 16).count()
    }

    def f(d: Double) = "%.3f".format(d)
    println(
      s"""{"n":$n,"dim":$dim,"clusters":$clusters,"k":$k,"n_queries":$nQueries""" +
        s""","exact_sec":${f(exactSec)}""" +
        s""","ivf_build_sec":${f(ivfBuildSec)},"ivf_query_sec":${f(ivfQuerySec)},"ivf_recall":${f(recall(ivfSet))}""" +
        s""","pq_build_sec":${f(pqBuildSec)},"pq_query_sec":${f(pqQuerySec)},"pq_recall":${f(recall(pqSet))}""" +
        s""","ivfpq_build_sec":${f(ivfpqBuildSec)},"ivfpq_query_sec":${f(ivfpqQuerySec)},"ivfpq_recall":${f(recall(ivfpqSet))}""" +
        s""","jl_build_sec":${f(jlBuildSec)},"jl_query_sec":${f(jlQuerySec)},"jl_recall":${f(recall(jlSet))}""" +
        s""","lloyd_iter_sec":${f(lloydIterSec)},"ivf_refined_assign_sec":${f(refAssignSec)},"ivf_refined_query_sec":${f(refQuerySec)},"ivf_refined_recall":${f(recall(refSet))}""" +
        s""","pq_lloyd_iter_sec":${f(pqLloydIterSec)}""" +
        s""","annjoin_sec":${f(annJoinSec)},"annjoin_rows":$annJoinRows""" +
        s""","annjoin_recall":${f(recall(annJoinSet))}""" +
        s""","annjoin_split4_sec":${f(annJoinSplit4Sec)}""" +
        s""","annjoin_auto_sec":${f(annJoinAutoSec)}""" +
        s""","fixture_q119_cold_sec":${f(fixtureColdSec)},"fixture_q119_warm_sec":${f(fixtureWarmSec)}""" +
        s""","fixture_q119_train_sec":${f(fixtureTrainSec)},"fixture_q119_encode_sec":${f(fixtureEncodeSec)},"fixture_q119_query_sec":${f(fixtureQuerySec)}}""")
    spark.stop()
  }
}
