package graft.tools

import org.apache.spark.sql.functions._

import graft.EtlSession
import graft.ops.Components
import graft.tools.BenchKit.{h, time}

/** Graph-operator benchmark at a volume the fixtures cannot reach: the
  * corpus graphs (co-purchase projections of sf0.1 lineitem) top out
  * around 10⁵ edges, so every iterative graph query's bench figure is
  * dominated by per-round fixed cost (job scheduling, shuffle setup),
  * not edge throughput. This tool synthesizes a DETERMINISTIC skewed
  * graph (`GRAPH_EDGES` edges, default 5M, over `GRAPH_EDGES`/5 nodes;
  * splitmix64-hashed endpoints, 20% of edges attached to a 1,000-node
  * hub set — the heavy-tailed degree shape real interaction graphs
  * have and uniform random graphs lack) and times the iterative
  * operators end to end: connected components (large/small-star),
  * exact-integer PageRank, k-core peel, label propagation, and
  * multi-source BFS. Prints ONE JSON line; numbers recorded in
  * BASELINE.md §v9.
  *
  * What the numbers certify at 100 TB: per-round cost is edge-linear
  * (each round is key-partitioned shuffles over the edge list — no
  * all-pairs term anywhere), hub skew does not stall rounds (the same
  * salting/AQE posture as the corpus), and driver state stays O(1)
  * (checksums and round counters only).
  */
object GraphBench {

  def main(args: Array[String]): Unit = {
    val nEdges = sys.env.getOrElse("GRAPH_EDGES", "5000000").toLong
    val nNodes = math.max(nEdges / 5, 1000L)
    val hubs = 1000L
    val spark = EtlSession.create("local[32]", 32, "graft-graph-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 80% uniform endpoint pairs, 20% hub-attached (heavy tail)
    val edges = spark.range(nEdges).map { i =>
      val u = java.lang.Math.floorMod(h(i, 1L), nNodes)
      val v =
        if (java.lang.Math.floorMod(h(i, 2L), 5L) == 0L)
          java.lang.Math.floorMod(h(i, 3L), hubs)
        else java.lang.Math.floorMod(h(i, 4L), nNodes)
      (u, v)
    }.toDF("a", "b").filter(col("a") =!= col("b"))
      .repartition(32).cache()
    val edgeCount = edges.count()

    val (ccN, ccSec) = time {
      Components.connectedComponents(edges, "a", "b")
        .select("component").distinct().count()
    }
    val (prSum, prSec) = time {
      // scale must dwarf the node count: the exact-integer recursion
      // floors per-node mass, so scale/n is the resolution (the
      // fixture default 1e6 rounds 1M-node teleports to ZERO)
      Components.pageRankExact(edges, "a", "b", iters = 3,
          scale = nNodes * 1000L)
        .agg(sum("pr")).collect()(0).getLong(0)
    }
    val (kcN, kcSec) = time {
      // avg degree 10 sits BELOW the ~14.2 emergence threshold of the
      // 10-core in this mixture (verified live: empty), so bench the
      // 5-core — a real peel cascade with a non-empty fixed point
      Components.kCore(edges, "a", "b", k = 5).count()
    }
    val (lpN, lpSec) = time {
      Components.labelPropagation(edges, "a", "b", iters = 3)
        .select("label").distinct().count()
    }
    val seeds = spark.range(100).select(col("id").as("s"))
    val (bfsN, bfsSec) = time {
      Components.bfsDistances(edges, "a", "b", seeds, "s", maxHops = 3)
        .count()
    }
    // HITS (r12 — the q218 watch's volume arm): two exact-integer
    // rounds on the DIRECTED edge list; prices the per-half-step
    // cut-below-normalization shape at edge volume. Default scale:
    // unlike pageRank there is no teleport-resolution constraint (the
    // L∞ renormalization keeps scores in [0, scale] every round), and
    // the x·scale numerator bounds scale²·max-indegree < 2⁶³ — 10⁶ is
    // safe to ~10⁶ in-degree, nNodes·1000 would overflow here
    val (hitsN, hitsSec) = time {
      Components.hitsExact(edges, "a", "b", iters = 2).count()
    }
    // Degree-mixing family (r13 — the q290/q295 volume arm): one-shot
    // moment/curve shapes, NOT iterative — prices the two node-key
    // degree joins over the mirrored edge list at volume, the part the
    // fixture graph (10⁵ edges) cannot. The hub set concentrates 20%
    // of edges on 1,000 nodes, so the join keys carry exactly the skew
    // the non-broadcast design claims to absorb.
    val (assortR, assortSec) = time {
      val r = Components.degreeAssortativity(edges, "a", "b").collect()(0)
      if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    }
    val (knnK, knnSec) = time {
      Components.avgNeighborDegree(edges, "a", "b").count()
    }

    println(
      s"""{"bench":"graph","edges":$edgeCount,"nodes":$nNodes,""" +
      s""""cc_sec":${f"$ccSec%.2f"},"cc_components":$ccN,""" +
      s""""pagerank_sec":${f"$prSec%.2f"},"pagerank_mass":$prSum,""" +
      s""""kcore_sec":${f"$kcSec%.2f"},"kcore_nodes":$kcN,""" +
      s""""labelprop_sec":${f"$lpSec%.2f"},"labelprop_labels":$lpN,""" +
      s""""bfs_sec":${f"$bfsSec%.2f"},"bfs_reached":$bfsN,""" +
      s""""hits_sec":${f"$hitsSec%.2f"},"hits_nodes":$hitsN,""" +
      s""""assort_sec":${f"$assortSec%.2f"},"assort_r":${
        // NULL r (regular graph) arrives as NaN — a bare NaN token is
        // invalid JSON, so emit null instead
        if (assortR.isNaN) "null" else f"$assortR%.4f"},""" +
      s""""knn_sec":${f"$knnSec%.2f"},"knn_classes":$knnK}""")
    spark.stop()
  }
}
