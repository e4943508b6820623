package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the missing half of dedup at
  * corpus scale (SURVEY.md §2.8c L1/L2 composition): near-duplicate
  * detection yields PAIRS, but the unit of removal is the duplicate
  * CLUSTER (a re-crawled page matches yesterday's copy, which matches the
  * original — transitively one group). Pair-wise victim selection already
  * handles chains correctly for b-side removal, but only components give
  * the cluster id needed for reporting, canonical-doc assignment, and
  * group-size caps.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * is two shuffle-by-node aggregations over the edge list; the edge set
  * converges to stars rooted at each component's minimum node in
  * O(log² n) rounds INDEPENDENT of component diameter — plain min-label
  * propagation needs diameter rounds, and near-dup chains (each crawl a
  * near-copy of the previous) make diameter unbounded at 100 TB. No
  * driver-side graph state: the driver sees only a per-round convergence
  * checksum; lineage is cut each round ([[Cut.summary]]) so the plan
  * does not grow with iterations (use reliable checkpointing on a
  * cluster with dynamic executors).
  */
object Components {

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(Γ(u) ∪ {u}); attach every strictly-larger neighbor to it
    val m = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    // point every edge from the larger to the smaller endpoint
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val m = dir.groupBy("u").agg(min("v").as("m")) // all v < u ⇒ m < u
    val out = dir.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
    out.filter(col("u") =!= col("v")).distinct()
  }

  /** Connected components of the undirected graph given by `edges`.
    * Returns (node, component) for every node incident to at least one
    * non-self edge, where component = the minimum node id of its
    * component (isolated nodes are their own trivial components and are
    * simply absent — left-join and coalesce to self when needed).
    * Node ids must be numeric (they are compared with min/least). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    var e = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct().transform(Cut.summary)
    var converged = false
    var it = 0
    // Convergence = the (count, order-free XOR hash) checksum is a
    // fixpoint. Checksum equality on equal counts is what a 1000-executor
    // run would use too — an exact set compare would be two more shuffles
    // per round. (XOR, not SUM: hash sums overflow under ANSI mode.)
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cs = checksum(e)
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).transform(Cut.summary)
      val csNext = checksum(next)
      converged = csNext == cs
      cs = csNext
      Cut.release(e)
      e = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // Converged edge set is a union of stars (child, root). A root has no
    // outgoing edge, so label it with itself via least().
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("node"), least(col("u"), col("mv")).as("component"))
  }

  /** Cluster report: component id (= the surviving minimum doc id of the
    * duplicate group) and member count. */
  def componentSummary(components: DataFrame): DataFrame =
    components.groupBy("component").agg(count(lit(1)).as("size"))

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * whose degree within the surviving subgraph is < k until the set is
    * stable; return the survivors with their in-core degree. The k-core
    * is the standard "dense enough to matter" filter on a crawl/link
    * graph — peripheral pages with thin connectivity peel away no
    * matter how large the raw graph is.
    *
    * Scale shape: the symmetrized edge list is computed once and
    * cached; each round is two semi-joins (edge endpoints against the
    * survivor set) + one degree aggregation — 2–3 shuffles — with the
    * survivor table cut per round (flat lineage) and one
    * driver long (its count). Peeling is monotone, so an unchanged
    * COUNT is an unchanged SET: the fixed-point test needs no set
    * comparison. The fixed point is unique regardless of peel order,
    * which is what makes the operator oracle-able by a fixed-depth
    * unrolled replay (extra rounds past convergence are no-ops on both
    * engines). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxIters: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
    // r16 (guide §2.3/§1.2 — the delta-iteration shape): the probe of the
    // recompute-every-round peel showed the fixture graph loses <6% of
    // its edges across 7 rounds, i.e. every round re-aggregated and
    // re-filtered a nearly-full-size edge table to discover a handful of
    // removals. Peeling is INCREMENTAL by nature: when the nodes R_t are
    // removed, only their neighbors' degrees change, by exactly the
    // number of incident just-removed endpoints. Each round after the
    // initial degree pass is therefore ONE join of the (fixed, cached)
    // mirrored edge list against the just-removed node set — the planner
    // broadcasts R_t when it is small (every round after the first peels
    // a shrinking frontier; at 100 TB an early huge R_t simply falls
    // back to a shuffle join) — plus a node-table degree update. No
    // edge-set rewrite, no full-graph re-aggregation per round. The
    // sequence of removal sets (and so the unique fixed point and the
    // in-core degrees) is IDENTICAL to the synchronized peel: removal
    // sets are disjoint, so deg_{t+1}(u) = deg_t(u) − |Γ(u) ∩ R_t|
    // telescopes to the degree within the alive subgraph.
    val e = base.union(base.select(col("v").as("u"), col("u").as("v")))
      .distinct().transform(Cut.summary)
    // `state` is the cut (node, deg) table the current alive/removed
    // filters read; each round's successor is cut BEFORE the predecessor
    // is released (a released checkpoint cannot be recomputed).
    var state = e.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg")).transform(Cut.summary)
    var alive = state.filter(col("deg") >= k)
    var removed = state.filter(col("deg") < k)
    var removedCount = removed.count()
    var it = 0
    while (removedCount > 0 && it < maxIters) {
      val delta = e
        .join(removed.select(col("node").as("v")), Seq("v"))
        .groupBy("u").agg(count(lit(1)).as("__d"))
        .select(col("u").as("node"), col("__d"))
      val updated = alive.join(delta, Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("__d"), lit(0L))).as("deg"))
        .transform(Cut.summary)
      Cut.release(state)
      state = updated
      alive = state.filter(col("deg") >= k)
      removed = state.filter(col("deg") < k)
      removedCount = removed.count()
      it += 1
    }
    // the returned frame reads the final `state` cut only
    Cut.release(e)
    alive.select(col("node"), col("deg").cast("long").as("core_deg"))
  }

  /** Per-node triangle counts — the local clustering signal (spam/link-farm
    * detection in a crawl graph, community density next to
    * [[connectedComponents]]'s reachability).
    *
    * The naive wedge join keys wedges on their CENTER node, so a hub of
    * degree d generates d² wedges — the "curse of the last reducer" at
    * 100 TB. Degree orientation (Suri & Vassilvitskii, WWW'11) fixes the
    * skew: direct every edge from its lower-(degree, id) endpoint to the
    * higher one, and only enumerate wedges from each node's OUT-edges.
    * Out-degree is then O(√E) for ANY graph, so the worst wedge list per
    * node is E — not d² — and the join keys spread. Three shuffles total:
    * degree agg, wedge self-join on the source, closure equi-join of the
    * wedge's (far, far) pair against the canonical edge set. Exact
    * integer counts — engine-reproducible and oracle-able. */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    triangleCountsOf(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows))

  /** Core of [[triangleCounts]] over an ALREADY canonical (u < v,
    * distinct, cached) edge table — r16: factored out so [[transitivity]]
    * can reuse its own canonical cache instead of paying a second
    * distinct pass + duplicate cache over the same edge set. */
  private def triangleCountsOf(canon: DataFrame): DataFrame = {
    val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val oriented = canon
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = oriented.alias("x").join(oriented.alias("y"),
        col("x.s") === col("y.s") && col("x.t") < col("y.t"))
      .select(col("x.s").as("a"), col("x.t").as("b"), col("y.t").as("c"))
    val tri = wedges.join(canon,
        least(col("b"), col("c")) === col("u") &&
          greatest(col("b"), col("c")) === col("v"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Adamic–Adar link prediction — score every 2-hop pair by the
    * inverse-log-degree mass of its common neighbors,
    * AA(a,b) = Σ_{c ∈ Γ(a)∩Γ(b)} 1/ln(deg c) (Adamic & Adar 2003),
    * with the common-neighbor count and an `linked` flag for pairs
    * that are already edges — the candidate generator for "which
    * documents/users/hosts will connect next" and the graph-side
    * companion of [[graft.ops.Similarity.mutualKnnPairs]].
    *
    * Scale shape: wedges key on their CENTER node, so a hub of degree
    * d emits d²/2 pairs — and contributes ~1/ln(d) ≈ nothing to any
    * score. `maxDegree` therefore DROPS hub centers before the wedge
    * join (the standard link-prediction guard: bounded loss, quadratic
    * saving); the per-pair fold is a ≤maxDegree-bounded in-row
    * aggregate over SORTED center order (deterministic double sum —
    * the q221/q223 lesson), with ln on the [[Exact.lnq]] 2⁻²⁶ grid so
    * scores hash-replay. Degree-1 centers emit nothing; deg = 1 would
    * divide by ln(1) = 0 — centers need deg ≥ 2 to form a wedge at
    * all, so the smallest divisor is lnq(2) > 0. */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
                 maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows) // feeds degrees, wedges, the linked join
    val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDegree)
    val adj = canon.select(col("u"), col("v"))
      .union(canon.select(col("v").as("u"), col("u").as("v")))
      .join(deg.select(col("n").as("u"), col("d")), Seq("u"))
    val wedges = adj.alias("x").join(adj.alias("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"),
        col("x.u").as("c"),
        (lit(1.0) / Exact.lnq(col("x.d"))).as("__t"))
    val scored = wedges
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("common_neighbors"),
        aggregate(array_sort(collect_list(struct(col("c"), col("__t")))),
          lit(0.0), (acc, e) => acc + e.getField("__t")).as("aa_score"))
    scored.join(canon.select(col("u").as("a"), col("v").as("b"),
        lit(true).as("linked")), Seq("a", "b"), "left")
      .na.fill(false, Seq("linked"))
  }

  /** Moran's I and Geary's C — autocorrelation of a NUMERIC node
    * attribute over the graph structure (do connected nodes carry
    * similar values?): the numeric companion of
    * [[attributeAssortativity]]'s categorical mixing and the
    * graph-space analogue of serial autocorrelation. With binary
    * edge weights (the adjacency) and the directed mirror as W:
    *
    *   I = (n/W)·Σ_w(x_i−x̄)(x_j−x̄) / Σ_i(x_i−x̄)²   (global, ~+1
    *       assortative clustering, ~−1 checkerboard, ≈ −1/(n−1) null)
    *   C = ((n−1)/2W)·Σ_w(x_i−x_j)² / Σ_i(x_i−x̄)²   (local; < 1
    *       positive autocorrelation — I's variance-weighted dual)
    *
    * Exactness: scaling deviations by n clears the mean —
    * n²·Σ_w(x_i−x̄)(x_j−x̄) = Σ_w(n·x_i−S)(n·x_j−S) and n²·Σ(x_i−x̄)²
    * = Σ(n·x_i−S)² are exact DECIMAL(38) integers (S = Σx over
    * incident nodes), Σ_w(x_i−x_j)² needs no centering at all, and
    * each statistic is ONE division of exact integers (the n²
    * factors cancel in I; C carries them explicitly). Node set =
    * nodes incident to an edge with a label (the
    * attributeAssortativity convention). NULL on a constant
    * attribute. Scale: distinct canonical edges, ONE node-key label
    * join pair (label table NOT broadcast), two folds.
    *
    * MAGNITUDE CONTRACT: Σ(n·x_i − S)² ≲ n³·max|x|² must stay inside
    * DECIMAL(38) — quantize coarse (|x| ≤ 10⁴ is safe at n ≤ 10⁸). */
  def moranGeary(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String,
                 xCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val lab = labels
      .select(col(nodeCol).cast("long").as("n"),
        col(xCol).cast("long").as("x"))
      .distinct().transform(Cut.rows)
    val mirror = canon.select(col("u"), col("v"))
      .union(canon.select(col("v").as("u"), col("u").as("v")))
    val tagged = mirror
      .join(lab.select(col("n").as("u"), col("x").as("xa")), Seq("u"))
      .join(lab.select(col("n").as("v"), col("x").as("xb")), Seq("v"))
      .transform(Cut.summary) // feeds W, the cross sum, the diff sum
    // node-side moments over INCIDENT labeled nodes only
    val nodes = tagged.select(col("u").as("n"), col("xa").as("x"))
      .distinct()
    val nm = nodes.agg(count(lit(1)).cast(dec38).as("nn"),
      sum(col("x").cast(dec38)).as("s"),
      sum((col("x") * col("x")).cast(dec38)).as("sxx"))
    val em = tagged.agg(count(lit(1)).cast(dec38).as("w"),
      sum((col("xa") * col("xb")).cast(dec38)).as("sab"),
      sum(col("xa").cast(dec38)).as("sa"),
      sum(col("xb").cast(dec38)).as("sb"),
      coalesce(sum(((col("xa") - col("xb")) *
        (col("xa") - col("xb"))).cast(dec38)),
        lit(0).cast(dec38)).as("sd2"))
    val m = em.crossJoin(broadcast(nm))
    val nD = col("nn")
    // Σ_w(n·xa−S)(n·xb−S) = n²·sab − n·S·(sa+sb) + W·S²
    val num = nD * nD * col("sab") -
      nD * col("s") * (col("sa") + col("sb")) +
      col("w") * col("s") * col("s")
    // Σ_i(n·x−S)² = n²·sxx − n·S²
    val den = nD * nD * col("sxx") - nD * col("s") * col("s")
    m.select(nD.cast("long").as("n_nodes"),
      col("w").cast("long").as("m_directed"),
      when(den <= 0 || col("w") === 0, lit(null)).otherwise(
        (nD * num).cast("double") / (col("w") * den).cast("double"))
        .as("moran_i"),
      when(den <= 0 || col("w") === 0, lit(null)).otherwise(
        ((nD - 1) * nD * nD * col("sd2")).cast("double") /
          (lit(2).cast(dec38) * col("w") * den).cast("double"))
        .as("geary_c"))
  }

  /** Degree assortativity — Newman's r: the Pearson correlation of
    * endpoint degrees over the directed mirror of the edge list, the
    * one-number "do hubs link to hubs" readout of a crawl graph
    * (assortative ≈ social/link-farm structure, disassortative ≈
    * hub-and-spoke web structure) next to [[triangleCounts]]'s local
    * density.
    *
    * Scale shape: canonical distinct edges → ONE degree aggregation →
    * the mirrored edge list joins the degree table twice on the node
    * keys (shuffle hash joins — the degree table is node-cardinality,
    * NOT broadcastable at 100 TB) → one global moment aggregation.
    * Degrees and counts are integral, the six moments accumulate in
    * DECIMAL(38) (order-free exact sums — no double folding needed),
    * and r is one division over two correctly-rounded sqrts, so the
    * value is bit-identical on any engine and partitioning. NULL r
    * when either variance is zero (e.g. a regular graph). */
  def degreeAssortativity(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows)
    val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dir = canon.select(col("u"), col("v"))
      .union(canon.select(col("v").as("u"), col("u").as("v")))
    def s(c: Column) = sum(c.cast(dec38))
    val m = dir
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .agg(count(lit(1)).cast(dec38).as("m"),
        s(col("du")).as("sx"), s(col("dv")).as("sy"),
        s(col("du") * col("dv")).as("sxy"),
        s(col("du") * col("du")).as("sxx"),
        s(col("dv") * col("dv")).as("syy"))
    val dx = col("m") * col("sxx") - col("sx") * col("sx")
    val dy = col("m") * col("syy") - col("sy") * col("sy")
    m.select(col("m").cast("long").as("m_directed"),
      when(dx <= 0 || dy <= 0, lit(null)).otherwise(
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))).as("r"))
  }

  /** Average-neighbor-degree curve knn(k) — [[degreeAssortativity]]'s
    * drill-down: for each degree class k, the mean degree of the nodes
    * that degree-k nodes link to (rising = assortative, falling =
    * disassortative, and WHERE it bends locates the hub layer). The
    * edge-weighted form knn(k) = Σ_{(u,v): deg(u)=k} deg(v) / |{(u,v):
    * deg(u)=k}| over the directed mirror — numerator and denominator
    * are exact integers from ONE grouped agg after the two degree
    * joins (the assortativity plan with a groupBy(du) head), so the
    * readout is ONE division, bit-identical anywhere. Output is
    * degree-class-cardinality — tiny at any corpus size. */
  def avgNeighborDegree(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows)
    val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dir = canon.select(col("u"), col("v"))
      .union(canon.select(col("v").as("u"), col("u").as("v")))
    dir
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .groupBy(col("du").as("k"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dv").cast(dec38)).as("__s"))
      .select(col("k"), col("n_edges"),
        (col("__s").cast("double") / col("n_edges")).as("knn"))
  }

  /** Rich-club coefficient φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) at
    * the supplied degree cutoffs — do the hubs form their own densely
    * wired club (link farms, mirror rings) or merely fan out. E_{>k}
    * counts canonical edges with BOTH endpoint degrees above k, N_{>k}
    * the nodes above k; φ is the edge density of the induced subgraph.
    * One degree agg; the cutoff table is a bounded literal broadcast
    * (the vocabCoverage k-probe shape), so the per-k filters are
    * map-only passes over the degree-annotated edge list; counts are
    * exact integers, φ ONE division. NULL φ when N_{>k} < 2. */
  def richClub(edges: DataFrame, aCol: String, bCol: String,
               rawKs: Seq[Long]): DataFrame = {
    // dedupe the cutoffs: a duplicated k would match each degree/edge
    // row once per duplicate through the crossJoin and the groupBy(k)
    // would merge the copies, inflating n_nodes/n_edges (and phi)
    val ks = rawKs.distinct
    require(ks.nonEmpty, "richClub needs at least one degree cutoff")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows)
    val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val kDf = edges.sparkSession.createDataFrame(ks.map(Tuple1(_)))
      .toDF("k")
    val nk = deg.crossJoin(broadcast(kDf))
      .filter(col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = canon
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .crossJoin(broadcast(kDf))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    kDf.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi",
        when(col("n_nodes") < 2, lit(null)).otherwise(
          (lit(2).cast(dec38) * col("n_edges")).cast("double") /
            (col("n_nodes").cast(dec38) * (col("n_nodes") - 1))
              .cast("double")))
  }

  /** Fixed-iteration PageRank in EXACT scaled-integer arithmetic — the
    * centrality companion to [[connectedComponents]] (rank pages inside a
    * crawl graph, weight canonical-document choice, spot link farms).
    *
    * Floating-point PageRank is not cross-engine reproducible: the
    * per-node contribution sum is order-dependent in IEEE doubles, so two
    * runs (or two engines) can differ in final ulps. Here ranks are
    * integers in units of `scale⁻¹` ("micro-rank" at the default), every
    * contribution is an integral division (floor), and integer sums are
    * order-free — the result is bit-identical on any engine and any
    * partitioning, which is also what makes the operator oracle-able.
    * The per-step floor loss is < outdeg(u) micro-ranks per node, a
    * one-sided deterministic bias that vanishes as `scale` grows.
    *
    * Semantics (undirected: the edge list is symmetrized, so every node
    * has outdeg ≥ 1 and there are no dangling nodes):
    *   pr₀(v)    = scale div n
    *   prₜ₊₁(v) = (100−damp)·scale div (100·n)
    *             + damp · Σ_{u→v} (prₜ(u) div outdeg(u)) div 100
    *
    * Scale shape: the edge list and degree table are computed once and
    * cached; each iteration is one edges⋈pr shuffle join on the source
    * node plus one shuffle aggregation on the destination — 2 shuffles
    * per round, like a components round. pr is cut per iteration so
    * lineage stays flat (reliable checkpointing on a real cluster).
    * Driver state: node count only. */
  /** Synchronous label propagation — community detection on the
    * undirected graph: every node starts as its own label, and each
    * round adopts the most frequent label among its neighbors, ties
    * broken by (count DESC, label ASC). That tie rule is what makes the
    * algorithm deterministic and oracle-able — textbook LPA breaks ties
    * randomly and is therefore unreproducible; with a total order on
    * candidates the fixed-round result is a pure function of the graph,
    * bit-identical on any engine/partitioning.
    *
    * Scale shape: per round, ONE edge⨝label join + a (node, label)
    * count aggregation + a per-node argmax window — the window runs
    * over the collapsed candidate table (≤ degree distinct labels per
    * node), never raw edges. Labels cut per round (flat
    * lineage, the [[pageRankExact]] discipline); driver state is zero.
    * Fixed `iters` rather than convergence detection: synchronous LPA
    * can oscillate on bipartite structures, so production runs pick a
    * round budget — and a fixed depth is exactly replayable by an
    * unrolled oracle. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
    val e = base.union(base.select(col("v").as("u"), col("u").as("v")))
      .distinct().transform(Cut.rows)
    var lab = e.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).transform(Cut.summary)
    for (_ <- 1 to iters) {
      val counts = e.join(lab, e("v") === lab("node"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
      val next = counts
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
            .orderBy(col("c").desc, col("label"))))
        .filter(col("__rn") === 1)
        .select(col("u").as("node"), col("label"))
        .transform(Cut.summary)
      Cut.release(lab)
      lab = next
    }
    Cut.release(e)
    lab
  }

  /** Multi-source BFS hop distances — "how far is every node from the
    * seed set", the graph primitive under influence radius, blast-
    * radius audits, and crawl-frontier depth caps: iterative frontier
    * expansion for `maxHops` rounds, keeping the MINIMUM hop count per
    * node (first discovery wins; re-discoveries are dropped by the
    * anti-join, so each round's frontier only carries NEW nodes — the
    * delta-iteration shape, never re-expanding the settled set).
    * Integer hop counts — exactly replayable by a bounded recursive
    * CTE. Scale: per round, one join frontier⋈edges (frontier-sized,
    * not graph-sized) + one anti-join against settled; `maxHops`
    * bounds the rounds like every iterative op here; lineage cut per
    * round. Undirected (edges mirrored); unreached nodes are absent
    * from the output. */
  def bfsDistances(edges: DataFrame, aCol: String, bCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val base = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
    val e = base.union(base.select(col("v").as("u"), col("u").as("v")))
      .distinct().transform(Cut.rows)
    var settled = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("hops", lit(0L)).transform(Cut.summary)
    var frontier = settled
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = e.join(frontier, e("u") === frontier("node"))
        .select(col("v").as("node")).distinct()
        .join(settled.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(hop.toLong))
        .transform(Cut.summary)
      val grown = settled.unionByName(next).transform(Cut.summary)
      if (frontier ne settled) Cut.release(frontier)
      Cut.release(settled); frontier = next; settled = grown
    }
    if (frontier ne settled) Cut.release(frontier)
    Cut.release(e)
    settled
  }

  /** HITS hubs & authorities over a DIRECTED edge set, in the
    * [[pageRankExact]] exact-integer discipline: fixed iterations of
    * auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each
    * re-normalized by integer floor-division against the round's MAX
    * score (x·scale // max — the L∞ variant of the textbook L2
    * normalization: a pure rescale, same ranking, but exactly
    * replayable where sqrt is not). Floor divisions and order-free
    * integer sums make the result bit-identical on any engine and
    * partitioning, so an unrolled-CTE oracle hash-checks it.
    *
    * Scale shape mirrors pageRankExact: 2 key-partitioned shuffles per
    * half-step, per-round lineage cut, driver state = nothing (the max
    * joins back as a broadcast one-row table, never a collected
    * scalar). Nodes with no in-edges hold auth 0; no out-edges, hub 0.
    * `scale` bound: the renormalization numerator is score·scale where
    * score ≤ scale·max-indegree, so pick scale with
    * scale²·max-indegree < 2⁶³ (ANSI mode throws on overflow) — the
    * default 10⁶ is safe to ~9×10⁶ in-degree at any graph size; unlike
    * [[pageRankExact]] there is no teleport-resolution reason to grow
    * it with the node count.
    *
    * r12 (the q218 watch): the cut moved BELOW the normalization —
    * `normalized` fans its input out to TWO consumers (the max agg's
    * broadcast subquery and the main select), so checkpointing the
    * normalized result made each half-step replay its e⋈scores join +
    * groupBy twice inside the one materialization job (Catalyst does
    * not dedupe common subplans). Cutting the RAW per-node score
    * table instead materializes the join once; the normalization
    * itself is then a cheap re-scan per consumer. Same checkpoint
    * count, half the join work — measured 2.94 → 2.14 s on q218
    * (sf0.1, calm-canary min-of-3-of-min-of-2, identical restricted
    * sessions). */
  def hitsExact(edges: DataFrame, aCol: String, bCol: String,
                iters: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct().transform(Cut.rows)
    def normalized(scores: DataFrame, c: String): DataFrame =
      scores.crossJoin(broadcast(scores.agg(max(col(c)).as("__m"))))
        .select(col("node"),
          call_function("div", col(c) * scale, col("__m")).as(c))
    // r17 (VERDICT r16 item 2): SPARSE iteration. A zero-score node
    // contributes 0 to every half-step sum and cannot move the round
    // max (scores are ≥ 0 with at least one positive), so the dense
    // nodes-left-join the loop used to pay per half-step is value-free
    // inside the iteration: scores stay sparse (only nodes with ≥ 1
    // contributing edge) and densify ONCE at the return join. Round 1
    // also drops its e ⋈ hub join outright — the initial hub is the
    // constant `scale` for every node, so a₁ = scale·indegree comes
    // straight off the edge list — and the init-table checkpoint job
    // disappears with it. Per half-step: 2 joins → 1; the `nodes`
    // union-distinct is now computed once for the final densify
    // instead of standing cached through the loop.
    var hub: DataFrame = null  // sparse (node, h): nodes with ≥1 out-edge
    var auth: DataFrame = null // sparse (node, a): nodes with ≥1 in-edge
    // previous iteration's hub cut, freeable once the NEXT aRaw cut has
    // folded its data in (the final iteration's cuts feed the result)
    var freeH: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val aRaw = (if (i == 1) e.groupBy(col("v")).agg(sum(lit(scale)).as("a"))
                  else e.join(hub, e("u") === hub("node"))
                    .groupBy(col("v")).agg(sum("h").as("a")))
        .withColumnRenamed("v", "node")
        .transform(Cut.summary)
      freeH.foreach(Cut.release); freeH = None
      auth = normalized(aRaw, "a")
      val hRaw = e.join(auth, e("v") === auth("node"))
        .groupBy(col("u")).agg(sum("a").as("h"))
        .withColumnRenamed("u", "node")
        .transform(Cut.summary)
      // aRaw_i is consumed only by hRaw_i (just materialized) except
      // on the last round, where it feeds the returned join
      if (i < iters) { Cut.release(aRaw); freeH = Some(hRaw) }
      hub = normalized(hRaw, "h")
    }
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("h"),
        coalesce(col("a"), lit(0L)).as("a"))
  }

  def pageRankExact(edges: DataFrame, aCol: String, bCol: String,
                    iters: Int = 3, scale: Long = 1000000L,
                    dampPct: Int = 85,
                    seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    val base = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
    val e = base.union(base.select(col("v").as("u"), col("u").as("v")))
      .distinct().transform(Cut.rows)
    val deg = Cut.rows(e.groupBy("u").agg(count(lit(1)).as("outdeg")))
    val n = deg.count() // node count; bounded driver state (one long)
    require(n > 0, "pageRankExact: empty graph")
    // Personalized variant: teleport mass (and the initial distribution)
    // restricted to the seed set — rank relative to the seeds, the
    // recommendation / related-items formulation. The seed table joins
    // as a broadcast-friendly flag column; nSeeds is the only extra
    // driver scalar. seeds = None is classic uniform PageRank.
    val nodes = seeds match {
      case None =>
        val teleport = ((100L - dampPct) * scale) / (100L * n)
        deg.select(col("u").as("node"), lit(scale / n).as("init"),
          lit(teleport).as("tp"))
      case Some(sd) =>
        val s = sd.select(col(sd.columns.head).cast("long").as("node"))
          .distinct()
        val flagged = deg.select(col("u").as("node"))
          .join(s.withColumn("__seed", lit(true)), Seq("node"), "left")
        val nSeeds = flagged.filter(col("__seed")).count()
        require(nSeeds > 0, "pageRankExact: no seed is a graph node")
        val teleport = ((100L - dampPct) * scale) / (100L * nSeeds)
        flagged.select(col("node"),
          when(col("__seed"), scale / nSeeds).otherwise(0L).as("init"),
          when(col("__seed"), teleport).otherwise(0L).as("tp"))
    }
    val nodeState = Cut.rows(nodes)
    // r16 (guide §1.2): e ⋈ deg is LOOP-INVARIANT — the degree-annotated
    // edge list is computed and cached once, so each iteration pays only
    // the pr join + contribution aggregation instead of re-running the
    // edge-degree join (one join + its exchanges per round removed).
    val eDeg = e.join(deg, "u")
      .select(col("u"), col("v"), col("outdeg")).transform(Cut.rows)
    var pr = nodeState.select(col("node"), col("init").as("pr"))
      .transform(Cut.summary)
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(pr, eDeg("u") === pr("node"))
        .select(col("v"), call_function("div", col("pr"), col("outdeg")).as("c"))
        .groupBy("v").agg(sum("c").as("s"))
      val next = nodeState.select(col("node"), col("tp"))
        .join(contrib, col("node") === contrib("v"), "left")
        .select(col("node"),
          (col("tp") +
            call_function("div", lit(dampPct) * coalesce(col("s"), lit(0L)),
              lit(100L))).as("pr"))
        .transform(Cut.summary)
      Cut.release(pr)
      pr = next
    }
    // pr is cut each round, so none of the caches is in its lineage
    Cut.release(e); Cut.release(deg); Cut.release(nodeState); Cut.release(eDeg)
    pr
  }

  /** Directed-edge reciprocity — the share of distinct non-loop edges
    * whose reverse edge also exists: the "is this a conversation or a
    * broadcast" one-number readout for any DIRECTED graph (citation
    * nets ≈ 0, social follows ≈ 0.5+, mirror rings → 1). ONE distinct
    * pass over the edge list, then a LEFT SEMI self-join on the
    * swapped key pair — per-key ≤1 after distinct, so the join is
    * linear, never multiplying; counts are exact integers, the ratio
    * ONE division. NULL when the graph has no edges. */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val d = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .distinct().transform(Cut.rows)
    val rec = d.join(d.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("m_reciprocal"))
    d.agg(count(lit(1)).as("m_directed"))
      .crossJoin(broadcast(rec))
      .select(col("m_directed"), col("m_reciprocal"),
        when(col("m_directed") === 0, lit(null)).otherwise(
          col("m_reciprocal").cast("double") / col("m_directed"))
          .as("reciprocity"))
  }

  /** Global transitivity (the triangle/wedge ratio): C = 3·T / W with
    * T the triangle count and W = Σ_n d_n(d_n−1)/2 the wedge count —
    * the whole-graph companion to [[triangleCounts]]' per-node local
    * density (a link farm reads high, a star reads 0). Triangle
    * enumeration reuses the degree-oriented [[triangleCounts]] plan
    * (its per-node sum is exactly 3T); wedges are one more agg off the
    * same degree table shape. Exact integers, ONE division; NULL when
    * the graph has no wedges. */
  def transitivity(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows)
    // r16: canon is already canonical+cached — triangleCountsOf avoids
    // the second distinct pass + duplicate cache the public entry paid
    val t3 = triangleCountsOf(canon)
      .agg(coalesce(sum(col("triangles").cast(dec38)),
        lit(0).cast(dec38)).as("__t3"))
    // keep 2W = Σ d(d−1) integral (always even) — no fractional
    // intermediate anywhere: C = 3T/W = 2·(3T)/(2W)
    val wedges = canon
      .select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum((col("d") * (col("d") - 1)).cast(dec38)),
        lit(0).cast(dec38)).as("__w2"))
    wedges.crossJoin(broadcast(t3))
      .select((col("__t3") / 3).cast("long").as("n_triangles"),
        (col("__w2") / 2).cast("long").as("n_wedges"),
        when(col("__w2") === lit(0).cast(dec38), lit(null)).otherwise(
          (lit(2).cast(dec38) * col("__t3")).cast("double") /
            col("__w2").cast("double")).as("transitivity"))
  }

  /** Categorical (attribute) assortativity — Newman's r for a DISCRETE
    * node attribute over the undirected mirror: do same-attribute
    * nodes preferentially link ([[degreeAssortativity]] is the degree
    * special case; this is the lang/host/community mixing readout).
    * With integer counts on the mirror (M = 2m directed edges, E_ii
    * same-attribute edges, A_i the attribute out-margins):
    *
    *   r = (M·ΣE_ii − ΣA_i²) / (M² − ΣA_i²)
    *
    * — every term an exact DECIMAL(38) integer, r ONE division. Same
    * scale shape as [[modularity]]: label joins on node keys, two
    * attribute-cardinality aggs, one global fold. NULL r when every
    * edge is same-attribute by margin necessity (denominator 0). */
    def attributeAssortativity(edges: DataFrame, aCol: String, bCol: String,
                             labels: DataFrame, nodeCol: String,
                             attrCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val lab = labels
      .select(col(nodeCol).cast("long").as("n"),
        col(attrCol).cast("long").as("c"))
      .distinct().transform(Cut.rows)
    val mirror = canon.select(col("u"), col("v"))
      .union(canon.select(col("v").as("u"), col("u").as("v")))
    val tagged = mirror
      .join(lab.select(col("n").as("u"), col("c").as("ca")), Seq("u"))
      .join(lab.select(col("n").as("v"), col("c").as("cb")), Seq("v"))
      .transform(Cut.summary)
    val eii = tagged.filter(col("ca") === col("cb"))
      .agg(count(lit(1)).cast(dec38).as("__eii"))
    val marg = tagged.groupBy("ca").agg(count(lit(1)).as("__a"))
      .agg(coalesce(sum((col("__a") * col("__a")).cast(dec38)),
          lit(0).cast(dec38)).as("__a2"),
        coalesce(sum(col("__a").cast(dec38)), lit(0).cast(dec38))
          .as("__m"),
        count(lit(1)).cast("long").as("n_attrs"))
    marg.crossJoin(broadcast(eii))
      .select(col("n_attrs"), col("__m").cast("long").as("m_directed"),
        when(col("__m") * col("__m") - col("__a2") ===
            lit(0).cast(dec38), lit(null)).otherwise(
          (col("__m") * col("__eii") - col("__a2")).cast("double") /
            (col("__m") * col("__m") - col("__a2")).cast("double"))
          .as("r"))
  }

  /** Modularity of a GIVEN node partition — Newman–Girvan Q =
    * Σ_c [e_c/m − (d_c/2m)²]: how much denser are the communities than
    * a degree-preserving random rewiring. THE quality readout for any
    * community assignment ([[labelPropagation]]'s labels, a hash
    * partition, a crawl-host grouping) — Q ≈ 0 means the "communities"
    * are degree artifacts.
    *
    * Exactness: Q·4m² = Σ_c [4m·e_c − d_c²] is an exact integer (m the
    * canonical edge count, e_c intra-community edges, d_c the
    * community degree sum), so Q is ONE division of DECIMAL(38)
    * integers. Scale shape: distinct canonical edges → two node-key
    * label joins (label table is node-cardinality — NOT broadcast) →
    * one community-cardinality agg for e_c, one for d_c, full-outer
    * merged and folded globally. */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String, commCol: String)
      : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct().transform(Cut.rows)
    val lab = labels
      .select(col(nodeCol).cast("long").as("n"),
        col(commCol).cast("long").as("c"))
      .distinct().transform(Cut.rows)
    val tagged = canon
      .join(lab.select(col("n").as("u"), col("c").as("ca")), Seq("u"))
      .join(lab.select(col("n").as("v"), col("c").as("cb")), Seq("v"))
    val eC = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
    val dC = tagged
      .select(explode(array(col("ca"), col("cb"))).as("c"))
      .groupBy("c").agg(count(lit(1)).as("dc"))
    val m = tagged.agg(count(lit(1)).as("m"))
    dC.join(eC, Seq("c"), "left").na.fill(0L, Seq("ec"))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).cast("long").as("n_communities"),
        max(col("m")).cast("long").as("m_edges"),
        coalesce(sum((lit(4).cast(dec38) * col("m") * col("ec") -
          col("dc").cast(dec38) * col("dc"))), lit(0).cast(dec38))
          .as("__num"),
        max((lit(4).cast(dec38) * col("m") * col("m"))).as("__den"))
      .select(col("n_communities"), col("m_edges"),
        when(col("__den") === lit(0).cast(dec38), lit(null)).otherwise(
          col("__num").cast("double") / col("__den").cast("double"))
          .as("modularity"))
  }
}
