package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance fuzzy self-join without the all-pairs cross product.
  *
  * The prefilter is LOSSLESS: a single edit (insert/delete/substitute)
  * changes string length by at most 1, so levenshtein(a, b) <= k implies
  * |len(a) - len(b)| <= k. Bucketing rows by floor(len / (k+1)) makes
  * that band an equi-join: two rows within k of each other in length sit
  * in the same or adjacent buckets, so the probe side replicates each row
  * to its own and both neighboring buckets (3x — constant, independent of
  * corpus size) and the join is a plain shuffle equi-join on the bucket
  * id. Candidates then confirm with the THRESHOLDED levenshtein kernel
  * (Spark's `levenshtein(l, r, k)` short-circuits to -1 once the running
  * minimum exceeds k — O(k * min(len)) per pair instead of O(len^2)).
  *
  * Scale shape: one shuffle by bucket id; no Cartesian product, no
  * broadcast of the corpus. Each unordered pair meets exactly once
  * (probe.id < build.id, and the build side keeps a single bucket). At
  * 100 TB the bucket key is length-derived and therefore skews with the
  * corpus length distribution; if one band dominates, compose with
  * [[Skew.saltedJoin]] or pre-split the dominant band on a cheap second
  * key (first character) — the band predicate stays lossless either way.
  */
object FuzzyJoin {

  /** Pairs (a, b, dist) with a < b and levenshtein <= maxDist over
    * `strCol`. Output dist is the exact edit distance.
    *
    * r16 (guide §2.5, the skew fix this object's scaladoc already
    * prescribes): the band key is length-derived, so a corpus of
    * near-uniform string lengths (fixed-width prefixes, titles,
    * normalized names) collapses into ONE band and the whole quadratic
    * confirm ran as a single join task. The join key is therefore
    * salted — build side keyed by pmod(xxhash64(id), S), probe side
    * exploded S ways — which spreads the levenshtein confirm across
    * S = defaultParallelism tasks. Each unordered pair still meets
    * exactly once (one matching band × one matching salt); salt
    * replication multiplies only the id+string probe rows, never the
    * candidate-pair volume.
    *
    * r17 (VERDICT r16 item 3): S is CAPPED at 64. The probe side is
    * replicated ×S unconditionally, so an uncapped
    * S = defaultParallelism made probe shuffle volume grow linearly
    * with cluster size (10⁴–10⁵ slots at 100 TB) even on a skew-free
    * corpus. The salt only needs to split the largest band across
    * enough tasks to keep the quadratic confirm off one core; 64
    * splits of a degenerate single band is ample granularity for AQE
    * to balance, and the replication bound is then a constant 64×
    * of (id, string, band) rows — independent of cluster size. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val w = maxDist + 1
    val salts =
      math.min(df.sparkSession.sparkContext.defaultParallelism, 64)
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"),
      floor(length(col(strCol)) / w).cast("int").as("bk"))
    val probe = base.select(col("id"), col("s"),
        explode(array(col("bk") - 1, col("bk"), col("bk") + 1)).as("jb"))
      .select(col("id"), col("s"), col("jb"),
        explode(sequence(lit(0), lit(salts - 1))).as("salt"))
      .alias("p")
    val build = base
      .withColumn("salt", pmod(xxhash64(col("id")), lit(salts.toLong))
        .cast("int"))
      .alias("b")
    val dist = levenshtein(col("p.s"), col("b.s"), maxDist)
    probe.join(build,
        col("p.jb") === col("b.bk") && col("p.salt") === col("b.salt") &&
          col("p.id") < col("b.id"))
      .filter(abs(length(col("p.s")) - length(col("b.s"))) <= maxDist)
      .select(col("p.id").as("a"), col("b.id").as("b"),
        dist.cast("int").as("dist"))
      .filter(col("dist") >= 0) // thresholded kernel: -1 = above maxDist
  }

  /** Jaro–Winkler fuzzy self-join under a blocking key — record linkage
    * for name-like strings where edit distance over-penalizes
    * transpositions. JW is not a metric (no triangle inequality), so
    * unlike [[editDistancePairs]] there is NO lossless metric prefilter:
    * the quadratic is bounded by BLOCKING instead (join only within
    * `blockCols` groups — standard sorted-neighborhood/record-linkage
    * practice; pick keys whose groups stay small as the corpus grows).
    * The kernel is the codegen'd [[graft.functions.JaroWinkler]]
    * expression — textbook semantics pinned bit-for-bit to DuckDB's
    * `jaro_winkler_similarity`, which is what makes the operator
    * hash-oracle-able. One shuffle on the block key; each unordered
    * pair meets once (a < b). */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       blockCols: Seq[String], minSim: Double): DataFrame = {
    require(blockCols.nonEmpty,
      "jaroWinklerPairs: blocking keys are the scale bound; none given")
    require(minSim > 0 && minSim <= 1, s"minSim in (0,1], got $minSim")
    // self-register (idempotent) — call_function("jaro_winkler") is an
    // analysis error on sessions where GraftExtensions never ran
    graft.functions.Registry.registerAll(df.sparkSession)
    val base = df.select((col(idCol).as("id") +: col(strCol).as("s") +:
      blockCols.map(col)): _*)
    val a = base.alias("a")
    val b = base.alias("b")
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _)
    val sim = call_function("jaro_winkler", col("a.s"), col("b.s"))
    a.join(b, blockEq && col("a.id") < col("b.id"))
      .withColumn("sim", sim)
      .filter(col("sim") >= minSim)
      .select(col("a.id").as("a"), col("b.id").as("b"), col("sim"))
  }

  /** Fellegi–Sunter match scoring — the probabilistic record-linkage
    * decision model on top of any blocked candidate generator
    * ([[jaroWinklerPairs]], sorted-neighborhood, LSH): each comparison
    * field f carries (m_f, u_f) — P(agree | same entity) and
    * P(agree | different entities) — and a pair's log-likelihood-ratio
    * match weight is Σ_f agree ? ln(m/u) : ln((1−m)/(1−u)). Pairs
    * above `upper` are matches, below `lower` non-matches, between =
    * clerical review (the three-way FS decision).
    *
    * `fields` maps an EXISTING boolean agreement column to its (m, u).
    * Pure projection over the (already-blocked) pair table — the
    * quadratic control lives in the candidate generator, not here.
    * Determinism: the four per-field log terms go through
    * [[Exact.lnq]] and the weight is a FIXED literal-order sum of ≤
    * #fields terms (an expression chain, not a data-driven fold). */
  def fellegiSunter(pairs: DataFrame,
      fields: Seq[(String, Double, Double)],
      lower: Double, upper: Double): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter: no comparison fields")
    fields.foreach { case (c, m, u) =>
      require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
        s"field $c needs 0 < u < m < 1, got m=$m u=$u") }
    val weight = fields.map { case (c, m, u) =>
      when(col(c), Exact.lnq(lit(m) / lit(u)))
        .otherwise(Exact.lnq(lit(1.0 - m) / lit(1.0 - u)))
    }.reduce(_ + _)
    pairs.withColumn("match_weight", weight)
      .withColumn("decision",
        when(col("match_weight") >= upper, lit("match"))
          .when(col("match_weight") <= lower, lit("non_match"))
          .otherwise(lit("review")))
  }

  /** Set-overlap self-join with LOSSLESS prefix filtering (the PPJoin
    * family, Xiao et al., WWW'08): pairs of records whose distinct
    * token sets share at least `minOverlap` tokens — record linkage,
    * near-duplicate titles, co-citation mining.
    *
    * Prefix principle: order every record's tokens by a GLOBAL rank
    * (ascending document frequency, rarest first — ties by token). If
    * |A ∩ B| ≥ t, the first |A| − t + 1 tokens of A must contain at
    * least one element of B (pigeonhole on the common order) — and
    * symmetrically — so indexing only each record's PREFIX tokens finds
    * every qualifying pair. Rare-first ordering makes those prefixes
    * the LOW-frequency tokens: the candidate join explodes on tokens
    * that by construction appear in few records, exactly inverting the
    * stopword-skew problem a naive token join has at 100 TB.
    *
    * Shape: one token explode + df aggregation (the global order), a
    * vocab-table rank assignment replacing every token by its LONG
    * rarity rank (bijective — losslessness is preserved, unlike token
    * hashing — and all downstream arrays/join keys become primitive
    * longs instead of (df, string) structs: lighter codegen, lighter
    * shuffles), one per-record in-row array_sort, prefix explode,
    * equi-join on the prefix rank, exact `array_intersect` confirm on
    * candidates only. Never all-pairs. The rank window runs over the
    * VOCABULARY table (orders of magnitude smaller than the corpus);
    * for extreme vocabularies shard it by df band — the rank only has
    * to preserve the (df, tok) order, not be dense. */
  def overlapJoin(df: DataFrame, idCol: String, textCol: String,
                  minOverlap: Int): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(split(lower(col(textCol)), " "))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("tid", row_number().over(
        Window.orderBy(col("df"), col("tok"))).cast("long"))
      .select("tok", "tid")
    val ranked = toks.join(vocab, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(col("tid"))).as("toks"))
      .withColumn("k", size(col("toks")))
      .filter(col("k") >= minOverlap)
      .withColumn("prefix",
        slice(col("toks"), lit(1), (col("k") - minOverlap + 1).cast("int")))
      .transform(Cut.rows)
    val pref = ranked.select(col("id"), col("toks"),
      explode(col("prefix")).as("pt"))
    val cand = pref.alias("x").join(pref.alias("y"),
        col("x.pt") === col("y.pt") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.toks").as("ta"), col("y.toks").as("tb"))
      .distinct()
    cand
      .withColumn("overlap", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("overlap") >= minOverlap)
      .select(col("a"), col("b"), col("overlap").cast("long").as("overlap"))
  }
}
