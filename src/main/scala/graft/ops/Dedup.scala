package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (SURVEY.md §2.8c L1/L2).
  *
  * Three tiers, all shuffle-by-key (never O(N²) document comparisons):
  *
  *  - exact: group on a content hash — the shuffle carries 32-byte digests,
  *    not documents; works unchanged at 100 TB.
  *  - MinHash+LSH: shingle → MinHash signatures (native, one grouped
  *    aggregation of codegen'd `min(xxhash64(shingle, i))` columns — no
  *    MLlib fit, no Vector UDFs) → banded OR-amplified buckets; candidate
  *    pairs come from an equi-join on (band, minhash value), then exact
  *    Jaccard over hashed shingle SETS on the candidates only (identical
  *    to true shingle-set Jaccard absent 64-bit collisions, so the output
  *    is SQL-oracle-able — unlike the 2^20 feature-space Jaccard the
  *    MLlib path computed).
  *  - SimHash: one 64-bit signature per doc; near-dup = small Hamming
  *    distance. Banding over 16-bit quarters turns the Hamming search into
  *    4 equi-joins (pigeonhole: distance ≤ 3 ⇒ one quarter matches
  *    exactly), so it also scales as a hash join.
  */
object Dedup {

  /** Exact dedup: keep one row per distinct `cols` combination. At scale
    * this is one shuffle on those columns. NOTE: like Spark's
    * `dropDuplicates`, the survivor among rows that differ OUTSIDE `cols`
    * is arbitrary — when deterministic survivor selection matters (lowest
    * id per content digest), use [[dedupCorpus]], which rank-picks inside
    * digest groups. */
  def exactDedup(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Per-content-hash group sizes > 1 (the duplicate report). */
  def duplicateGroups(df: DataFrame, textCol: String): DataFrame =
    df.select(sha2(col(textCol), 256).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** MinHash-LSH near-duplicate pairs with Jaccard >= `threshold` over
    * word `n`-gram shingle sets.
    *
    * Fully native: signatures from [[minHashSignatures]], banded bucket
    * equi-join for candidates, exact Jaccard on candidates only. Returns
    * (a, b, jaccard) with a < b; `jaccard` is the exact shingle-set
    * Jaccard rounded to 4 places.
    *
    * Banding is the classic AND/OR amplification: `bandR` consecutive
    * minhashes per band (AND), any-band match makes a candidate (OR) —
    * candidate probability 1-(1-s^bandR)^(numHashTables/bandR). Recall
    * at the 16/2 default for a pair at s ≥ 0.8 is ≥ 1-(1-0.64)^8 =
    * 1 - 2.8e-4 (the tri-SF oracle-equality guard in OpsSuite /
    * CheckMinhashOracle verifies ZERO misses on the fixtures);
    * precision is exact (every emitted pair is confirmed). bandR > 1
    * matters on corpora with a fat tail of LOW-similarity pairs: with
    * single-hash bands a pair at s collides with probability
    * 1-(1-s)^b — 34% at s = 0.05, b = 8! — and a shared-vocabulary
    * corpus floods the confirm join with sub-threshold candidates
    * (measured on the round-8 fixtures: 82k candidates for 256 true
    * pairs at r = 1 vs ~1k at r = 2, a 5-8× q78 speedup). */
  def minHashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      numHashTables: Int = 16, bandR: Int = 2): DataFrame = {
    // Cut.rows, measured against a checkpoint: at sf0.1 the checkpoint
    // variant ran q78 at ~3.8 s vs ~2.4 s and q79 at ~5.3 s vs ~4.1 s
    // (A/B, equal canary) — the three consumers (banded explode + both
    // Jaccard confirm joins) read the columnar cache much faster.
    // r16: the signing pass is now map-only (no shuffle of its own), so a
    // 1-split local scan would leave the whole sign+band+confirm chain on
    // one core — widen() restores slot-wide parallelism there and no-ops
    // on an already-wide corpus scan (guide §2.5).
    val sigs = minHashSignatures(Par.widen(docs, col(idCol)), idCol, textCol,
      shingleN, numHashTables).transform(Cut.rows)
    confirmJaccard(bandedCandidatePairs(sigs, bandR), sigs, sigs, threshold)
  }

  /** Per-row banded bucket keys: the signature array is cut into
    * bands of `bandR` consecutive minhashes, each band keyed by ONE
    * xxhash64 over its slice (an r-way AND collapsed to a single
    * 64-bit equi-join key — join on (band, key), never on r columns).
    * Banding happens at QUERY time over the persistable plain-minhash
    * signature array, so the r/b trade-off can be retuned without
    * re-signing a standing corpus. */
  private def bandKeys(df: DataFrame, bandR: Int): DataFrame = {
    require(bandR >= 1, s"bandR must be >= 1, got $bandR")
    df.select(col("id"),
      posexplode(transform(
        sequence(lit(0), (size(col("sig")) / bandR).cast("int") - 1),
        b => xxhash64(slice(col("sig"), b * bandR + 1, lit(bandR)))))
        .as(Seq("band", "mh")))
  }

  /** Banded LSH candidate pairs within one signature table: a pair is
    * a candidate when ALL `bandR` minhashes of ANY band match
    * (AND/OR amplification). One posexplode + self equi-join on
    * (band, bandkey); never all-pairs. */
  private def bandedCandidatePairs(sigs: DataFrame,
                                   bandR: Int): DataFrame = {
    val banded = bandKeys(sigs, bandR)
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.mh") === col("y.mh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
  }

  /** Banded LSH candidates across two signature tables (no id-order
    * restriction): (aId from `left`, bId from `right`). */
  private def bandedCandidatePairsAcross(left: DataFrame, right: DataFrame,
                                         bandR: Int): DataFrame = {
    bandKeys(left, bandR).alias("x").join(bandKeys(right, bandR).alias("y"),
        col("x.band") === col("y.band") && col("x.mh") === col("y.mh"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
  }

  /** Exact Jaccard confirmation of candidate (a, b) pairs: join the hashed
    * shingle sets back (candidates only — the corpus never re-joins
    * itself) and keep pairs at or above `threshold`. Jaccard over the
    * 64-bit hashed sets equals true shingle-set Jaccard absent xxhash64
    * collisions within a doc pair (probability ~ |A||B|/2^64 — nil). */
  private def confirmJaccard(cand: DataFrame, aSigs: DataFrame,
                             bSigs: DataFrame, threshold: Double): DataFrame = {
    val j = size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb"))).cast("double")
    cand
      .join(aSigs.select(col("id").as("a"), col("shs").as("sha")), Seq("a"))
      .join(bSigs.select(col("id").as("b"), col("shs").as("shb")), Seq("b"))
      .withColumn("__j", j)
      .filter(col("__j") >= threshold)
      .select(col("a"), col("b"), round(col("__j"), 4).as("jaccard"))
  }

  final case class DedupReport(input: Long, kept: Long,
                               exactRemoved: Long, nearRemoved: Long)

  /** End-to-end corpus cleaning: exact dedup (content hash) followed by
    * near-dedup (MinHash-LSH at `threshold`). Among near-duplicates the
    * lowest id survives (deterministic). Returns the cleaned corpus plus a
    * removal report.
    *
    * The victim anti-join is left to AQE: it broadcasts when the victim
    * list is small (the realistic dup-rate regime) and falls back to a
    * shuffle join when an adversarial dup rate makes victims comparable to
    * the corpus — a forced `broadcast()` here would OOM the driver in that
    * regime (VERDICT r1 item 5).
    *
    * `simHashPrefilter = true` inserts the cheap SimHash tier — one
    * grouped agg producing a 64-bit signature per doc, then 4 banded
    * equi-joins — so the costly MinHash tier (shingle explode → HashingTF
    * → signature fit → bucket join) only sees docs with at least one
    * Hamming-≤3 candidate partner. This is a RECALL/COST DIAL, not free
    * pruning: Jaccard ≥ 0.8 on shingle sets does not imply SimHash
    * Hamming ≤ 3 (measured on the fixture corpus: the prefilter misses a
    * minority of true pairs — see the OpsSuite measurement), which is why
    * it defaults off. Near-exact copies (the dominant 100 TB dup mode:
    * boilerplate mirrors, trailing-edit re-crawls) sit at Hamming ≈ 0–2
    * and survive the dial.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, threshold: Double = 0.8,
                  numHashTables: Int = 16, bandR: Int = 2,
                  simHashPrefilter: Boolean = false,
                  knownInput: Option[Long] = None): (DataFrame, DedupReport) = {
    // `knownInput`: callers that already counted the corpus (CorpusPrep's
    // gate aggregation) pass it so the report needs no extra scan here.
    // (An observe() on the exact-dedup subtree was tried instead and
    // REJECTED: the CollectMetrics node defeated cached-plan reuse across
    // the three consumers and ran q79 at ~2× — measured round 7.)
    val exact = docs
      .withColumn("__h", sha2(col(textCol), 256))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__h").orderBy(col(idCol))))
      .filter(col("__rk") === 1).drop("__h", "__rk")
      .transform(Cut.rows) // the LSH pass, the anti-join, and both counts
    val afterExact = exact.count()
    val input = knownInput.getOrElse(docs.count())
    val nearInput =
      if (!simHashPrefilter) exact
      else {
        // Docs with no SimHash candidate partner cannot be near-dups at a
        // high Jaccard threshold — skip MinHash for them entirely.
        val candIds = simHashNearDupPairs(exact, idCol, textCol, maxDist = 3)
          .select(explode(array(col("a"), col("b"))).as(idCol)).distinct()
        exact.join(candIds, Seq(idCol), "left_semi")
      }
    val victims = minHashNearDupPairs(nearInput, idCol, textCol, shingleN,
        threshold, numHashTables, bandR)
      .select(col("b").as(idCol)).distinct() // keep the lower id of each pair
    val cleaned = exact.join(victims, Seq(idCol), "left_anti")
    val kept = cleaned.count()
    (cleaned, DedupReport(input, kept,
      exactRemoved = input - afterExact, nearRemoved = afterExact - kept))
  }

  /** The standing corpus's content-digest set — what an incremental
    * pipeline persists between runs (32 bytes/doc, not documents). */
  def contentDigests(docs: DataFrame, textCol: String): DataFrame =
    docs.select(sha2(col(textCol), 256).as("__h")).distinct()

  /** A Bloom filter over the standing corpus's content digests — the
    * broadcastable membership summary an incremental pipeline builds once
    * per epoch (NOT per batch) and persists next to the digest set. At
    * 1e9 docs and 3% fpp this is ~900 MB of bits summarizing 32 GB of
    * digests. Built with Spark's own runtime-filter bloom aggregate in
    * one pass over the digest set. */
  def corpusDigestBloom(corpusDigests: DataFrame, expectedItems: Long,
                        fpp: Double = 0.03): Array[Byte] = {
    graft.functions.Registry.registerAll(corpusDigests.sparkSession)
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    corpusDigests
      .agg(expr(s"bloom_agg(xxhash64(__h), ${expectedItems}L, ${numBits}L)"))
      .head().getAs[Array[Byte]](0)
  }

  /** [[incrementalExactDedup]] with a Bloom prefilter: rows whose digest
    * the filter has definitely never seen (no false negatives) skip the
    * corpus anti-join entirely — only the "maybe" rows (true dups +
    * fpp·batch false positives) shuffle against the digest set. With a
    * realistic dup rate the anti-join input drops from |batch| to
    * ~(dups + 3% of batch), while the result stays EXACTLY equal to the
    * unfiltered operator (asserted in the suite): false positives are
    * resolved by the exact join, and false negatives cannot occur. */
  def incrementalExactDedupBloom(newDocs: DataFrame, idCol: String,
                                 textCol: String, corpusDigests: DataFrame,
                                 bloom: Array[Byte]): DataFrame = {
    graft.functions.Registry.registerAll(newDocs.sparkSession)
    val hashed = newDocs.withColumn("__h", sha2(col(textCol), 256))
    val probe = call_function("bloom_might_contain",
      lit(bloom), xxhash64(col("__h")))
    val maybe = hashed.filter(probe)
      .join(corpusDigests, Seq("__h"), "left_anti")
    val fresh = hashed.filter(!probe)
    fresh.unionByName(maybe)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__h").orderBy(col(idCol))))
      .filter(col("__rk") === 1).drop("__h", "__rk")
  }

  /** Incremental exact dedup — the operational mode of a standing corpus
    * receiving batch increments: drop new docs whose content already
    * exists in the corpus digest set (anti-join on the 32-byte digest,
    * never touching stored documents), then dedup within the batch
    * (lowest id survives). Returns the genuinely-new rows to append. */
  def incrementalExactDedup(newDocs: DataFrame, idCol: String,
                            textCol: String,
                            corpusDigests: DataFrame): DataFrame =
    newDocs
      .withColumn("__h", sha2(col(textCol), 256))
      .join(corpusDigests, Seq("__h"), "left_anti")
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__h").orderBy(col(idCol))))
      .filter(col("__rk") === 1).drop("__h", "__rk")

  /** The persistable MinHash index row for each doc: (id, shs, sig).
    * `shs` is the doc's DISTINCT shingle set as 64-bit xxhash64 values
    * (8 bytes/shingle — needed so candidate pairs can be confirmed with
    * the exact Jaccard; far smaller than persisting shingle strings),
    * `sig` the MinHash signature: sig(i) = min over shingles of
    * xxhash64(shingle, i).
    *
    * The whole row is computed in ONE grouped aggregation over the
    * shingle stream — `collect_set(xxhash64(shingle))` plus
    * `numHashTables` codegen'd `min(xxhash64(shingle, i))` columns, all
    * with map-side partial aggregation. No MLlib fit: the hash family is
    * a pure seed-indexed function of the shingle, so signatures computed
    * in different runs — or different batches, years apart — with the
    * same (shingleN, numHashTables) are mutually joinable. That is what
    * makes the signature table a valid standing index for a 100 TB
    * corpus: persist it once, append per batch, never re-shingle old
    * documents.
    *
    * COMPATIBILITY: this native scheme replaced the MLlib MinHashLSH
    * formulation (round 6). Signature tables persisted by the old path
    * — schema (id, features: 2^20-dim sparse vector, sig) — are NOT
    * readable here: the schema differs (a stale table fails fast with
    * an unresolved-column error on `shs`) and the hash family differs,
    * so even a schema-migrated old table would never band-match new
    * signatures. Re-seed standing indexes by re-running this over the
    * corpus once; from then on the persist-once/append-forever contract
    * holds, because the hash family is a pure seed-indexed function.
    * Round 8 changed the DEFAULT numHashTables 8 → 16 (paired with
    * r = 2 banding in the candidate join): a standing table signed at
    * 8 stays joinable by passing numHashTables = 8 explicitly — the
    * first 8 hash seeds are the same — but mixing widths in one join
    * is not supported; re-sign or pin the old width. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashTables: Int = 16): DataFrame = {
    // r16 (optimization, guide §4.1): the shingle stream used to come
    // from the `shingles` UDTF — a CodegenFallback Generator evaluated
    // row-at-a-time with boxed InternalRows. It is now a codegen'd
    // `explode` of the SAME shingle array built in-row (split → filter
    // empties → concat_ws over sliding slices — identical strings, so
    // every downstream xxhash64 and therefore every signature, band
    // key and jaccard is bit-identical; the oracle is untouched). The
    // collect_set + 16×min aggregation is kept: an A/B probe of a pure
    // per-row 17×array-transform projection was ~3× SLOWER warm (boxed
    // lambda transforms defeat codegen), while the agg form streams
    // every hash through codegen'd partial aggregation. Callers widen a
    // narrow scan first (see minHashNearDupPairs), which both
    // parallelizes the shingle/hash work and pre-partitions by id so
    // the groupBy needs no second exchange.
    // (Rows with fewer than `shingleN` words emit nothing — explode of
    // an empty array — exactly the old generator's Nil.)
    val ws = filter(split(col(textCol), " "), w => w =!= "")
    val shingleArr =
      when(size(ws) >= shingleN, transform(
        sequence(lit(0), size(ws) - shingleN),
        i => concat_ws(" ", slice(ws, i + 1, lit(shingleN)))))
        .otherwise(array())
    val exploded = docs.select(col(idCol).as("id"),
      explode(shingleArr).as("shingle"))
    val mins = (0 until numHashTables).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"__m$i"))
    exploded.groupBy("id")
      .agg(collect_set(xxhash64(col("shingle"))).as("shs"), mins: _*)
      .select(col("id"), col("shs"),
        array((0 until numHashTables).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Incremental near-dedup — the LSH analogue of
    * [[incrementalExactDedup]], closing the operational loop for a
    * standing corpus: only the NEW batch is shingled and signed; the
    * standing corpus participates through its persisted signature table
    * (from [[minHashSignatures]], same shingleN/numHashTables) and is
    * never recomputed or re-read as text.
    *
    * A new doc is dropped when it has Jaccard >= threshold against any
    * corpus doc, or against a lower-id doc within the batch. Both checks
    * are banded bucket equi-joins on signatures with exact Jaccard
    * confirmation on candidates — never all-pairs.
    *
    * Returns (kept new rows, their signature rows) — append the latter to
    * the standing table to complete the increment. */
  def incrementalMinHashNearDup(newDocs: DataFrame, idCol: String,
                                textCol: String, corpusSigs: DataFrame,
                                shingleN: Int = 3, threshold: Double = 0.8,
                                numHashTables: Int = 16,
                                bandR: Int = 2): (DataFrame, DataFrame) = {
    val batchSigs = minHashSignatures(newDocs, idCol, textCol, shingleN,
      numHashTables).transform(Cut.rows)
    // Standing corpus dominates regardless of id (the replay-safe
    // convention): a batch doc near any corpus doc drops.
    val vsCorpus = confirmJaccard(
        bandedCandidatePairsAcross(corpusSigs, batchSigs, bandR),
        corpusSigs, batchSigs, threshold)
      .select(col("b").as("victim"))
    val withinBatch = confirmJaccard(bandedCandidatePairs(batchSigs, bandR),
        batchSigs, batchSigs, threshold)
      .select(col("b").as("victim"))
    val victims = vsCorpus.union(withinBatch).distinct()
    val kept = newDocs.join(victims,
      newDocs(idCol) === victims("victim"), "left_anti")
    val keptSigs = batchSigs.join(victims,
      batchSigs("id") === victims("victim"), "left_anti")
    (kept, keptSigs)
  }

  /** 64-bit SimHash of a token stream: sign-sum of per-token xxhash64
    * bits, weighted by token frequency. One pass via [[graft.functions
    * .SimHashAgg]] — a single 64-slot vote buffer per doc in the map-side
    * partial (the 64×`SUM(CASE)` formulation it replaced scanned every
    * token row 64 times). Deterministic. */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashWith(docs, idCol, textCol, xxhash64(_))

  /** [[simHash]] with a caller-supplied per-token hash column builder.
    * The algorithm is hash-family agnostic (sign-sum of bits, one
    * 64-slot vote buffer per doc); the default family is xxhash64. A
    * REPLAYABLE family — e.g. the low 32 bits of md5, which every SQL
    * engine can compute — makes the whole operator verifiable by an
    * independent engine (q73b's DuckDB oracle). A hash narrower than 64
    * bits degrades gracefully: the missing high bits vote strictly
    * negative (sum = -n < 0) and emit 0. */
  def simHashWith(docs: DataFrame, idCol: String, textCol: String,
                  tokenHash: Column => Column): DataFrame = {
    val simhashUdaf = udaf(graft.functions.SimHashAgg)
    Par.widen(docs, col(idCol)).select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("id"), tokenHash(col("w")).cast("long").as("h"))
      .groupBy("id").agg(simhashUdaf(col("h")).as("simhash"))
  }

  /** SimHash near-dup candidate pairs with Hamming distance <= maxDist
    * (maxDist <= 3 for exactness via 4-band pigeonhole). Output (a, b,
    * hamming) with a < b, distinct.
    *
    * `tokenHash`/`bits` select the hash family (default xxhash64/64).
    * The 4 pigeonhole bands span `bits/4` bits each, so a narrower
    * family keeps the pigeonhole guarantee (some band of the effective
    * signature must match exactly when hamming <= 3) instead of
    * degenerating into everyone-matches-on-the-zero-bands. */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3,
                          tokenHash: Column => Column = xxhash64(_),
                          bits: Int = 64): DataFrame =
    hammingPairs(Cut.rows(simHashWith(docs, idCol, textCol, tokenHash)),
      maxDist, bits)

  /** Banded-Hamming near-dup pairs over ANY precomputed 64-bit-or-less
    * signature table (`id`, `simhash`) — the pigeonhole machinery behind
    * [[simHashNearDupPairs]], reusable for other perceptual signatures
    * (image dHash via [[Multimodal.imageNearDupPairs]]). Output
    * (a, b, hamming) with a < b, distinct; exact for maxDist <= 3 by
    * the 4-band pigeonhole (some band must match exactly). */
  def hammingPairs(sigs: DataFrame, maxDist: Int = 3,
                   bits: Int = 64): DataFrame = {
    val banded = hammingBands(sigs, maxDist, bits)
    val a = banded.alias("a")
    val b = banded.alias("b")
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b, col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** [[hammingPairs]] across two signature tables (no id-order
    * restriction): (a from `left`, b from `right`, hamming) — the
    * standing-corpus × new-batch direction of an incremental tier. */
  def hammingPairsAcross(left: DataFrame, right: DataFrame,
                         maxDist: Int = 3, bits: Int = 64): DataFrame = {
    val a = hammingBands(left, maxDist, bits).alias("a")
    val b = hammingBands(right, maxDist, bits).alias("b")
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  private def hammingBands(sigs: DataFrame, maxDist: Int,
                           bits: Int): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole guarantees recall only for <= 3")
    require(bits % 4 == 0 && bits >= 4 && bits <= 64,
      s"bits must be a multiple of 4 in [4,64], got $bits")
    val bandWidth = bits / 4
    val bandMask = if (bandWidth == 16) 0xFFFFL else (1L << bandWidth) - 1L
    sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          col("simhash").bitwiseAND(lit(bandMask << (bandWidth * b)))
            .as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Corpus-level LINE deduplication (the RefinedWeb recipe, Penedo et
    * al. 2023, arXiv:2306.01116 §3.3: boilerplate lines — headers,
    * nav bars, cookie banners — repeat across millions of pages and
    * survive document-level dedup): every line keeps only its FIRST
    * occurrence in the corpus (smallest (doc, position)); later
    * occurrences drop, and documents reassemble from their surviving
    * lines in original order. Documents whose every line occurred
    * earlier disappear (they contained nothing new).
    *
    * Returns (id, n_lines, n_kept, text_dedup). Scale shape: the
    * positional explode feeds a grouped min per distinct line (shuffle
    * by line — the aggregate carries an 8+4-byte struct, not
    * documents) and the join back by line; reassembly is one per-doc
    * aggregation (shuffle by id). Never all-pairs, never a global
    * sort. The first-occurrence table subtree scans the corpus a
    * second time — at 100 TB, persist it like the MinHash signature
    * table if the same corpus dedups repeatedly. */
  def lineDedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    val splitCol = split(col(textCol), java.util.regex.Pattern.quote(sep))
    // n_lines rides the exploded rows so reassembly needs no extra
    // corpus join
    val lines = docs.select(col(idCol).as("id"),
        size(splitCol).cast("long").as("n_lines"),
        posexplode(splitCol))
      .toDF("id", "n_lines", "pos", "line")
    val firstOcc = lines.groupBy("line")
      .agg(min(struct(col("id"), col("pos"))).as("f"))
      .select(col("line"), col("f.id").as("fid"), col("f.pos").as("fpos"))
    lines.join(firstOcc, Seq("line"))
      .filter(col("id") === col("fid") && col("pos") === col("fpos"))
      .groupBy("id")
      .agg(first(col("n_lines")).as("n_lines"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          _.getField("line")), sep).as("text_dedup"))
      .select("id", "n_lines", "n_kept", "text_dedup")
  }

  /** Cross-document repeated n-gram (boilerplate SPAN) removal — the
    * sub-line sibling of [[lineDedupCorpus]]: token n-grams that occur
    * in at least `minDf` DISTINCT documents are boilerplate (injected
    * templates, disclaimers, navigation fragments that do not respect
    * line boundaries), and every position covered by any occurrence of
    * a boilerplate n-gram is excised; documents reassemble from their
    * surviving tokens in original order. Unlike first-occurrence line
    * dedup, ALL occurrences drop — a fragment repeated across `minDf`
    * documents is template noise, not content with a rightful first
    * copy.
    *
    * Returns (id, n_tokens, n_kept, text_clean); untouched documents
    * pass through with text_clean == original text, fully-boilerplate
    * documents survive with n_kept = 0 and empty text. Scale shape:
    * the n-gram explode is a linear (n·tokens) projection; the
    * document-frequency aggregate shuffles by gram with two-phase
    * distinct (the aggregate carries grams, not documents); flagging
    * is one equi-join on gram; the cover anti-join and reassembly
    * shuffle by (id, pos) / id. Never all-pairs, never a global
    * sort. */
  def boilerplateNgramRemoval(docs: DataFrame, idCol: String,
                              textCol: String, n: Int = 5,
                              minDf: Int = 3): DataFrame = {
    // r16 (guide §2.3: shuffle keys, not payloads): in the FUSED
    // induce-then-excise composition the grams are only ever compared
    // for equality, so both passes run on the hashed word slots (the
    // repetitionScore / contaminationScore hashed-gram licensing) —
    // the ~n-word gram STRINGS are never built or shuffled on the
    // corpus side, the df aggregate and the flag join carry hashes
    // instead of gram text. r17: the key is a two-seed 128-bit pair
    // (see [[hashedNgramOccurrences]] for the collision bound). The
    // standing-table path ([[boilerplateNgrams]] + [[exciseNgrams]],
    // the streaming frozen-index route) keeps its persistable string
    // schema unchanged.
    require(minDf >= 2, "minDf < 2 would flag every gram")
    require(n >= 2, "n-gram size must be >= 2")
    val occ = hashedNgramOccurrences(docs, idCol, textCol, n)
    val boiler = occ
      .groupBy("__h", "__h2")
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDf)
      .select("__h", "__h2")
    val cuts = occ
      .join(boiler, Seq("__h", "__h2"))
      .select(col("id"),
        explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .groupBy("id").agg(collect_set(col("pos")).as("cuts"))
    reassembleExcised(docs, idCol, textCol, cuts)
  }

  /** Positional hashed n-gram occurrences (id, gpos, __h, __h2) — the
    * string-free twin of [[ngramOccurrences]] for fused compositions:
    * `__h` is the multi-arg xxhash64 over the n word slots (the
    * hashedWordGrams shape), so no gram string is ever materialized.
    *
    * r17 (VERDICT r16 item 7): grams travel as a 128-bit PAIR — `__h2`
    * is the same xxhash64 re-seeded by a leading constant slot — and
    * every gram-equality site (the df aggregate, the flag join)
    * compares both halves. A single 64-bit key has a birthday bound of
    * ~#grams²·2⁻⁶⁴ false merges (~10⁴ expected wrong df-counts at the
    * 10¹² distinct grams of a 100 TB corpus, each able to flag a rare
    * gram as boilerplate); the pair drops that to ~10²⁴·2⁻¹²⁸ ≈ 10⁻¹⁵ —
    * collision-free at any realistic scale — for 8 extra bytes per
    * occurrence row, still ~4× narrower than the gram strings the r16
    * change removed. */
  private def hashedNgramOccurrences(docs: DataFrame, idCol: String,
                                     textCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val slots = (0 until n).map(j =>
      element_at(col("__ws"), col("gpos") + j + 1))
    Par.widen(docs, col(idCol))
      .select(col(idCol).as("id"), toks.as("__ws"))
      .select(col("id"), col("__ws"),
        explode(when(size(col("__ws")) >= n,
          sequence(lit(0), size(col("__ws")) - n))
          .otherwise(array().cast("array<int>"))).as("gpos"))
      .select(col("id"), col("gpos"),
        xxhash64(slots: _*).as("__h"),
        xxhash64(lit(1L) +: slots: _*).as("__h2"))
  }

  /** Shared excision reassembly: drop the cut positions from each doc's
    * token array and re-join (factored from [[exciseNgrams]]). */
  private def reassembleExcised(docs: DataFrame, idCol: String,
                                textCol: String, cuts: DataFrame): DataFrame = {
    val toks = split(col(textCol), " ")
    Par.widen(docs, col(idCol)).select(col(idCol).as("id"), toks.as("__toks"))
      .join(cuts, Seq("id"), "left")
      .withColumn("__kept",
        when(col("cuts").isNull, col("__toks"))
          .otherwise(filter(col("__toks"),
            (_, i) => !array_contains(col("cuts"), i))))
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("text_clean"))
  }

  /** The boilerplate set alone: token n-grams occurring in at least
    * `minDf` distinct documents. One (gram) column — persist it as the
    * standing table for [[exciseNgrams]] over later batches (the
    * frozen-index discipline the IVF append and MinHash signature
    * tables use). */
  def boilerplateNgrams(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, minDf: Int = 3): DataFrame = {
    require(minDf >= 2, "minDf < 2 would flag every gram")
    ngramOccurrences(docs, idCol, textCol, n)
      .groupBy("gram")
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
  }

  /** Excise every position covered by an occurrence of a gram in the
    * SUPPLIED `boiler` set (one `gram` column). Splitting this from
    * the induction makes the operator admit-a-batch capable: induce
    * once over the standing corpus, then excise any later batch — a
    * frozen boiler set makes removal depend on nothing but the batch
    * and the standing table, so the identical composition runs per
    * micro-batch over a stream
    * ([[graft.streaming.Streams.runBoilerplateExcision]]). */
  def exciseNgrams(docs: DataFrame, idCol: String, textCol: String,
                   boiler: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 2, "n-gram size must be >= 2")
    // Covered positions travel as ONE set per AFFECTED document (the
    // collect_set dedups overlapping spans), so the corpus itself is
    // never exploded into a token-level shuffle: excision is an
    // indexed higher-order filter on the in-row token array after one
    // join against the (affected docs only) cut sets. Position sets
    // are bounded by document length — driver-safe, skew-safe.
    val cuts = ngramOccurrences(docs, idCol, textCol, n)
      .join(boiler.select("gram"), Seq("gram"))
      .select(col("id"),
        explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .groupBy("id").agg(collect_set(col("pos")).as("cuts"))
    reassembleExcised(docs, idCol, textCol, cuts)
  }

  /** Positional n-gram occurrences (id, gpos, gram) — linear n·tokens
    * projection, shared by induction and excision. */
  private def ngramOccurrences(docs: DataFrame, idCol: String,
                               textCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    Par.widen(docs, col(idCol)).select(col(idCol).as("id"),
        posexplode(when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => array_join(slice(toks, i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))))
      .toDF("id", "gpos", "gram")
  }

  /** Directed n-gram CONTAINMENT pairs — the asymmetric complement to
    * Jaccard near-dup: containment(a→b) = |A ∩ B| / |A| finds a doc
    * whose shingle set is (mostly) swallowed by another — quote farms,
    * wrapper pages, partial mirrors — which symmetric Jaccard misses
    * outright (a 100-shingle doc inside a 10,000-shingle doc has
    * J ≈ 0.01 but containment 1.0). MinHash-LSH does NOT apply: its
    * collision probability tracks Jaccard, so the very pairs this
    * operator exists for are the ones banding would drop. The scale
    * path is the inverted-index join: distinct (doc, shingle), shuffle
    * by shingle, pair-count — quadratic only within a shingle's
    * posting list, so `maxShingleDf` caps hot boilerplate shingles
    * (dropping a shingle shared by >cap docs loses only pairs whose
    * overlap is pure boilerplate — at 100 TB set it ~100, the
    * RefinedWeb/CCNet practice). Both directions are emitted from ONE
    * undirected co-count; each containment is ONE division, rounded
    * to 4 places like [[minHashNearDupPairs]]. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold in (0,1], got $threshold")
    val sh0 = ngramOccurrences(docs, idCol, textCol, shingleN)
      .select(col("id"), col("gram")).distinct()
    val sh = (maxShingleDf match {
      case Some(cap) =>
        val hot = sh0.groupBy("gram").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("gram")
        sh0.join(hot, Seq("gram"), "left_anti")
      case None => sh0
    // doc×gram is row-scale and feeds sizes + both self-join sides —
    // uncut, the shingle explode re-plans per consumer (audited: 5
    // static documents scans). cache(): the minHashNearDupPairs-
    // measured multi-consumer choice.
    }).transform(Cut.rows)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val co = sh.select(col("id").as("a"), col("gram"))
      .join(sh.select(col("id").as("b"), col("gram")), Seq("gram"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("co"))
    // both directions from ONE consumer of co — an in-row explode, not
    // a union of two re-plans of the whole self-join + aggregation
    val directed = co.select(explode(array(
        struct(col("a"), col("b"), col("co")),
        struct(col("b").as("a"), col("a").as("b"), col("co"))))
        .as("__p"))
      .select(col("__p.*"))
    directed
      .join(sizes.select(col("id").as("a"), col("n").as("na")), Seq("a"))
      .withColumn("__c", col("co").cast("double") / col("na"))
      .filter(col("__c") >= threshold)
      .select(col("a"), col("b"), col("co").cast("long").as("co"),
        col("na").cast("long").as("n_a"),
        round(col("__c"), 4).as("containment"))
  }

  /** Canonical-document selection — the final step of fuzzy dedup:
    * given near-dup component assignments (`node`, `component`, e.g.
    * from [[Components.connectedComponents]] over an LSH pair set),
    * keep ONE document per component — the best `scoreCol`, ties to the
    * lowest id — and every unassigned document as its own canonical.
    * This is what turns "we found the duplicate clusters" into "this is
    * the corpus we train on", keeping the highest-quality copy instead
    * of an arbitrary one.
    *
    * Output is the surviving docs with a resolved `component` column
    * (singletons get their own id). One broadcast-or-shuffle join on
    * the id plus one per-component window; component assignments are
    * tiny relative to the corpus (only docs that appear in some pair),
    * so the join's build side stays small at any scale. */
  def canonicalByQuality(docs: DataFrame, idCol: String,
                         components: DataFrame,
                         scoreCol: String): DataFrame = {
    val asg = docs.join(
      components.select(col("node").as(idCol), col("component")),
      Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col(scoreCol).desc, col(idCol))
    asg.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Sorted-neighborhood candidate pairs — the classic entity-resolution
    * blocking method, the third candidate-generation family next to
    * MinHash-LSH (set similarity) and SimHash (Hamming): sort the
    * corpus by a normalized blocking key and emit every pair within
    * `window` positions. Near-duplicates with a shared prefix/sort key
    * land adjacent no matter how the rest of the record differs, which
    * catches exactly the class LSH shingling dilutes (short keys,
    * heavy shared boilerplate, id-like fields). Confirm emitted pairs
    * with an exact measure downstream (edit distance, Jaccard — the
    * usual tier discipline).
    *
    * Scale shape: NO global window. The global rank is the
    * [[Packing]]-style two-shuffle prefix scheme — range-partition by
    * (key, id), per-partition row_number, partition bases broadcast —
    * deterministic (total order) and partition-count independent
    * (suite-asserted). The windowed self-join is a banded equi-join:
    * side A duplicates into its own and the NEXT rank bucket, so each
    * in-window pair meets exactly once on the bucket key; never
    * all-pairs. Output: (a, b, gap) with rank(a) < rank(b). */
  def sortedNeighborPairs(docs: DataFrame, idCol: String, key: Column,
                          window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col(idCol).as("id"), key.as("k"))
    // global rank via Ranks.globalRowNumber — the ONE checkpoint-frozen
    // implementation of the two-shuffle scheme (the r10 pid-desync fix
    // lives there; keeping a second inline copy in sync was the bug
    // waiting to happen)
    val ranked = Ranks.globalRowNumber(t, Seq(col("k"), col("id")), "r")
      .select(col("id"), col("k"), col("r"))
      .withColumn("__b", expr(s"(r - 1) DIV ${window}L"))
    val left = ranked.select(col("id").as("a"), col("k").as("key_a"),
        col("r").as("ra"), col("__b").as("band"))
      .unionByName(ranked.select(col("id").as("a"), col("k").as("key_a"),
        col("r").as("ra"), (col("__b") + 1).as("band")))
    val right = ranked.select(col("id").as("b"), col("k").as("key_b"),
      col("r").as("rb"), col("__b").as("band"))
    left.join(right, Seq("band"))
      .filter(col("rb") > col("ra") && col("rb") <= col("ra") + window)
      .select(col("a"), col("b"), (col("rb") - col("ra")).as("gap"),
        col("key_a"), col("key_b"))
  }
}
