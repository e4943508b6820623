package graft.tools

import org.apache.spark.sql.functions._

import graft.EtlSession
import graft.ops.Dedup
import graft.tools.BenchKit.{h, time}

/** Dedup benchmark at a volume that exercises the LSH banding: the
  * sf0.1 documents fixture is 5,000 rows, so q78/q79's bench figures
  * are setup-dominated. This tool synthesizes a DETERMINISTIC corpus
  * (`DEDUP_DOCS` docs, default 100k; ~80 tokens each over a 30k-word
  * hashed vocabulary) with PLANTED duplicates — 5% exact copies and
  * 10% near-duplicates (one token in ~40 rewritten — each rewrite
  * kills up to 3 trigram shingles, so 2 rewrites on 78 shingles give
  * Jaccard ≈ 72/84 ≈ 0.86, above the 0.8 threshold) — then times the exact tier and
  * the full native MinHash-LSH near-dup tier and reports measured
  * RECALL against the planted pair set plus the candidate-volume
  * ratio (emitted pairs vs the quadratic worst case). Prints ONE JSON
  * line; numbers recorded in BASELINE.md §v9.
  *
  * What the numbers certify at 100 TB: signature cost is one grouped
  * aggregation (corpus-linear), the banded join's candidate volume
  * tracks true-duplicate density (never n²), and recall at the
  * operating point matches the (1−s^r)^b analysis.
  */
object DedupBench {

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("DEDUP_DOCS", "100000").toInt
    val tokensPerDoc = 80
    val vocab = 30000L
    val spark = EtlSession.create("local[32]", 32, "graft-dedup-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nBase = (nDocs * 0.85).toInt
    val nExact = (nDocs * 0.05).toInt
    val nNear = nDocs - nBase - nExact
    def baseTokens(docId: Long): Array[Long] =
      Array.tabulate(tokensPerDoc)(t =>
        java.lang.Math.floorMod(h(docId, t.toLong), vocab))
    // ids: [0, nBase) originals; [nBase, nBase+nExact) exact copies of
    // doc (id − nBase); [nBase+nExact, nDocs) near-dups of
    // doc (id − nBase − nExact) with every 20th token rewritten
    val docs = spark.range(nDocs.toLong).map { id =>
      val toks =
        if (id < nBase) baseTokens(id)
        else if (id < nBase + nExact) baseTokens(id - nBase)
        else {
          val src = id - nBase - nExact
          val t = baseTokens(src)
          var i = 7
          while (i < t.length) { t(i) = vocab + h(id, i.toLong) % 1000; i += 40 }
          t
        }
      (id, toks.mkString("w", " w", ""))
    }.toDF("doc_id", "text").repartition(32).cache()
    docs.count()

    val (nExactRemoved, exactSec) = time {
      val kept = Dedup.exactDedup(docs, Seq("text"))
      nDocs - kept.count()
    }
    val plantedNear = (0 until nNear).map(i =>
      (i.toLong, (nBase + nExact + i).toLong)).toSet
    val ((found, recall), nearSec) = time {
      val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8)
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = plantedNear.count { case (a, b) =>
        pairs.contains((a, b)) || pairs.contains((b, a)) }
      (pairs.size, hit.toDouble / plantedNear.size)
    }

    println(
      s"""{"bench":"dedup","docs":$nDocs,"planted_exact":$nExact,""" +
      s""""planted_near":$nNear,"exact_sec":${f"$exactSec%.2f"},""" +
      s""""exact_removed":$nExactRemoved,""" +
      s""""near_sec":${f"$nearSec%.2f"},"near_pairs":$found,""" +
      s""""near_recall":${f"$recall%.4f"}}""")
    spark.stop()
  }
}
