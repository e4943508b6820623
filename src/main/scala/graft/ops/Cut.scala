package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization primitive. Catalyst does not dedupe common
  * subplans: a frame that k consumers read re-runs its whole upstream k
  * times unless it is cut, and at 100 TB the upstream is the dominant
  * cost. Every cut in `src/main` goes through this object
  * (PlanLintSuite's source rule), in one of two kinds:
  *
  *  - [[summary]] — keyspace-bounded tables (cell, bucket, day and
  *    singles tables, the per-round state of an iterative op) and frames
  *    whose partition boundaries must be frozen (`Ranks`, `Packing`): an
  *    eager local checkpoint. It costs one job where it is built and
  *    computes the frame exactly once, before any consumer is planned. A
  *    lazy checkpoint guaranteed nothing: AQE ran several consumer stages
  *    over the same unmaterialized RDD (q300's cell table three times),
  *    and the first to finish cut the lineage under the others' SQL
  *    metrics. The lineage is gone, so `ScanAudit` sees a `LogicalRDD`
  *    leaf in both of its modes.
  *  - [[rows]] — row-scale frames with several consumers (distinct
  *    interaction, shingle and signature tables): `cache()`, a columnar
  *    in-memory relation that spills under pressure instead of
  *    recomputing (~1.6× faster than checkpoint blocks on the MinHash
  *    signature table). `ScanAudit` sees through it only with
  *    `throughCache`.
  *
  * Lifetime: an op that materializes internally (an action, or a later
  * summary cut that folds the frame in) frees its cuts with [[release]]
  * before it returns, in a `finally` where a `require` can throw past
  * it. An op that returns a lazy frame still reading a cut cannot free
  * it; Spark's ContextCleaner does when the frame is garbage-collected.
  */
object Cut {

  /** Eager local checkpoint: one job now, never recomputed. */
  def summary(df: DataFrame): DataFrame = df.localCheckpoint()

  /** `cache()`, unless `df` is already cached: then `df` itself, so a
    * second op over the same frame neither re-registers it nor logs
    * CacheManager's "Asked to cache already cached data". */
  def rows(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df else df.cache()

  /** Frees a frame returned by [[summary]] or [[rows]]. A checkpoint's
    * blocks belong to its `LogicalRDD`'s RDD, which `Dataset.unpersist`
    * never touches (it only knows the CacheManager's entries). Spark logs
    * one WARN per released checkpoint ("cannot be recomputed after
    * unpersisting"): expected, a release follows the last consumer. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
