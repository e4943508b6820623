package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch merge patterns — the load-side staples of an ETL engine
  * (SURVEY.md §3: the reference's pipelines land batches into standing
  * tables; these are the two canonical landing semantics).
  *
  * Formats like Delta/Iceberg implement MERGE INTO natively; on plain
  * parquet the same semantics are two joins. Both operators here are
  * pure DataFrame transforms — the caller owns the rewrite of the
  * target table (overwrite or partition swap), keeping the operators
  * engine-agnostic and oracle-testable.
  */
object Merge {

  /** Upsert: rows from `updates` replace target rows with the same key;
    * unmatched update rows are inserts. Within one batch, multiple
    * updates to a key resolve to the one with the highest `versionCol`
    * (ties: the operator requires a total order — use a unique version).
    * Shuffles both sides once on the key (or broadcasts the small one —
    * left to AQE). */
  def upsert(target: DataFrame, updates: DataFrame, keyCol: String,
             versionCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(versionCol).desc)
    // latest feeds the anti-join's key set and the union. The batch is
    // the SMALL side of an upsert, so its summary cut costs one job over
    // the batch; the 100 TB target stays a single un-shuffled scan (AQE
    // broadcasts the key set into the anti-join).
    val latest = updates
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .transform(Cut.summary)
    target.join(latest.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(latest)
  }

  /** CDC apply — materialize the current snapshot from a change feed
    * carrying inserts, updates AND deletes (the Debezium/Delta
    * APPLY CHANGES shape, which `upsert` lacks): per key, the row with
    * the highest (seqCols…) sequence wins — compared lexicographically,
    * and the caller must make the last seq column a unique tiebreak or
    * "latest" is not well-defined — and wins-by-delete means the key is
    * ABSENT from the output. One shuffle on the key, one ranking
    * window; the op column is consumed, not emitted. */
  def applyChanges(changes: DataFrame, keyCol: String, seqCols: Seq[String],
                   opCol: String, deleteOp: String = "D"): DataFrame =
    // null-safe: a malformed CDC row with a NULL op that wins the
    // sequence race must SURFACE in the snapshot, not vanish silently
    // (=!= evaluates to NULL on NULL and the filter drops it).
    applyChangesWithTombstones(changes, keyCol, seqCols)
      .filter(!col(opCol).eqNullSafe(deleteOp))
      .drop(opCol)

  /** [[applyChanges]] keeping the winning DELETE rows as tombstones (op
    * column retained) — the form a STANDING CDC table must persist:
    * without the tombstone, a late out-of-order update with a lower
    * sequence would resurrect a deleted key on the next merge. The
    * serving snapshot is `filter(op != deleteOp).drop(op)`; merging two
    * tombstoned tables (or a table with a new change batch) through
    * this same function is associative, which is what makes the
    * streaming batch-by-batch apply equal the one-shot apply. */
  def applyChangesWithTombstones(changes: DataFrame, keyCol: String,
                                 seqCols: Seq[String]): DataFrame = {
    require(seqCols.nonEmpty, "applyChanges: need at least one seq column")
    val w = Window.partitionBy(keyCol)
      .orderBy(seqCols.map(c => col(c).desc): _*)
    changes.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Snapshot diff — change-data-capture between two versions of a
    * keyed table: one row per key that was inserted, deleted, or changed
    * (null-safe struct comparison over `compareCols`), tagged in
    * `change_type`. One full-outer join on the key; unchanged keys are
    * filtered before the tag projection so the output is only the delta
    * — the thing a downstream incremental pipeline consumes. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs compare columns")
    // presence flags are sentinel columns, so keys survive even when all
    // their attribute values are null
    val withFlags = oldDf.select(col(keyCol) +:
        compareCols.map(c => col(c).as(s"__o_$c")): _*)
      .withColumn("__op", lit(1))
      .join(newDf.select(col(keyCol) +:
          compareCols.map(c => col(c).as(s"__n_$c")): _*)
        .withColumn("__np", lit(1)), Seq(keyCol), "full_outer")
    val changed = struct(compareCols.map(c => col(s"__o_$c")): _*) =!=
      struct(compareCols.map(c => col(s"__n_$c")): _*)
    withFlags
      .withColumn("change_type",
        when(col("__op").isNull, lit("insert"))
          .when(col("__np").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(col(keyCol) +: col("change_type") +:
        compareCols.flatMap(c =>
          Seq(col(s"__o_$c").as(s"old_$c"), col(s"__n_$c").as(s"new_$c"))): _*)
  }

  /** SCD Type-2 apply: maintain a dimension history with
    * (valid_from, valid_to) validity intervals, `valid_to` NULL = open.
    *
    * For each update (latest per key within the batch, by `tsCol`):
    * if the key's open row differs on any of `attrCols`, the open row is
    * closed at the update ts and a new open row starts there; identical
    * attributes are a no-op (idempotent re-loads); unknown keys insert a
    * new open row. History rows (valid_to set) pass through untouched.
    *
    * One shuffle on the key; attribute comparison is a null-safe struct
    * equality, so NULL attribute values compare stably.
    *
    * Scale shape: the full-outer join is consumed ONCE — each joined row
    * explodes into its 1–2 output rows (kept, closed+opened, or opened)
    * in a single generator projection. The earlier three-filtered-reads
    * formulation re-planned the join per branch (Catalyst does not
    * dedupe common subplans), so the dimension scan and the join
    * shuffle each ran three times. `current` is read twice (history /
    * open) with complementary `valid_to` pushdown filters — a reviewed
    * multi-scan, since history must bypass the join entirely. */
  def scd2Apply(current: DataFrame, updates: DataFrame, keyCol: String,
                tsCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "scd2Apply needs at least one tracked attribute")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).desc)
    val latest = updates
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .select(col(keyCol) +: col(tsCol).as("__uts") +:
        attrCols.map(a => col(a).as(s"__u_$a")): _*)
    val history = current.filter(col("valid_to").isNotNull)
    val open = current.filter(col("valid_to").isNull)
    val joined = open.join(latest, Seq(keyCol), "full_outer")
    val changed = struct(attrCols.map(col): _*) =!=
      struct(attrCols.map(a => col(s"__u_$a")): _*)
    val hasOpen = col("valid_from").isNotNull
    val hasUpd = col("__uts").isNotNull
    // one struct per output-row shape, every field cast to the open
    // row's type so the three array branches resolve to one struct type
    // (and the output schema is exactly the current table's schema)
    def rowAs(f: String => Column): Column =
      struct(open.columns.map(c =>
        f(c).cast(open.schema(c).dataType).as(c)): _*)
    val keptRow = rowAs(col)
    val closedRow = rowAs {
      case "valid_to" => col("__uts")
      case c          => col(c)
    }
    val openedRow = rowAs {
      case "valid_from" => col("__uts")
      case "valid_to"   => lit(null)
      case c if attrCols.contains(c) => col(s"__u_$c")
      case c            => col(c)
    }
    val emitted = joined.select(explode(
      when(hasOpen && (!hasUpd || !changed), array(keptRow))
        .when(hasOpen && hasUpd && changed, array(closedRow, openedRow))
        .otherwise(array(openedRow))).as("__r"))
      .select(col("__r.*"))
    history.unionByName(emitted)
  }
}
