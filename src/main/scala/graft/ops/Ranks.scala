package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global total-order ranking WITHOUT a single-task window — the
  * two-shuffle prefix scheme ([[Dedup.sortedNeighborPairs]] /
  * [[Packing]] pattern, extracted): range-partition by the sort key,
  * row_number within each partition, then add per-partition base
  * offsets computed from the partition-count-bounded count table
  * (broadcast back — the only "global" window runs over ≤
  * numShufflePartitions rows). Partition-count independent and
  * deterministic provided `order` is a TOTAL order (pass an id
  * tiebreak). This is the drop-in for `row_number().over(
  * Window.orderBy(...))`, which funnels every row through ONE task —
  * the plan shape PlanLintSuite rejects corpus-wide.
  */
object Ranks {

  /** Append `out` = the 1-based global rank of each row under `order`. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
                      out: String = "r"): DataFrame = {
    require(order.nonEmpty, "globalRowNumber needs sort columns")
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    // The cut is LOAD-BEARING: the row_number branch and the
    // per-pid count branch below both consume this frame, and without
    // materialization each branch re-plans its own copy of the range
    // exchange — column pruning can make the two copies non-identical
    // (ReuseExchange then does not fire), each samples its OWN
    // RangePartitioner boundaries, and the pid→base mapping silently
    // desynchronizes from the pid→row_number mapping (measured r10:
    // liftTable emitted an 11th decile from ranks > n). Freezing the
    // partitioned frame makes the pids a fact, not a per-branch plan
    // artifact. Cost: one materialization of the projected input —
    // the same volume the range shuffle writes anyway.
    // Fault-tolerance trade-off (deliberate): a local checkpoint stores
    // UNREPLICATED, non-recomputable executor blocks and runs a job
    // at construction time — on a multi-executor cluster an executor
    // loss FAILS the query (retry the job) instead of recomputing,
    // and explain/audit-only paths pay the materialization. The
    // alternatives are worse at their respective ends: a reliable
    // checkpoint survives executor loss but writes the frame to the
    // cluster FS (ship a `reliable=true` flag if a deployment needs
    // it); RDD zipWithIndex assigns ranks by partition order but
    // forces a second pass anyway and abandons Catalyst column
    // pruning below the cut. Correctness beats availability here:
    // the un-frozen plan silently corrupts ranks (see above), a lost
    // executor merely re-runs the query.
    val parted = df.repartitionByRange(nParts, order: _*)
      .withColumn("__gr_pid", spark_partition_id())
      .transform(Cut.summary)
    val local = parted.withColumn("__gr_rn",
      row_number().over(
        Window.partitionBy("__gr_pid").orderBy(order: _*)).cast("long"))
    val wb = Window.orderBy("__gr_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = local.groupBy("__gr_pid")
      .agg(count(lit(1)).as("__gr_cnt"))
      .withColumn("__gr_base", coalesce(sum("__gr_cnt").over(wb), lit(0L)))
      .select("__gr_pid", "__gr_base")
    local.join(broadcast(bases), Seq("__gr_pid"))
      .withColumn(out, col("__gr_base") + col("__gr_rn"))
      .drop("__gr_pid", "__gr_rn")
  }

  /** SQL-standard NTILE(buckets) derived from a 1-based rank `r` out of
    * `n` rows: the first n%buckets tiles hold ⌈n/buckets⌉ rows, the
    * rest ⌊n/buckets⌋ — bit-identical to Spark's and DuckDB's NTILE
    * under the same total order, so an NTILE oracle replays a
    * [[globalRowNumber]]-built tile unchanged. */
  def ntileOfRank(r: Column, n: Column, buckets: Int): Column = {
    def idiv(a: Column, b: Column) = call_function("div", a, b) // long DIV
    val q = idiv(n, lit(buckets.toLong)) // floor tile size
    val rem = n % buckets
    when(r <= (q + 1) * rem, idiv(r - 1, q + 1) + 1)
      .otherwise(rem + idiv(r - rem * (q + 1) - 1, greatest(q, lit(1L))) + 1)
  }
}
