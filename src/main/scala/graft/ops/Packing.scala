package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: concatenate documents in a
  * deterministic order and cut the token stream into fixed-`budget`
  * context windows ("packs"). Every doc gets its global token offset,
  * the pack its first token lands in, the pack its last token lands in,
  * and the number of boundary cuts through it — the bookkeeping a data
  * loader needs to materialize packed training examples, produced
  * entirely inside the engine.
  *
  * The global offset is a prefix sum, which Spark's window-without-
  * PARTITION-BY would serialize onto one task. Instead: range-partition
  * by the order key, run the cumulative sum per partition, then shift
  * each partition by the total of its predecessors (a partitions-sized
  * table, broadcast). Two shuffles total (range exchange + the tiny
  * totals agg), fully parallel — and the result is independent of the
  * partition boundaries, so any partition count gives identical packs.
  */
object Packing {

  def contextPack(docs: DataFrame, orderCol: String, tokenCol: String,
                  budget: Long, partitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    val nParts =
      if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    // The summary cut freezes the pids: the running-sum branch and the
    // per-pid totals branch below must see the SAME range boundaries —
    // without materialization each branch re-plans its own exchange and
    // a pruning asymmetry desynchronizes them (the Ranks.globalRowNumber
    // failure mode, measured r10). Here both branches read identical
    // columns so the exchanges currently dedup via ReuseExchange, but
    // that is an optimizer accident, not a guarantee. Fault-tolerance
    // trade-off: unreplicated executor blocks — an executor loss fails
    // the query instead of recomputing (see Ranks.globalRowNumber's
    // note for the full argument and the reliable-checkpoint option).
    val parted = docs.repartitionByRange(nParts, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .transform(Cut.summary)
    val w = Window.partitionBy("__pid").orderBy(orderCol)
    val local = parted.withColumn("__run",
      sum(col(tokenCol).cast("long")).over(w)) // inclusive running sum
    // predecessor totals: one row per partition — window over ≤ nParts rows
    val wb = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val bases = local.groupBy("__pid").agg(max("__run").as("__tot"))
      .withColumn("__base", coalesce(sum("__tot").over(wb), lit(0L)))
      .select("__pid", "__base")
    local.join(broadcast(bases), Seq("__pid"))
      .withColumn("token_offset", col("__base") + col("__run") - col(tokenCol))
      .withColumn("pack_first", expr(s"token_offset DIV ${budget}L"))
      .withColumn("pack_last", greatest(col("pack_first"),
        expr(s"(token_offset + ${tokenCol} - 1) DIV ${budget}L")))
      .withColumn("n_cuts", (col("pack_last") - col("pack_first")).cast("bigint"))
      .drop("__pid", "__run", "__base")
  }
}
