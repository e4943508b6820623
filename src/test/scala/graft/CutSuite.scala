package graft

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.ops.{Components, Merge}

/** The materialization contract of the engine's cuts: a summary cut (a
  * local checkpoint) is computed by exactly one stage, and an op that
  * frees its cuts leaves no stored blocks but its result's. */
class CutSuite extends SparkTestBase {
  import spark.implicits._

  /** Each local-checkpoint RDD in `stages` (the checkpointed RDD, not its
    * `LocalCheckpointRDD` parent) with the stages that computed it: a
    * stage computes it when its lineage in that stage still runs through
    * the upstream plan rather than the checkpoint's blocks. */
  private def cutComputations(stages: Seq[StageInfo]): Map[Int, Seq[Int]] = {
    val isCheckpointRdd = (n: String) => n == "LocalCheckpointRDD"
    val cuts = stages.flatMap(_.rddInfos)
      .filter(r => r.callSite.startsWith("localCheckpoint at") &&
        !isCheckpointRdd(r.name))
      .map(_.id).distinct
    cuts.map { id =>
      id -> stages.filter { s =>
        val byId = s.rddInfos.map(r => r.id -> r).toMap
        byId.get(id).exists(_.parentIds.exists(p =>
          byId.get(p).exists(r => !isCheckpointRdd(r.name))))
      }.map(_.stageId)
    }.toMap
  }

  test("every summary cut is computed by one stage: q300, an upsert") {
    val q300 = SparkEntry.corpus.find(_.name == "q300_jonckheere").get
    val jt = cutComputations(stagesSubmittedBy(q300.fn(spark, sf0001).collect()))
    // the cell table and groupedPrefixSums' input and bucket cuts
    assert(jt.size >= 3, s"q300 cuts: $jt")
    assert(jt.values.forall(_.size == 1), s"q300 cut -> computing stages: $jt")

    val target = (1 to 200).map(k => (k, 0L, s"v$k")).toDF("k", "ver", "val")
    val updates = (1 to 400).map(i => (i % 250 + 1, i.toLong, s"u$i"))
      .toDF("k", "ver", "val")
    val up = cutComputations(stagesSubmittedBy(
      Merge.upsert(target, updates, "k", "ver").collect()))
    assert(up.size == 1, s"upsert cuts: $up")
    assert(up.values.forall(_.size == 1), s"upsert cut -> computing stages: $up")
  }

  private def storedRdds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def checkpointRdds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("kCore and pageRankExact free every cut but their result's") {
    // a triangle with a 3-hop tail: k = 2 peels the tail one node a round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "kCore" -> (() => Components.kCore(edges, "a", "b", 2)),
      "pageRankExact" -> (() => Components.pageRankExact(edges, "a", "b")))
    for ((name, op) <- ops) {
      val before = storedRdds
      val result = op()
      assert(result.collect().nonEmpty)
      val kept = checkpointRdds(result)
      assert(kept.size == 1, s"$name reads one cut: $kept")
      assert(storedRdds -- before == kept, s"$name left stored blocks")
    }
  }
}
