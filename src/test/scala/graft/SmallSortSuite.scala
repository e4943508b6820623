package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference,
  CreateArray, Explode, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Limit, LogicalPlan,
  Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

import graft.plans.SmallSortOnePartition

/** [[graft.plans.SmallSortOnePartition]], the AQE runtime rule that sorts
  * a small ORDER BY result on one partition, and the registered `events`
  * view behind [[Tables.events]]. The rule tests run on a session built
  * with [[GraftExtensions]], as `EtlSession.create` builds it; the shared
  * test session injects no extensions and is the plain baseline. */
class SmallSortSuite extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val ext: SparkSession = {
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  private def grouped(s: SparkSession): DataFrame =
    s.range(0, 2000).select((col("id") % 37).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))

  /** The final adaptive plan of an executed query, stages included. */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }

  private def exchanges(df: DataFrame) =
    collect(finalPlan(df)) { case e: ShuffleExchangeLike => e.outputPartitioning }

  private def rangeSorted(df: DataFrame): Boolean =
    exchanges(df).exists(_.isInstanceOf[RangePartitioning])

  test("a small ORDER BY over an aggregate sorts on one partition: no range " +
      "exchange, one job fewer, same rows in the same order") {
    val sorted = grouped(ext).orderBy(col("s").desc, col("k"))
    val plain = grouped(spark).orderBy(col("s").desc, col("k"))
    var got, want = Array.empty[org.apache.spark.sql.Row]
    val extJobs = jobsStartedBy { got = sorted.collect() }
    val plainJobs = jobsStartedBy { want = plain.collect() }
    assert(got.toSeq == want.toSeq)
    assert(got.length == 37)
    assert(!rangeSorted(sorted), finalPlan(sorted).treeString)
    assert(exchanges(sorted).contains(SinglePartition))
    assert(rangeSorted(plain), "the plain session keeps Spark's range sort")
    assert(extJobs == plainJobs - 1, s"jobs: $extJobs with the rule, $plainJobs without")
  }

  test("a negative broadcast threshold turns the rule off") {
    val key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ext.conf.set(key, "-1")
    try {
      val sorted = grouped(ext).orderBy("k")
      sorted.collect()
      assert(rangeSorted(sorted), finalPlan(sorted).treeString)
    } finally ext.conf.unset(key)
  }

  test("ORDER BY … LIMIT still plans as TakeOrderedAndProject") {
    val top = grouped(ext).orderBy(col("s").desc).limit(5)
    assert(top.collect().length == 5)
    val plan = finalPlan(top)
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      plan.treeString)
    assert(!exchanges(top).contains(SinglePartition), plan.treeString)
  }

  test("an explode above the last stage keeps the range sort") {
    val exploded = grouped(ext)
      .select(col("k"), explode(sequence(lit(1), col("n"))).as("i"))
      .orderBy("k", "i")
    assert(exploded.count() == 2000)
    exploded.collect()
    assert(rangeSorted(exploded), finalPlan(exploded).treeString)
  }

  test("a user range layout keeps its partitions") {
    val local = grouped(ext).repartitionByRange(3, col("k")).sortWithinPartitions("k")
    assert(local.rdd.getNumPartitions == 3)
    val global = grouped(ext).repartitionByRange(3, col("k")).orderBy("k")
    assert(global.rdd.getNumPartitions == 3)
    global.collect()
    assert(!exchanges(global).contains(SinglePartition), finalPlan(global).treeString)
  }

  /** AQE also rejects a re-plan that adds a shuffle, which would hide a
    * missing guard in the end-to-end tests above: here the rule runs by
    * itself on plans built over materialized stages. */
  test("the rule by itself: fires once, and not under a limit, over a " +
      "generate, over a user repartition, over a stage in order or past a " +
      "negative threshold") {
    val agg = grouped(spark)
    agg.collect()
    val stage = LogicalQueryStage(agg.queryExecution.optimizedPlan, finalPlan(agg))
    assert(stage.isMaterialized)
    val ordered = grouped(ext).orderBy("k")
    ordered.collect()
    val single = LogicalQueryStage(
      Repartition(1, shuffle = true, ordered.queryExecution.optimizedPlan.children.head),
      collectFirst(finalPlan(ordered)) {
        case s: ShuffleQueryStageExec if s.outputPartitioning == SinglePartition => s
      }.get)
    def sorted(p: LogicalPlan) =
      Sort(Seq(SortOrder(p.output.head, Ascending)), global = true, p)
    def run(p: LogicalPlan, threshold: String = "10MB") = {
      val c = new SQLConf
      c.setConfString("spark.sql.autoBroadcastJoinThreshold", threshold)
      SQLConf.withExistingConf(c)(new SmallSortOnePartition().apply(p))
    }
    val once = run(sorted(stage))
    assert(once == sorted(stage).copy(child = Repartition(1, shuffle = true, stage)))
    assert(run(once) == once)
    val kept = Seq(
      Limit(Literal(5), sorted(stage)),
      sorted(Generate(Explode(CreateArray(Seq(stage.output.head))), Nil,
        outer = false, None, Seq(AttributeReference("x", LongType)()), stage)),
      sorted(Repartition(3, shuffle = true, stage)),
      sorted(single))
    kept.foreach(p => assert(run(p) == p, p.treeString))
    assert(run(sorted(stage), "-1") == sorted(stage))
  }

  test("Tables.events after register starts no Spark job") {
    Tables.register(spark, sf0001)
    Tables.events(spark, sf0001).schema // the first call may still resolve
    val jobs = jobsStartedBy {
      assert(Tables.events(spark, sf0001).columns.toSeq ==
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    }
    assert(jobs == 0, s"a registered events read started $jobs jobs")
  }
}
