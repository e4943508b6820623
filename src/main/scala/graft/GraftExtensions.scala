package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark-idiomatic injection point for the engine's custom expressions:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`). This is
  * the deployment-grade path — the functions exist in every session of the
  * cluster, survive session cloning, and are visible to pure-SQL users —
  * whereas [[graft.functions.Registry.registerAll]] adds the same table
  * per-session for tests and ad-hoc use. The geomean UDAF stays in
  * Registry (Aggregator-based UDAFs register through `spark.udf`, which
  * has no extensions hook).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Registry.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name), builder))
    }
    // OPT-IN cosine-threshold-join → SRP-LSH banded equi-join rewrite
    // (graft.plans.SrpJoinRewrite; inert until
    // spark.graft.srpJoinRewrite.enabled=true — the rule checks the
    // session conf per plan, so injection itself changes nothing)
    ext.injectOptimizerRule(_ => new graft.plans.SrpJoinRewrite)
    // small global ORDER BY results sort on one partition: no range
    // exchange, no sampling job (graft.plans.SmallSortOnePartition; an AQE
    // runtime rule, so it only sees plans AQE re-optimizes)
    ext.injectRuntimeOptimizerRule(_ => new graft.plans.SmallSortOnePartition)
  }
}
