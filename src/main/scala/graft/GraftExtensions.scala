package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CosineSimilarity, JaroWinkler, PqAdc, PqEncode,
  Shingles, Winnow}

/** Spark-idiomatic injection point for the engine's custom expressions:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`). This is
  * the deployment-grade path — the functions exist in every session of the
  * cluster, survive session cloning, and are visible to pure-SQL users —
  * whereas [[graft.functions.Registry]] registers per-session for tests and
  * ad-hoc use. The geomean UDAF stays in Registry (Aggregator-based UDAFs
  * register through `spark.udf`, which has no extensions hook).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Shingles(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "winnow"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Winnow(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PqAdc(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PqEncode.fromLiteral(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        JaroWinkler(exprs(0), exprs(1))))
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
