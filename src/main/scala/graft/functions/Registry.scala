package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.{functions => F}

/** The engine's custom SQL functions: one `(name, builder)` table that
  * [[graft.GraftExtensions]] injects into every session it builds and
  * [[Registry.registerAll]] adds to any other session (idempotent). */
object Registry {
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    "cosine_similarity" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "jaro_winkler" -> (exprs => JaroWinkler(exprs(0), exprs(1))),
    "shingles" -> (exprs => Shingles(exprs(0), exprs(1))),
    "winnow" -> (exprs => Winnow(exprs(0), exprs(1), exprs(2))),
    // Spark's runtime-filter bloom expressions, surfaced as SQL functions
    // (they are not in the public registry, but they ARE the engine-native
    // bloom implementation — codegen'd probe, sketch-library build).
    "bloom_agg" -> {
      case Seq(c)       => new org.apache.spark.sql.catalyst.expressions
        .aggregate.BloomFilterAggregate(c)
      case Seq(c, n)    => new org.apache.spark.sql.catalyst.expressions
        .aggregate.BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new org.apache.spark.sql.catalyst.expressions
        .aggregate.BloomFilterAggregate(c, n, b)
      case other => throw new IllegalArgumentException(
        s"bloom_agg takes 1-3 args, got ${other.size}")
    },
    "bloom_might_contain" -> (exprs => new org.apache.spark.sql.catalyst
      .expressions.BloomFilterMightContain(exprs(0), exprs(1))),
    "normalize_ts" -> (exprs => NormalizeTs(exprs(0))),
    "pq_adc" -> (exprs => PqAdc(exprs(0), exprs(1))),
    "pq_encode" -> (exprs => PqEncode.fromLiteral(exprs(0), exprs(1))),
    "bpe_segment" -> (exprs => BpeSegment.fromLiteral(exprs(0), exprs(1))),
    // SRP join-rewrite kernels, surfaced for SQL use too:
    // srp_bands(vec, nBits, bandBits, seed) / first_equal_band(a, b)
    "srp_bands" -> {
      case Seq(v, n, b, s) => SrpBands(v,
        n.eval().asInstanceOf[Number].intValue,
        b.eval().asInstanceOf[Number].intValue,
        s.eval().asInstanceOf[Number].longValue)
      case other => throw new IllegalArgumentException(
        s"srp_bands takes (vec, nBits, bandBits, seed), got ${other.size} args")
    },
    "first_equal_band" -> (exprs => FirstEqualBand(exprs(0), exprs(1))))

  /** Adds each function the session lacks and leaves the rest alone, so a
    * repeat call costs a lookup per name and logs no "replaced a previously
    * registered function" warning ([[graft.EtlSession]] sessions already
    * carry every [[functions]] entry). `geomean` rides on top: an
    * Aggregator UDAF registers through `spark.udf`, which has no
    * extensions hook. */
  def registerAll(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    def absent(name: String) = !fr.functionExists(FunctionIdentifier(name))
    functions.foreach { case (name, builder) =>
      if (absent(name)) fr.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    if (absent("geomean")) spark.udf.register("geomean", F.udaf(GeoMean))
  }

  /** [[CosineSimilarity]] as a typed Column — for Scala call sites that
    * build one term per literal centroid and don't want an `expr(...)`
    * SQL round-trip per term. Resolves through the session function
    * registry, so [[registerAll]] must have run on the session. */
  def cosineSim(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    F.call_function("cosine_similarity", a, b)
}
