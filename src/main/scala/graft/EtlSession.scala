package graft

import org.apache.spark.sql.SparkSession

/** Session factory (SURVEY.md §7.1): one place that pins every
  * determinism- and scale-relevant config the engine depends on:
  *
  *  - UTC session timezone (cross-engine timestamp agreement, §1.2)
  *  - `nanosAsLong` legacy flag (the events fixture is ns-precision
  *    parquet that Spark 4 otherwise refuses to read)
  *  - AQE on (runtime join re-selection, partition coalescing, skew split)
  *  - artifact isolation off ([[SharedCodegenPin]]), so every run of a
  *    streaming feed reuses the generated classes earlier runs compiled
  *  - custom expressions injected via [[GraftExtensions]] so pure-SQL
  *    users see `cosine_similarity`/`shingles`/`winnow`; the `geomean`
  *    UDAF is registered on top (no extensions hook for Aggregators)
  *
  * `shufflePartitions` should be ≈ cores locally; on a real cluster leave
  * it high and let AQE coalesce (DESIGN.md "Config posture").
  */
object EtlSession {

  /** `spark.sql.artifact.isolation.enabled=false`. Spark's codegen cache
    * keys each class on (thread context classloader, source). With
    * isolation on (the default), every session UUID gets its own
    * executor classloader, and `StreamExecution` runs each query on a
    * `cloneSession()` with a fresh UUID: so every streaming run missed the
    * cache on its task threads, recompiled byte-identical source, and
    * started the fresh classes over in the JIT's interpreter. With it off,
    * all sessions share the application classloader and one cache entry.
    *
    * Safe because the engine adds no session artifacts (no `addArtifact`
    * or `addJar`): isolation only ever gave each run an empty classloader
    * of its own, which the executor also kept alive after the run ended.
    * Revisit when the engine serves Spark Connect clients or adds jars
    * per session; those need isolation back. */
  val SharedCodegenPin: Map[String, String] =
    Map("spark.sql.artifact.isolation.enabled" -> "false")

  def create(master: String = "local[*]",
             shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
             appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config(SharedCodegenPin)
      .getOrCreate()
    functions.Registry.registerAll(spark) // adds geomean; skips injected
    spark
  }
}
