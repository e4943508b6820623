package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table catalog.
  *
  * Registers the driver-generated parquet tables
  * (`region nation customer supplier part orders lineitem events documents
  * embeddings`, see TESTDATA.md / FIXTURES.md) as temp views plus the engine's
  * custom SQL functions, so both the SQL surface and the DataFrame operators
  * can run against a scale-factor directory.
  *
  * `events.ts` has shipped in two fixture layouts across driver rounds:
  * legacy `INT64 TIMESTAMP(NANOS)` (which Spark 4 refuses to read unless
  * `spark.sql.legacy.parquet.nanosAsLong=true` turns it into a nanos BIGINT)
  * and native `TIMESTAMP(MICROS)`. [[tsNormalized]] dispatches on the decoded
  * type: a `LongType` ts is nanos-as-long and gets `div 1000` truncation to µs
  * — exactly the truncation DuckDB applies to the same file — while a native
  * timestamp passes through. The conf is set before every read because the
  * legacy layout cannot even be *schema-decoded* without it (the footer
  * conversion throws), and it is a no-op for micros files.
  */
object Tables {

  /** Normalize the events `ts` column to µs timestamps for either fixture
    * layout (see object scaladoc). Shared by the batch reader below and the
    * streaming reader in [[graft.streaming.Streams.eventsStream]] so a future
    * fixture change is fixed in exactly one place. */
  def tsNormalized(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }

  /** Plain tables readable without any legacy flag. */
  private val plain = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  val all: Seq[String] = plain :+ "events"

  /** Read one fixture table (events comes back normalized to µs timestamps).
    * Routes through the cached temp views so repeated corpus queries reuse
    * the already-resolved parquet relations instead of re-reading footers. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    register(spark, sfDir)
    spark.table(name)
  }

  /** events with ts normalized ns→µs (truncating, matching DuckDB): the
    * registered `events` view, so a call lists no files and infers no
    * schema once [[register]] has run. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")

  /** Read events.parquet and normalize ts; only [[register]] calls this. */
  private def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.select(
      col("event_id"), tsNormalized(raw.schema).as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
  }

  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register all fixture views + custom functions on this session.
    * Idempotent and cached per (session, sfDir): repeated calls from the
    * corpus runners skip the parquet-footer reads and view churn. */
  def register(spark: SparkSession, sfDir: String): Unit = {
    if (registered.get(spark) == sfDir) return
    functions.Registry.registerAll(spark)
    plain.foreach { n =>
      spark.read.parquet(s"$sfDir/$n.parquet").createOrReplaceTempView(n)
    }
    readEvents(spark, sfDir).createOrReplaceTempView("events")
    registered.put(spark, sfDir)
  }
}
