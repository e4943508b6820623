package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Declarative streaming pipeline — the engine's equivalent of the
  * reference's streaming feed files (SURVEY.md §3.3 entry point 3): a
  * streaming source registered as a view, an ordered chain of SQL
  * transforms (the same TransformSpec surface as batch pipelines —
  * Structured Streaming is the same DataFrame algebra), and one sink.
  *
  * Determinism: `trigger=availableNow` replays all currently-available
  * input and terminates — the reproducible-backfill mode every test and
  * backfill job should use; `processingTime=<interval>` is the continuous
  * deployment mode.
  */
final case class StreamSourceSpec(
    view: String,
    format: String,
    path: String = "",
    schema: Option[String] = None,           // DDL; required for file sources
    schemaFromParquet: Option[String] = None, // infer from a batch parquet read
    watermark: Option[WatermarkSpec] = None,
    options: Map[String, String] = Map.empty)

final case class WatermarkSpec(column: String, delay: String)

final case class StreamSinkSpec(
    format: String,                           // memory | parquet | noop
    path: String = "",
    outputMode: String = "append",
    queryName: String = "stream_out",
    options: Map[String, String] = Map.empty)

final case class ViewWatermark(view: String, column: String, delay: String)

final case class StreamingSpec(
    name: String,
    source: StreamSourceSpec,
    transforms: Seq[graft.pipeline.TransformSpec] = Nil,
    watermarks: Seq[ViewWatermark] = Nil, // applied after the named transform
    sink: StreamSinkSpec,
    trigger: String = "availableNow")

object StreamingSpec {
  implicit private val formats: Formats = DefaultFormats
  def fromJson(json: String): StreamingSpec =
    JsonMethods.parse(json).extract[StreamingSpec]
}

/** Runs a [[StreamingSpec]] on the caller's session, whose temp views the
  * spec's source and transforms are registered as.
  *
  * On an `EtlSession` session (AQE on) every run logs two expected WARN
  * lines: "spark.sql.adaptive.enabled is not supported in streaming
  * DataFrames/Datasets and will be disabled" and, for a stateful query,
  * "Disabling AQE since AQE is not supported in stateful workloads". Spark
  * starts each stream on a cloned session and turns AQE off on that clone
  * only, so the caller's batch queries keep it. A second session with AQE
  * off would silence them but lose the caller's views (DESIGN.md "Config
  * posture"). */
object StreamingRunner {

  def runJson(spark: SparkSession, json: String): StreamingQuery =
    run(spark, StreamingSpec.fromJson(json))

  /** Starts the query and, for availableNow triggers, awaits completion. */
  def run(spark: SparkSession, spec: StreamingSpec): StreamingQuery = {
    graft.functions.Registry.registerAll(spark)
    val src = spec.source
    val schema: Option[StructType] =
      src.schema.map(StructType.fromDDL)
        .orElse(src.schemaFromParquet.map(p => spark.read.parquet(p).schema))
    var reader = spark.readStream.options(src.options)
    schema.foreach(s => reader = reader.schema(s))
    val raw: DataFrame = src.format.toLowerCase match {
      case "parquet" => reader.parquet(src.path)
      case "json"    => reader.json(src.path)
      case "csv"     => reader.csv(src.path)
      case "rate"    => reader.format("rate").load()
      case "kafka"   => throw new UnsupportedOperationException(
        "kafka: connector jar not available offline (SURVEY.md §2.1 S7)")
      case other     => throw new IllegalArgumentException(s"source $other")
    }
    val withWm = src.watermark.fold(raw)(w =>
      raw.withWatermark(w.column, w.delay))
    withWm.createOrReplaceTempView(src.view)

    spec.transforms.foreach { tr =>
      val df = tr.sql.map(spark.sql).getOrElse(
        throw new IllegalArgumentException(
          s"streaming transform ${tr.view}: sql is required"))
      // event-time watermarks attach to post-transform views (e.g. after a
      // raw-long → timestamp normalization step, SURVEY.md §1.2)
      val withW = spec.watermarks.find(_.view == tr.view)
        .fold(df)(w => df.withWatermark(w.column, w.delay))
      withW.createOrReplaceTempView(tr.view)
    }
    val outView = spec.transforms.lastOption.map(_.view).getOrElse(src.view)
    val out = spark.table(outView)

    val trigger = spec.trigger.split("=") match {
      case Array("availableNow")        => Trigger.AvailableNow()
      case Array("processingTime", ivl) => Trigger.ProcessingTime(ivl)
      case other => throw new IllegalArgumentException(
        s"trigger ${other.mkString("=")}")
    }
    var writer = out.writeStream
      .outputMode(spec.sink.outputMode)
      .trigger(trigger)
      .options(spec.sink.options)
    val q = spec.sink.format.toLowerCase match {
      case "memory" => writer.format("memory")
        .queryName(spec.sink.queryName).start()
      case "parquet" => writer.format("parquet")
        .option("path", s"${spec.sink.path}/data")
        .option("checkpointLocation", s"${spec.sink.path}/_ckpt").start()
      case "noop" => writer.format("noop").start()
      case other  => throw new IllegalArgumentException(s"sink $other")
    }
    if (spec.trigger == "availableNow") q.awaitTermination()
    q
  }

  /** CLI: `graft.streaming.StreamingRunner --spec stream_feed.json`
    * (the reference's streaming-feed surface, SURVEY.md §3.3). */
  def main(args: Array[String]): Unit = {
    val specPath = args.sliding(2).collectFirst {
      case Array("--spec", p) => p
    }.getOrElse(sys.error("usage: StreamingRunner --spec <feed.json>"))
    val spark = graft.EtlSession.create(
      sys.env.getOrElse("SPARK_MASTER", "local[*]"), appName = "graft-stream")
    try {
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(specPath)),
        java.nio.charset.StandardCharsets.UTF_8)
      val q = runJson(spark, json)
      println(s"streaming query ${q.name} done: ${q.lastProgress}")
    } finally spark.stop()
  }
}
