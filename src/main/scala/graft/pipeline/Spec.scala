package graft.pipeline

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Declarative pipeline spec — the engine's equivalent of the reference
  * framework's feed files (SURVEY.md §0.2, §3.1): a job is a list of
  * extracts (each materialized as a temp view), an ordered chain of
  * transforms (SQL text or a pluggable `TransformStage` class), and a list
  * of loads (sinks).
  *
  * Everything between extract and load is a lazy Catalyst plan: the runner
  * never collects, so Catalyst sees the whole extract→transform→load tree
  * and can push filters/projections down into the scans regardless of how
  * the user factored their SQL chain. Only the loads trigger jobs.
  */
final case class ExtractSpec(
    view: String,
    format: String,
    path: String = "",
    schema: Option[String] = None,        // DDL string; off = infer/embedded
    options: Map[String, String] = Map.empty)

final case class TransformSpec(
    view: String,                         // name the result is registered as
    sql: Option[String] = None,           // SQL over previously registered views
    className: Option[String] = None,     // or: a graft.pipeline.TransformStage impl
    inputs: Seq[String] = Nil,            // views passed to the plugin stage
    options: Map[String, String] = Map.empty) // plugin-stage configuration

final case class LoadSpec(
    format: String,
    path: String = "",
    source: Option[String] = None,        // defaults to the last transform's view
    mode: String = "overwrite",           // overwrite | append | ... | upsert
    partitionBy: Seq[String] = Nil,
    coalesce: Option[Int] = None,         // cap output file count (no shuffle)
    repartition: Option[Int] = None,      // exact output parallelism (shuffle)
    options: Map[String, String] = Map.empty,
    table: Option[String] = None,         // for format=table (saveAsTable)
    key: Option[String] = None,           // mode=upsert: the merge key
    versionCol: Option[String] = None,    // mode=upsert: latest-wins order; mode=scd2: the change-ts column
    scdAttrs: Seq[String] = Nil,          // mode=scd2: tracked attribute columns
    compactTargetBytes: Option[Long] = None, // mode=compact: per-file goal (default 128 MiB)
    compactSortCol: Option[String] = None,   // mode=compact: range-cluster column
    seqCols: Seq[String] = Nil,           // mode=cdc: change-sequence order (last = unique tiebreak)
    rollupKeys: Seq[String] = Nil,        // mode=rollup: grouping keys
    measures: Seq[String] = Nil,          // mode=rollup: measure DSL (see Rollup.parseMeasure)
    zorderBy: Seq[String] = Nil,          // mode=zorder: clustering columns
    zorderFiles: Option[Int] = None,      // mode=zorder: output file count (default 8)
    zorderCurve: Option[String] = None,   // mode=zorder: morton (default) | hilbert (2 cols)
    textCol: Option[String] = None,       // mode=dedup: document text column
    dedupThreshold: Option[Double] = None,// mode=dedup: Jaccard drop threshold (default 0.8)
    dedupShingleN: Option[Int] = None,    // mode=dedup: shingle size (default 3)
    vecCol: Option[String] = None,        // mode=knn/ivf: embedding column
    centroids: Option[String] = None,     // mode=knn/ivf: frozen centroid-table VIEW (cell, centroid)
    codebooks: Option[String] = None,     // mode=ivf: optional frozen PQ codebook VIEW (subspace, centroid_id, centroid)
    centroidsBase: Option[String] = None, // mode=knn/ivf: IndexLifecycle base PATH — resolves the live COMMITTED centroid version at run start (alternative to `centroids`)
    knnK: Option[Int] = None,             // mode=knn: neighbors per row (default 10)
    knnProbe: Option[Int] = None,         // mode=knn: cells probed per query (default 2)
    retries: Option[Int] = None,          // extra attempts after a failure (default 0)
    retryBackoffMs: Option[Long] = None,  // base backoff, doubles per attempt (default 100)
    continueOnError: Option[Boolean] = None) // failed load doesn't abort siblings (default false)

final case class PipelineSpec(
    name: String,
    extracts: Seq[ExtractSpec],
    transforms: Seq[TransformSpec] = Nil,
    loads: Seq[LoadSpec] = Nil,
    statusJdbc: Option[String] = None,    // JDBC URL for per-load status rows
    statusTable: Option[String] = None)   // status table name (default graft_job_status)

object PipelineSpec {
  implicit private val formats: Formats = DefaultFormats

  /** Substitute `${name}` placeholders in raw spec text — the run-date /
    * environment parameterization every feed repository needs (one spec
    * file, many scheduled instantiations). Unknown placeholders fail
    * fast with the full list, so a typo'd parameter never reaches the
    * catalog as a literal `${date}` path. Substitution is textual and
    * happens BEFORE parsing, so parameters can appear anywhere: paths,
    * SQL, options, names. */
  def substitute(text: String, params: Map[String, String]): String = {
    val pattern = java.util.regex.Pattern.compile("\\$\\{([A-Za-z0-9_]+)\\}")
    val m = pattern.matcher(text)
    val missing = scala.collection.mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      params.get(m.group(1)) match {
        case Some(v) => m.appendReplacement(sb,
          java.util.regex.Matcher.quoteReplacement(v))
        case None => missing += m.group(1)
      }
    }
    m.appendTail(sb)
    require(missing.isEmpty,
      s"spec: unbound parameters: ${missing.mkString(", ")} " +
        s"(provided: ${params.keys.toSeq.sorted.mkString(", ")})")
    sb.toString
  }

  /** Parse a spec from JSON text; fails fast with a clear message on
    * missing/malformed sections (the reference validated feed files before
    * running them — same contract). */
  def fromJson(json: String): PipelineSpec = {
    val parsed = JsonMethods.parse(json).extract[PipelineSpec]
    validate(parsed)
    parsed
  }

  def fromJson(json: String, params: Map[String, String]): PipelineSpec =
    fromJson(substitute(json, params))

  def fromXml(xml: String, params: Map[String, String]): PipelineSpec =
    fromXml(substitute(xml, params))

  /** Parse a spec from XML text — the reference framework's other feed
    * format. Same fields as the JSON form:
    *
    * {{{
    * <pipeline name="...">
    *   <extract view="v" format="parquet" path="...">
    *     <option key="k" value="v"/>
    *   </extract>
    *   <transform view="t" sql="SELECT ..."/>        <!-- or -->
    *   <transform view="t"><sql>SELECT ...</sql></transform>
    *   <transform view="u" className="pkg.Stage" inputs="a,b"/>
    *   <load format="parquet" path="..." mode="overwrite"
    *         partitionBy="c1,c2" coalesce="2" source="t"/>
    * </pipeline>
    * }}}
    *
    * Multi-line SQL goes in a `<sql>` child element; everything else is
    * attributes. Comma-separated lists for `inputs`/`partitionBy`. */
  def fromXml(xml: String): PipelineSpec = {
    val root = scala.xml.XML.loadString(xml)
    require(root.label == "pipeline", s"expected <pipeline>, got <${root.label}>")
    def attr(n: scala.xml.Node, a: String): Option[String] =
      n.attribute(a).map(_.text).filter(_.nonEmpty)
    def opts(n: scala.xml.Node): Map[String, String] =
      (n \ "option").map(o => (o \@ "key") -> (o \@ "value")).toMap
    def csv(s: Option[String]): Seq[String] =
      s.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val spec = PipelineSpec(
      name = root \@ "name",
      statusJdbc = attr(root, "statusJdbc"),
      statusTable = attr(root, "statusTable"),
      extracts = (root \ "extract").map { e =>
        ExtractSpec(view = e \@ "view", format = e \@ "format",
          path = e \@ "path", schema = attr(e, "schema"), options = opts(e))
      },
      transforms = (root \ "transform").map { t =>
        val sqlChild = (t \ "sql").headOption.map(_.text.trim).filter(_.nonEmpty)
        TransformSpec(view = t \@ "view",
          sql = attr(t, "sql").orElse(sqlChild),
          className = attr(t, "className"),
          inputs = csv(attr(t, "inputs")),
          options = opts(t))
      },
      loads = (root \ "load").map { l =>
        LoadSpec(format = l \@ "format", path = l \@ "path",
          source = attr(l, "source"),
          mode = attr(l, "mode").getOrElse("overwrite"),
          partitionBy = csv(attr(l, "partitionBy")),
          coalesce = attr(l, "coalesce").map(_.toInt),
          repartition = attr(l, "repartition").map(_.toInt),
          options = opts(l), table = attr(l, "table"),
          key = attr(l, "key"), versionCol = attr(l, "versionCol"),
          seqCols = csv(attr(l, "seqCols")),
          rollupKeys = csv(attr(l, "rollupKeys")),
          measures = csv(attr(l, "measures")),
          retries = attr(l, "retries").map(_.toInt),
          retryBackoffMs = attr(l, "retryBackoffMs").map(_.toLong),
          continueOnError = attr(l, "continueOnError").map(_.toBoolean))
      })
    validate(spec)
    spec
  }

  /** Load modes that land into a standing parquet directory. */
  private val ParquetOnlyModes = Set("upsert", "cdc", "rollup", "dedup", "knn",
    "ivf", "scd2", "compact", "zorder")

  def validate(spec: PipelineSpec): Unit = {
    require(spec.name.nonEmpty, "pipeline: name is required")
    require(spec.extracts.nonEmpty, "pipeline: at least one extract")
    spec.extracts.foreach { e =>
      require(e.view.nonEmpty, "extract: view name is required")
      require(e.format.nonEmpty, s"extract ${e.view}: format is required")
    }
    spec.transforms.foreach { t =>
      require(t.view.nonEmpty, "transform: view name is required")
      require(t.sql.isDefined ^ t.className.isDefined,
        s"transform ${t.view}: exactly one of sql|className")
    }
    val known = (spec.extracts.map(_.view) ++ spec.transforms.map(_.view)).toSet
    spec.loads.foreach { l =>
      require(l.format.nonEmpty, "load: format is required")
      l.retries.foreach(r => require(r >= 0, "load: retries must be >= 0"))
      l.source.foreach(s => require(known.contains(s),
        s"load: unknown source view '$s' (known: ${known.mkString(", ")})"))
      if (ParquetOnlyModes(l.mode))
        require(l.format.equalsIgnoreCase("parquet"),
          s"load: mode=${l.mode} supports parquet targets only")
      if (l.mode == "upsert") {
        require(l.key.isDefined && l.versionCol.isDefined,
          "load: mode=upsert requires 'key' and 'versionCol'")
      }
      if (l.mode == "cdc") {
        require(l.key.isDefined && l.seqCols.nonEmpty,
          "load: mode=cdc requires 'key' and 'seqCols'")
      }
      if (l.mode == "rollup") {
        require(l.rollupKeys.nonEmpty && l.measures.nonEmpty,
          "load: mode=rollup requires 'rollupKeys' and 'measures'")
        // fail at parse time, not mid-run
        l.measures.foreach(graft.ops.Rollup.parseMeasure)
      }
      if (l.mode == "dedup") {
        require(l.key.isDefined && l.textCol.isDefined,
          "load: mode=dedup requires 'key' and 'textCol'")
        l.dedupThreshold.foreach(t => require(t > 0.0 && t <= 1.0,
          s"load: dedupThreshold must be in (0, 1], got $t"))
        l.dedupShingleN.foreach(n => require(n >= 1,
          s"load: dedupShingleN must be >= 1, got $n"))
      }
      if (l.mode == "knn") {
        require(l.key.isDefined && l.vecCol.isDefined &&
          (l.centroids.isDefined != l.centroidsBase.isDefined),
          "load: mode=knn requires 'key', 'vecCol' and exactly one of " +
            "'centroids' (static frozen view) / 'centroidsBase' " +
            "(versioned IndexLifecycle path)")
        l.centroids.foreach(c => require(known.contains(c),
          s"load: mode=knn centroids view '$c' is not an extract/" +
            s"transform view (known: ${known.mkString(", ")})"))
        l.knnK.foreach(k => require(k >= 1,
          s"load: knnK must be >= 1, got $k"))
        l.knnProbe.foreach(p => require(p >= 1,
          s"load: knnProbe must be >= 1, got $p"))
      }
      if (l.mode == "ivf") {
        require(l.key.isDefined && l.vecCol.isDefined &&
          (l.centroids.isDefined != l.centroidsBase.isDefined),
          "load: mode=ivf requires 'key', 'vecCol' and exactly one of " +
            "'centroids' (static frozen view) / 'centroidsBase' " +
            "(versioned IndexLifecycle path)")
        l.centroids.foreach(c => require(known.contains(c),
          s"load: mode=ivf centroids view '$c' is not an extract/" +
            s"transform view (known: ${known.mkString(", ")})"))
        l.codebooks.foreach(c => require(known.contains(c),
          s"load: mode=ivf codebooks view '$c' is not an extract/" +
            s"transform view (known: ${known.mkString(", ")})"))
      }
      if (l.mode == "scd2") {
        require(l.key.isDefined && l.versionCol.isDefined &&
          l.scdAttrs.nonEmpty,
          "load: mode=scd2 requires 'key', 'versionCol' (the change-ts " +
            "column) and 'scdAttrs'")
        // scdAttrs overlapping the key/versionCol or the reserved
        // validity columns would bootstrap a dimension with duplicate
        // or colliding columns — a corrupt table, not a clear error
        val reserved = Seq("valid_from", "valid_to") ++
          l.key.toSeq ++ l.versionCol.toSeq
        val clash = l.scdAttrs.filter(reserved.contains)
        require(clash.isEmpty,
          s"load: mode=scd2 scdAttrs must not contain the key, " +
            s"versionCol, or the reserved names valid_from/valid_to " +
            s"(got: ${clash.mkString(", ")})")
        require(l.scdAttrs.distinct.size == l.scdAttrs.size,
          "load: mode=scd2 scdAttrs contains duplicates")
      }
      if (l.mode == "compact") {
        l.compactTargetBytes.foreach(b => require(b > 0,
          s"load: compactTargetBytes must be positive, got $b"))
      }
      if (l.mode == "zorder") {
        require(l.zorderBy.nonEmpty,
          "load: mode=zorder requires 'zorderBy' columns")
        l.zorderFiles.foreach(n => require(n >= 1,
          "load: zorderFiles must be >= 1"))
        l.zorderCurve.foreach { c =>
          require(c == "morton" || c == "hilbert",
            s"load: zorderCurve must be morton|hilbert, got '$c'")
          require(c != "hilbert" || l.zorderBy.size == 2,
            "load: zorderCurve=hilbert requires exactly 2 zorderBy columns")
        }
      }
    }
  }
}
