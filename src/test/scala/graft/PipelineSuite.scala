package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._

/** Uppercases the mktsegment of every customer row — a minimal
  * TransformStage plugin for T-P3 (must be a top-level class so
  * Class.forName can instantiate it). */
class SegmentUpperStage extends TransformStage {
  override def apply(spark: SparkSession,
                     inputs: Map[String, DataFrame]): DataFrame =
    inputs("customer").withColumn("c_mktsegment", upper(col("c_mktsegment")))
}

/** Shared fault-injection counter for T-P6 (top-level object: the UDF
  * closure and the asserting test must see the SAME static state; in
  * local mode every task runs in this JVM). */
object FailInjector {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = calls.set(0)
}

/** T-P1..T-P3 (SURVEY.md §3.3): the declarative spec layer end-to-end. */
class PipelineSuite extends SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  test("T-P1: single extract + SQL transform + parquet load") {
    val out = tmp()
    val spec = s"""{
      "name": "tp1",
      "extracts": [
        {"view": "lineitem", "format": "parquet",
         "path": "$sf0001/lineitem.parquet"}],
      "transforms": [
        {"view": "pricing", "sql": "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) sum_qty, COUNT(*) n FROM lineitem GROUP BY l_returnflag, l_linestatus"}],
      "loads": [
        {"format": "parquet", "path": "$out/pricing"}]
    }"""
    val report = PipelineRunner.runJson(spark, spec)
    assert(report.loads.size == 1)
    val back = spark.read.parquet(s"$out/pricing")
    assert(back.count() > 0)
    assert(back.columns.sorted.toSeq ==
      Seq("l_linestatus", "l_returnflag", "n", "sum_qty"))
    // the report's row count rode the write job itself (observe(),
    // not a second pass) and matches what landed
    assert(report.loads.head.rows == back.count(),
      s"observed ${report.loads.head.rows} vs ${back.count()}")
    assert(PipelineRunner.reportJson(report).contains("\"rows\":"))
  }

  test("T-P2: multi-source join, multi-sink (parquet + csv)") {
    val out = tmp()
    val spec = s"""{
      "name": "tp2",
      "extracts": [
        {"view": "orders", "format": "parquet", "path": "$sf0001/orders.parquet"},
        {"view": "customer", "format": "parquet", "path": "$sf0001/customer.parquet"}],
      "transforms": [
        {"view": "seg_rev", "sql": "SELECT c.c_mktsegment, COUNT(*) n, ROUND(SUM(o.o_totalprice),2) rev FROM orders o JOIN customer c ON o.o_custkey=c.c_custkey GROUP BY c.c_mktsegment"}],
      "loads": [
        {"format": "parquet", "path": "$out/seg_rev_parquet"},
        {"format": "csv", "path": "$out/seg_rev_csv"}]
    }"""
    val report = PipelineRunner.runJson(spark, spec)
    assert(report.loads.size == 2)
    val p = spark.read.parquet(s"$out/seg_rev_parquet")
    val c = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$out/seg_rev_csv")
    assert(p.count() == c.count() && p.count() > 0)
  }

  test("T-P3: custom TransformStage plugin by class name") {
    val out = tmp()
    val spec = s"""{
      "name": "tp3",
      "extracts": [
        {"view": "customer", "format": "parquet", "path": "$sf0001/customer.parquet"}],
      "transforms": [
        {"view": "upper_seg", "className": "graft.SegmentUpperStage",
         "inputs": ["customer"]}],
      "loads": [
        {"format": "parquet", "path": "$out/upper"}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val back = spark.read.parquet(s"$out/upper")
    val segs = back.select("c_mktsegment").distinct()
      .collect().map(_.getString(0))
    assert(segs.nonEmpty && segs.forall(s => s == s.toUpperCase))
    // the dry run and lineage entry points resolve the same plugin stage
    val parsed = PipelineSpec.fromJson(spec)
    val Seq((target, plan)) = PipelineRunner.dryRun(spark, parsed)
    assert(target == s"upper_seg -> parquet:$out/upper")
    assert(plan.contains("upper(c_mktsegment"), plan.take(500))
    val Seq((_, cols)) = PipelineRunner.lineage(spark, parsed)
    assert(cols("c_mktsegment") == Set("customer.c_mktsegment"), cols)
    assert(cols("c_custkey") == Set("customer.c_custkey"), cols)
  }

  test("T-P4: declarative upsert load merges latest-wins into a standing target") {
    val out = tmp() + "/target"
    def spec(rows: Seq[String]) = PipelineSpec("tp4",
      extracts = Seq(ExtractSpec("updates", "values",
        path = rows.mkString("\n"),
        schema = Some("k BIGINT, v STRING, ver BIGINT"))),
      loads = Seq(LoadSpec("parquet", out, mode = "upsert",
        key = Some("k"), versionCol = Some("ver"))))
    // first batch creates the target
    PipelineRunner.run(spark, spec(Seq(
      """{"k":1,"v":"a","ver":1}""", """{"k":2,"v":"b","ver":1}""")))
    // second batch: update k=2, insert k=3 with two versions (latest wins)
    val r2 = PipelineRunner.run(spark, spec(Seq(
      """{"k":2,"v":"b2","ver":2}""", """{"k":3,"v":"c1","ver":1}""",
      """{"k":3,"v":"c2","ver":2}""")))
    assert(r2.loads.head.rows == 3L,
      s"upsert reports the standing row count: ${r2.loads.head.rows}")
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("ver"))).toSet
    assert(got == Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c2", 2L)))
    // re-applying the same batch is a no-op (idempotent landing)
    PipelineRunner.run(spark, spec(Seq(
      """{"k":2,"v":"b2","ver":2}""", """{"k":3,"v":"c1","ver":1}""",
      """{"k":3,"v":"c2","ver":2}""")))
    val again = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("ver"))).toSet
    assert(again == got)
    // spec validation: upsert requires parquet + key + versionCol
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("csv", out, mode = "upsert",
          key = Some("k"), versionCol = Some("ver")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "upsert"))))
    }
  }

  test("T-P13: declarative cdc load applies deletes and blocks resurrection") {
    val out = tmp() + "/cdc_target"
    def spec(rows: Seq[String]) = PipelineSpec("tp13",
      extracts = Seq(ExtractSpec("changes", "values",
        path = rows.mkString("\n"),
        schema = Some("k BIGINT, v STRING, seq BIGINT, op STRING"))),
      loads = Seq(LoadSpec("parquet", out, mode = "cdc",
        key = Some("k"), seqCols = Seq("seq", "op"))))
    PipelineRunner.run(spark, spec(Seq(
      """{"k":1,"v":"a","seq":1,"op":"I"}""",
      """{"k":2,"v":"b","seq":1,"op":"I"}""",
      """{"k":2,"v":null,"seq":2,"op":"D"}""")))
    // run 2: a STALE straggler for the deleted key (seq 1 < the
    // tombstone's 2) must not resurrect it; k=3 inserts
    val r2 = PipelineRunner.run(spark, spec(Seq(
      """{"k":2,"v":"stale","seq":1,"op":"U"}""",
      """{"k":3,"v":"c","seq":1,"op":"I"}""")))
    assert(r2.loads.head.rows == 3L, s"tombstone form: ${r2.loads.head.rows}")
    val table = spark.read.parquet(out)
    val snap = table.filter(col("op") =!= "D").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(snap == Map(1L -> "a", 3L -> "c"), snap.toString)
    // the tombstone row is present and still carries the delete seq
    val tomb = table.filter(col("op") === "D").collect()
    assert(tomb.length == 1 && tomb(0).getAs[Long]("k") == 2L &&
      tomb(0).getAs[Long]("seq") == 2L)
    // a genuinely later re-insert DOES bring the key back
    PipelineRunner.run(spark, spec(Seq(
      """{"k":2,"v":"back","seq":3,"op":"I"}""")))
    val snap2 = spark.read.parquet(out).filter(col("op") =!= "D")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(snap2 == Map(1L -> "a", 2L -> "back", 3L -> "c"))
    // validation: cdc requires parquet + key + seqCols
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "cdc",
          key = Some("k")))))
    }
  }

  test("T-P10: declarative rollup load folds deltas into standing aggregate state") {
    val out = tmp() + "/rollup_target"
    def spec(rows: Seq[String]) = PipelineSpec("tp5",
      extracts = Seq(ExtractSpec("delta", "values",
        path = rows.mkString("\n"),
        schema = Some("k STRING, x BIGINT"))),
      loads = Seq(LoadSpec("parquet", out, mode = "rollup",
        rollupKeys = Seq("k"),
        measures = Seq("n=count", "s=sum(x)", "lo=min(x)", "hi=max(x)"))))
    PipelineRunner.run(spark, spec(Seq(
      """{"k":"a","x":10}""", """{"k":"a","x":20}""", """{"k":"b","x":5}""")))
    val r2 = PipelineRunner.run(spark, spec(Seq(
      """{"k":"a","x":30}""", """{"k":"c","x":1}""")))
    assert(r2.loads.head.rows == 3L,
      s"rollup reports the standing key count: ${r2.loads.head.rows}")
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("k") -> (r.getAs[Long]("n"),
        r.getAs[Long]("s"), r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    assert(got == Map(
      "a" -> ((3L, 60L, 10L, 30L)),
      "b" -> ((1L, 5L, 5L, 5L)),
      "c" -> ((1L, 1L, 1L, 1L))), got)
    // validation: rollup requires parquet + keys + parseable measures
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "rollup"))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "rollup",
          rollupKeys = Seq("k"), measures = Seq("s=median(x)")))))
    }
  }

  test("swap-landing modes repair an interrupted swap through the runner") {
    // (mode, batch schema, load onto a target dir, first batch, second batch)
    val cases: Seq[(String, String, String => LoadSpec, Seq[String],
        Seq[String])] = Seq(
      ("upsert", "k BIGINT, v STRING, ver BIGINT",
        LoadSpec("parquet", _, mode = "upsert", key = Some("k"),
          versionCol = Some("ver")),
        Seq("""{"k":1,"v":"a","ver":1}""", """{"k":2,"v":"b","ver":1}"""),
        Seq("""{"k":2,"v":"b2","ver":2}""", """{"k":3,"v":"c","ver":1}""")),
      ("cdc", "k BIGINT, v STRING, seq BIGINT, op STRING",
        LoadSpec("parquet", _, mode = "cdc", key = Some("k"),
          seqCols = Seq("seq", "op")),
        Seq("""{"k":1,"v":"a","seq":1,"op":"I"}""",
          """{"k":2,"v":"b","seq":1,"op":"I"}"""),
        Seq("""{"k":2,"v":null,"seq":2,"op":"D"}""",
          """{"k":3,"v":"c","seq":1,"op":"I"}""")),
      ("rollup", "k STRING, x BIGINT",
        LoadSpec("parquet", _, mode = "rollup", rollupKeys = Seq("k"),
          measures = Seq("n=count", "s=sum(x)")),
        Seq("""{"k":"a","x":10}""", """{"k":"b","x":5}"""),
        Seq("""{"k":"a","x":30}""", """{"k":"c","x":1}""")),
      ("scd2", "k BIGINT, city STRING, ts BIGINT",
        LoadSpec("parquet", _, mode = "scd2", key = Some("k"),
          versionCol = Some("ts"), scdAttrs = Seq("city")),
        Seq("""{"k":1,"city":"ams","ts":10}""",
          """{"k":2,"city":"nyc","ts":10}"""),
        Seq("""{"k":1,"city":"ber","ts":20}""",
          """{"k":3,"city":"sfo","ts":20}""")))
    for ((mode, schema, load, b1, b2) <- cases) {
      val base = tmp()
      def land(dir: String, rows: Seq[String]): Long =
        PipelineRunner.run(spark, PipelineSpec(s"swap_$mode",
          extracts = Seq(ExtractSpec("batch", "values",
            path = rows.mkString("\n"), schema = Some(schema))),
          loads = Seq(load(dir)))).loads.head.rows
      def contents(dir: String) =
        spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
      def swapOld(dir: String) = new java.io.File(
        base, s".${new java.io.File(dir).getName}__swap_old")
      val clean = s"$base/clean"
      land(clean, b1)
      val cleanRows = land(clean, b2)
      // crash after the target was moved aside, before the second rename
      val moved = s"$base/moved"
      land(moved, b1)
      assert(new java.io.File(moved).renameTo(swapOld(moved)))
      assert(land(moved, b2) == cleanRows, mode)
      assert(contents(moved) == contents(clean), mode)
      assert(!swapOld(moved).exists, mode)
      // crash after the install, before the superseded copy was dropped:
      // the stale copy (here emptied) must not win over the live one
      val stale = s"$base/stale"
      land(stale, b1)
      spark.read.parquet(stale).limit(0).write.parquet(swapOld(stale).getPath)
      assert(land(stale, b2) == cleanRows, mode)
      assert(contents(stale) == contents(clean), mode)
      assert(!swapOld(stale).exists, mode)
    }
  }

  test("T-P16: declarative zorder load re-clusters a standing target in place") {
    val out = tmp() + "/zorder_target"
    // standing table: a lineitem slice written unclustered
    Tables.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .write.parquet(out)
    val before = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // maintenance feed: extract view IS the target path (the swap-safe
    // read-own-target shape), re-laid-out on (l_orderkey, l_partkey)
    val spec = PipelineSpec("tp15",
      extracts = Seq(ExtractSpec("standing", "parquet", path = out)),
      loads = Seq(LoadSpec("parquet", out, mode = "zorder",
        source = Some("standing"),
        zorderBy = Seq("l_orderkey", "l_partkey"),
        zorderFiles = Some(4))))
    val r = PipelineRunner.run(spark, spec)
    assert(r.loads.head.rows == before.size.toLong)
    // content unchanged
    val after = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after == before)
    // layout: exactly zorderFiles data files, with DISJOINT z ranges —
    // recompute z over the whole read-back (same data → same equi-depth
    // ranks as the writer used) and check per-file min/max don't overlap
    val withFile = graft.ops.Layout.withZN(
        spark.read.parquet(out)
          .withColumn("__f", input_file_name()),
        Seq("l_orderkey", "l_partkey"))
      .groupBy("__f").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("lo").collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    assert(withFile.length == 4, s"expected 4 files: ${withFile.length}")
    withFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file z-ranges overlap: $hi1 > $lo2")
      case _ =>
    }
    // curve=hilbert re-layout of the same target: content preserved,
    // per-file HILBERT ranges disjoint
    val specH = PipelineSpec("tp16h",
      extracts = Seq(ExtractSpec("standing", "parquet", path = out)),
      loads = Seq(LoadSpec("parquet", out, mode = "zorder",
        source = Some("standing"),
        zorderBy = Seq("l_orderkey", "l_partkey"),
        zorderFiles = Some(4), zorderCurve = Some("hilbert"))))
    PipelineRunner.run(spark, specH)
    val afterH = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
      .sorted.toSeq
    assert(afterH == before)
    val hFiles = graft.ops.Layout.withH(
        spark.read.parquet(out).withColumn("__f", input_file_name()),
        "l_orderkey", "l_partkey")
      .groupBy("__f").agg(min("h").as("lo"), max("h").as("hi"))
      .orderBy("lo").collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    assert(hFiles.length == 4)
    hFiles.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file h-ranges overlap: $hi1 > $lo2")
      case _ =>
    }
    // validation: zorder requires parquet + zorderBy; files >= 1;
    // hilbert needs exactly 2 columns
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "zorder"))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("csv", out, mode = "zorder",
          zorderBy = Seq("x")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad3",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "zorder",
          zorderBy = Seq("x"), zorderCurve = Some("hilbert")))))
    }
  }

  test("spec parameterization: ${name} binds anywhere; unbound names fail fast") {
    val out = tmp()
    val dir = java.nio.file.Files.createTempDirectory("graft-param")
    val specFile = dir.resolve("feed.json")
    java.nio.file.Files.writeString(specFile, s"""{
      "name": "param-feed-$${env}",
      "extracts": [
        {"view": "lineitem", "format": "parquet",
         "path": "$${root}/lineitem.parquet"}],
      "transforms": [
        {"view": "t", "sql": "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey < $${maxkey}"}],
      "loads": [
        {"format": "parquet", "path": "$out/run_$${env}"}]
    }""")
    val report = PipelineRunner.runFile(spark, specFile.toString,
      Map("env" -> "dev", "root" -> sf0001, "maxkey" -> "50"))
    assert(report.name == "param-feed-dev")
    val back = spark.read.parquet(s"$out/run_dev")
    assert(back.count() > 0)
    assert(back.agg(max(col("l_orderkey"))).head().getLong(0) < 50)
    // a typo'd parameter must fail fast, not land a literal ${date} path
    val e = intercept[IllegalArgumentException] {
      PipelineRunner.runFile(spark, specFile.toString, Map("env" -> "dev"))
    }
    assert(e.getMessage.contains("unbound parameters"))
    assert(e.getMessage.contains("root"))
    // the shipped parameterized CDC example: two batches through the
    // upsert load, parameters binding the batch id, rows, and target
    val tgt = s"$out/cdc"
    PipelineRunner.runFile(spark, "/root/repo/examples/cdc_upsert_feed.json",
      Map("batch" -> "1", "target" -> tgt,
        "rows" -> """{\"k\":1,\"v\":\"a\",\"ver\":1}"""))
    PipelineRunner.runFile(spark, "/root/repo/examples/cdc_upsert_feed.json",
      Map("batch" -> "2", "target" -> tgt,
        "rows" -> """{\"k\":1,\"v\":\"a2\",\"ver\":2}"""))
    val cdc = spark.read.parquet(tgt).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(cdc == Set((1L, "a2")))
  }

  test("dry run analyzes and plans every load without writing anything") {
    val specText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/examples/pricing_summary_feed.json")))
    val spec = PipelineSpec.fromJson(specText)
    val out = java.nio.file.Files.createTempDirectory("graft_dry").toString
    val redirected = spec.copy(loads = spec.loads.map(l =>
      l.copy(path = s"$out/${l.format}")))
    val plans = PipelineRunner.dryRun(spark, redirected)
    assert(plans.size == redirected.loads.size)
    plans.foreach { case (target, plan) =>
      assert(target.contains("->"))
      assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
        s"plan for $target should reach the source scan:\n${plan.take(500)}")
    }
    // nothing was written
    assert(!new java.io.File(s"$out/parquet").exists())
    // a broken spec fails the dry run with an analysis error
    val broken = redirected.copy(transforms = Seq(
      TransformSpec(view = "bad", sql = Some("SELECT no_such_col FROM lineitem"))))
    intercept[Exception] { PipelineRunner.dryRun(spark, broken) }
  }

  test("T-P17: declarative dedup load maintains a near-dedup'd " +
      "standing corpus; re-apply is a no-op") {
    import spark.implicits._
    val base = tmp()
    val out = s"$base/corpus"
    val docs = Tables.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    docs.filter(col("doc_id") < 300).write.parquet(s"$base/batch1")
    def spec(src: String) = PipelineSpec("tp17",
      extracts = Seq(ExtractSpec("batch", "parquet", path = src)),
      loads = Seq(LoadSpec("parquet", out, mode = "dedup",
        source = Some("batch"), key = Some("doc_id"),
        textCol = Some("text"), dedupThreshold = Some(0.8))))
    val r1 = PipelineRunner.run(spark, spec(s"$base/batch1"))
    val kept1 = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    // equality vs the operator it composes: empty standing corpus,
    // within-batch lower-id-wins
    val emptySigs = graft.ops.Dedup.minHashSignatures(
      docs.limit(0), "doc_id", "text")
    val (expKept, _) = graft.ops.Dedup.incrementalMinHashNearDup(
      docs.filter(col("doc_id") < 300), "doc_id", "text", emptySigs)
    assert(kept1 == expKept.select("doc_id").as[Long].collect().toSet)
    assert(r1.loads.head.rows == kept1.size.toLong)
    assert(r1.loads.head.status == "ok")
    // idempotent re-apply: the same feed lands nothing new (standing
    // corpus dominates — every batch doc is its own standing twin)
    PipelineRunner.run(spark, spec(s"$base/batch1"))
    assert(spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet == kept1)
    // second batch: new docs plus an exact twin of a SURVIVING
    // standing doc under a fresh id — the twin must drop, the new
    // docs admit (minus their own internal near-dups)
    val anchor = kept1.min
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 500)
      .unionByName(docs.filter(col("doc_id") === anchor)
        .select(lit(90000L).as("doc_id"), col("text")))
      .write.parquet(s"$base/batch2")
    PipelineRunner.run(spark, spec(s"$base/batch2"))
    val kept2 = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept2.contains(90000L), "standing twin must drop")
    assert(kept1.subsetOf(kept2) && kept2.size > kept1.size)
    // the signature sidecar tracks EXACTLY the standing corpus
    val sigIds = spark.read.parquet(s"${out}_sigs")
      .select("id").as[Long].collect().toSet
    assert(sigIds == kept2)
    // validation: dedup requires parquet + key + textCol; threshold
    // in (0, 1]
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "dedup",
          key = Some("doc_id")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("csv", out, mode = "dedup",
          key = Some("doc_id"), textCol = Some("text")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad3",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "dedup",
          key = Some("doc_id"), textCol = Some("text"),
          dedupThreshold = Some(1.5)))))
    }
  }

  test("T-P17b: dedup load against a pre-existing target WITHOUT a " +
      "sidecar backfills signatures from the standing text") {
    import spark.implicits._
    val base = tmp()
    val out = s"$base/corpus"
    val docs = Tables.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    // the migration scenario (r12 ADVICE): a standing corpus landed
    // BEFORE the feed switched to mode=dedup — target exists, no
    // `_sigs` sidecar, standing text never signed
    docs.filter(col("doc_id") < 300).write.parquet(out)
    // the batch carries an exact twin of a standing doc under a fresh
    // id: without the backfill it would silently land (only the
    // exact-KEY anti-join would remain)
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .unionByName(docs.filter(col("doc_id") === 7L)
        .select(lit(90000L).as("doc_id"), col("text")))
      .write.parquet(s"$base/batch")
    val spec = PipelineSpec("tp17b",
      extracts = Seq(ExtractSpec("batch", "parquet",
        path = s"$base/batch")),
      loads = Seq(LoadSpec("parquet", out, mode = "dedup",
        source = Some("batch"), key = Some("doc_id"),
        textCol = Some("text"), dedupThreshold = Some(0.8))))
    PipelineRunner.run(spark, spec)
    val kept = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(90000L),
      "standing twin must drop — the backfill signed the standing text")
    assert((0L until 300L).map(identity).toSet.subsetOf(kept))
    // the sidecar now tracks exactly the standing corpus
    val sigIds = spark.read.parquet(s"${out}_sigs")
      .select("id").as[Long].collect().toSet
    assert(sigIds == kept)
  }

  test("T-P18: declarative knn load maintains a standing kNN graph; " +
      "re-apply is a no-op; edges match the batch operator") {
    import spark.implicits._
    val base = tmp()
    val out = s"$base/graph"
    Tables.register(spark, sf0001)
    val emb = Tables.table(spark, sf0001, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    cents.createOrReplaceTempView("tp18_cents")
    emb.filter(col("vec_id") < 100).write.parquet(s"$base/b1")
    emb.filter(col("vec_id") < 160).write.parquet(s"$base/b2") // 60 new
    def spec(src: String) = PipelineSpec("tp18",
      extracts = Seq(
        ExtractSpec("batch", "parquet", path = src),
        ExtractSpec("embAll", "parquet",
          path = s"$sf0001/embeddings.parquet")),
      transforms = Seq(TransformSpec("cents", sql = Some(
        """SELECT CAST(vec_id AS INT) AS cell,
          |CAST(embedding AS ARRAY<DOUBLE>) AS centroid
          |FROM embAll WHERE vec_id < 8""".stripMargin))),
      loads = Seq(LoadSpec("parquet", out, mode = "knn",
        source = Some("batch"), key = Some("vec_id"),
        vecCol = Some("embedding"), centroids = Some("cents"),
        knnK = Some(3), knnProbe = Some(2))))
    val r1 = PipelineRunner.run(spark, spec(s"$base/b1"))
    val e1 = spark.read.parquet(out)
    // first landing = the batch annJoin over itself (self excluded)
    val exp1 = graft.ops.Similarity.annJoin(
        emb.filter(col("vec_id") < 100), emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", cents, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(e1.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3))).toSet == exp1)
    assert(r1.loads.head.rows == exp1.size.toLong)
    // re-apply: nothing new admitted, graph unchanged
    PipelineRunner.run(spark, spec(s"$base/b1"))
    assert(spark.read.parquet(out).count() == exp1.size.toLong)
    // second batch: only the 60 NEW ids gain edge lists, computed
    // against standing ∪ fresh; old lists are never revised
    // (arrival-time kNN, the runKnnGraphAppend contract)
    PipelineRunner.run(spark, spec(s"$base/b2"))
    val e2 = spark.read.parquet(out)
    assert(e2.filter(col("qid") < 100).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3))).toSet == exp1,
      "standing edge lists must not be revised")
    val freshQ = e2.filter(col("qid") >= 100)
    assert(freshQ.select("qid").distinct().count() == 60)
    // fresh edges equal the operator run against the full admitted set
    val expFresh = graft.ops.Similarity.annJoin(
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 160),
        emb.filter(col("vec_id") < 160),
        "vec_id", "embedding", cents, k = 3, nprobe = 2,
        excludeSelf = Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(freshQ.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3))).toSet == expFresh)
    // the assignment sidecar tracks every admitted id
    assert(spark.read.parquet(s"${out}_assign")
      .select("id").as[Long].collect().toSet == (0L until 160L).toSet)
    // validation: knn requires key/vecCol/centroids and a KNOWN view
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "knn",
          key = Some("vec_id"), vecCol = Some("embedding")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "knn",
          key = Some("vec_id"), vecCol = Some("embedding"),
          centroids = Some("nosuchview")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad3",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "knn",
          key = Some("vec_id"), vecCol = Some("embedding"),
          centroids = Some("u"), knnK = Some(0)))))
    }
  }

  test("example feeds run through the CLI entry point") {
    // the sessions feed reads the ns-timestamp events fixture directly
    // (PipelineRunner's own EtlSession sets this; the suite session must too)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a stale status DB from a previous test run would accumulate rows
    new java.io.File("/tmp/graft-example-out/monitored_status.duckdb").delete()
    // the lifecycle feed's operational precondition: a committed
    // retrain under its centroidsBase (fresh dirs for determinism)
    for (d <- Seq("ivf_lifecycle_idx", "ivf_lifecycle_assign"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft-example-out/$d"))
    graft.ops.IndexLifecycle.retrain(spark,
      "/tmp/graft-example-out/ivf_lifecycle_idx",
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") < 100),
      "vec_id", "embedding", nlist = 8, trainSample = 64)
    for (feed <- Seq("pricing_summary_feed.json", "segment_revenue_feed.json",
        "normalize_docs_feed.json", "seeded_lookup_feed.json",
        "user_sessions_feed.json", "chunked_docs_feed.json",
        "quality_gate_feed.json", "monitored_load_feed.json",
        "curation_feed.json", "zorder_maintenance_feed.json",
        "near_dedup_feed.json", "knn_graph_feed.json",
        "ivf_assignment_feed.json", "ivf_lifecycle_feed.json",
        "scd2_dimension_feed.json", "compact_maintenance_feed.json")) {
      PipelineRunner.runFile(spark, s"/root/repo/examples/$feed")
    }
    // the monitored feed persisted one status row per load via JDBC
    val monStatus = graft.sources.Sources.read(spark, "jdbc", "",
      options = Map(
        "url" -> "jdbc:duckdb:/tmp/graft-example-out/monitored_status.duckdb",
        "dbtable" -> "graft_job_status",
        "driver" -> "org.duckdb.DuckDBDriver")).collect()
    assert(monStatus.length == 2 &&
      monStatus.forall(_.getAs[String]("status") == "ok"))
    // the XML feed format (the reference framework's other spec syntax)
    // parses, runs, and produces the same rows as its JSON sibling
    PipelineRunner.runFile(spark,
      "/root/repo/examples/pricing_summary_feed.xml")
    val viaXml = spark.read
      .parquet("/tmp/graft-example-out/pricing_summary_xml")
      .collect().map(_.toString).sorted.toSeq
    val viaJson = spark.read
      .parquet("/tmp/graft-example-out/pricing_parquet")
      .collect().map(_.toString).sorted.toSeq
    assert(viaXml.nonEmpty && viaXml == viaJson,
      "XML and JSON specs of the same feed must agree")
    // the chunking feed output obeys the operator's coverage contract
    val chunks = spark.read.parquet("/tmp/graft-example-out/chunked_docs")
    assert(chunks.count() > 0)
    assert(chunks.filter(col("chunk_len") <= 0).count() == 0)
    assert(chunks.filter(col("chunk_start") =!= col("chunk_seq") * 192)
      .count() == 0)
    // the curation feed keeps only classifier-passing docs — a real,
    // non-trivial split of the corpus
    val curated = spark.read.parquet("/tmp/graft-example-out/curation_kept")
    val nDocs = Tables.table(spark, sf0001, "documents").count()
    assert(curated.count() > 0 && curated.count() < nDocs)
    assert(curated.filter(col("score") < 0.5 || col("score") > 1.0)
      .count() == 0, "kept docs must clear the score threshold")
    // the knn feed landed a standing graph: k-bounded lists, no
    // self-edges, one assignment per admitted id
    val knnGraph = spark.read.parquet("/tmp/graft-example-out/knn_graph")
    assert(knnGraph.count() > 0)
    assert(knnGraph.filter(col("rank") > 3).count() == 0)
    assert(knnGraph.filter(col("qid") === col("id")).count() == 0)
    // the zorder maintenance feed re-clustered into exactly 4 files
    val zdir = new java.io.File("/tmp/graft-example-out/lineitem_zordered")
    assert(zdir.listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(spark.read.parquet(zdir.toString).count() ==
      Tables.table(spark, sf0001, "lineitem").count())
    // the quality-gate feed keeps only rule-passing docs
    val gate = spark.read.parquet("/tmp/graft-example-out/quality_gate")
    assert(gate.count() > 0)
    assert(gate.filter(col("n_words") < 55 || col("stop_hits") < 1)
      .count() == 0, "kept docs must satisfy the gate thresholds")
    // the declarative sessionize feed equals the Sessionize operator
    val sess = spark.read.parquet("/tmp/graft-example-out/user_sessions")
      .select("user_id", "session_seq", "n")
      .collect().map(_.toString).toSet
    val want = graft.ops.Sessionize.sessionStats(
        Tables.table(spark, sf0001, "events"), "user_id", "ts", "event_id",
        1800, "value")
      .select("user_id", "session_seq", "n")
      .collect().map(_.toString).toSet
    assert(sess == want && sess.nonEmpty)
    val tiers = spark.read.parquet("/tmp/graft-example-out/nations_by_tier")
    // 25 nations over 5 regions, seeded inline via the 'values' source
    assert(tiers.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("core" -> 10L, "growth" -> 10L, "frontier" -> 5L))
    val norm = spark.read.parquet("/tmp/graft-example-out/normalized_docs")
    assert(norm.count() == 500)
    assert(norm.filter(col("text") =!= lower(col("text"))).count() == 0)
    val pricing = spark.read.parquet("/tmp/graft-example-out/pricing_parquet")
    assert(pricing.count() > 0)
    val seg = spark.read.parquet("/tmp/graft-example-out/seg_rev")
    assert(seg.count() == 5) // five market segments, partitioned layout
  }

  test("column lineage resolves outputs to their leaf view.columns, zero jobs") {
    // the pricing feed: aggregates over lineitem with a filter — every
    // output column must trace to exactly its contributing leaves, and
    // the filter column (l_shipdate) must NOT appear (value lineage)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/examples/pricing_summary_feed.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val spec = PipelineSpec.fromJson(text)
    val lin = PipelineRunner.lineage(spark, spec)
    assert(lin.size == 2) // parquet + csv load, same source view
    val cols = lin.head._2
    assert(cols("sum_qty") == Set("lineitem.l_quantity"))
    assert(cols("sum_base") == Set("lineitem.l_extendedprice"))
    assert(cols("avg_disc") == Set("lineitem.l_discount"))
    assert(cols("l_returnflag") == Set("lineitem.l_returnflag"))
    assert(cols("n") == Set.empty, "COUNT(*) reads no column")
    // multi-source: a join feed attributes each output to its own side,
    // expressions to the union of their references; CTEs resolve
    graft.Tables.register(spark, sf0001)
    val joined = spark.sql(
      """WITH big AS (SELECT o_orderkey, o_custkey, o_totalprice
        |             FROM orders WHERE o_totalprice > 1000)
        |SELECT c.c_name, big.o_orderkey,
        |       big.o_totalprice * 2 AS doubled,
        |       CONCAT(c.c_name, '-', big.o_orderkey) AS tag
        |FROM big JOIN customer c ON big.o_custkey = c.c_custkey""".stripMargin)
    val m = Lineage.columnLineage(joined)
    assert(m("c_name") == Set("customer.c_name"))
    assert(m("o_orderkey") == Set("orders.o_orderkey"))
    assert(m("doubled") == Set("orders.o_totalprice"))
    assert(m("tag") == Set("customer.c_name", "orders.o_orderkey"))
  }

  test("load-side coalesce caps output file count") {
    val out = tmp()
    val spec = s"""{
      "name": "one-file",
      "extracts": [
        {"view": "lineitem", "format": "parquet",
         "path": "$sf0001/lineitem.parquet"}],
      "loads": [
        {"format": "parquet", "path": "$out/one", "coalesce": 1}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val files = new java.io.File(s"$out/one").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, files.mkString(", "))
  }

  test("transform chains compose: each step sees the previous step's view") {
    val out = tmp()
    val spec = s"""{
      "name": "chain",
      "extracts": [
        {"view": "lineitem", "format": "parquet",
         "path": "$sf0001/lineitem.parquet"}],
      "transforms": [
        {"view": "s1", "sql": "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 10"},
        {"view": "s2", "sql": "SELECT l_orderkey, SUM(l_quantity) q FROM s1 GROUP BY l_orderkey"},
        {"view": "s3", "sql": "SELECT COUNT(*) n, ROUND(SUM(q), 2) total FROM s2"}],
      "loads": [{"format": "parquet", "path": "$out/chained"}]
    }"""
    val report = PipelineRunner.runJson(spark, spec)
    assert(report.transforms == 3)
    val row = spark.read.parquet(s"$out/chained").collect()(0)
    val expected = Tables.table(spark, sf0001, "lineitem")
      .filter(col("l_quantity") > 10)
      .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      .agg(count(lit(1)), round(sum("q"), 2)).collect()(0)
    assert(row.getLong(0) == expected.getLong(0))
    assert(row.getDouble(1) == expected.getDouble(1))
    // report serializes to parseable JSON
    val json = PipelineRunner.reportJson(report)
    assert(json.contains("\"name\":\"chain\"") && json.contains("\"transforms\":3"))
  }

  test("T-P5: statusJdbc persists one status row per load through DuckDB JDBC") {
    val out = tmp()
    val db = s"${tmp()}/status5.duckdb"
    val spec = s"""{
      "name": "tp5",
      "statusJdbc": "jdbc:duckdb:$db",
      "extracts": [
        {"view": "nation", "format": "parquet", "path": "$sf0001/nation.parquet"}],
      "transforms": [
        {"view": "t", "sql": "SELECT n_regionkey, COUNT(*) n FROM nation GROUP BY n_regionkey"}],
      "loads": [
        {"format": "parquet", "path": "$out/a"},
        {"format": "csv", "path": "$out/b"}]
    }"""
    val report = PipelineRunner.runJson(spark, spec)
    assert(report.loads.forall(l => l.status == "ok" && l.attempts == 1))
    val status = graft.sources.Sources.read(spark, "jdbc", "", options = Map(
      "url" -> s"jdbc:duckdb:$db", "dbtable" -> "graft_job_status",
      "driver" -> "org.duckdb.DuckDBDriver")).collect()
    assert(status.length == 2)
    val byIdx = status.map(r => r.getAs[Number]("load_idx").intValue() -> r).toMap
    assert(byIdx(0).getAs[String]("status") == "ok")
    assert(byIdx(0).getAs[String]("format") == "parquet")
    assert(byIdx(1).getAs[String]("format") == "csv")
    assert(status.forall(_.getAs[Number]("rows").longValue() > 0))
    assert(status.forall(_.getAs[String]("pipeline") == "tp5"))
  }

  test("T-P6: a flaky load retries with backoff and records the attempt count") {
    FailInjector.reset()
    spark.udf.register("fail_first_call",
      (x: Long) => {
        if (FailInjector.calls.getAndIncrement() == 0)
          throw new RuntimeException("injected transient failure")
        x
      })
    val out = tmp()
    val db = s"${tmp()}/status6.duckdb"
    val spec = s"""{
      "name": "tp6",
      "statusJdbc": "jdbc:duckdb:$db",
      "extracts": [
        {"view": "nation", "format": "parquet", "path": "$sf0001/nation.parquet"}],
      "transforms": [
        {"view": "t", "sql": "SELECT fail_first_call(n_nationkey) k FROM nation"}],
      "loads": [
        {"format": "parquet", "path": "$out/flaky", "retries": 2,
         "retryBackoffMs": 10}]
    }"""
    val report = PipelineRunner.runJson(spark, spec)
    // first attempt hit the injected failure, second succeeded — both
    // visible in the report AND the persisted status row
    assert(report.loads.head.status == "ok")
    assert(report.loads.head.attempts == 2, s"attempts=${report.loads.head.attempts}")
    assert(spark.read.parquet(s"$out/flaky").count() > 0)
    val status = graft.sources.Sources.read(spark, "jdbc", "", options = Map(
      "url" -> s"jdbc:duckdb:$db", "dbtable" -> "graft_job_status",
      "driver" -> "org.duckdb.DuckDBDriver")).collect()
    assert(status.length == 1)
    assert(status.head.getAs[String]("status") == "ok")
    assert(status.head.getAs[Number]("attempts").intValue() == 2)
  }

  test("T-P7: continueOnError isolates a failing load from its siblings") {
    val out = tmp()
    val db = s"${tmp()}/status7.duckdb"
    val spec = s"""{
      "name": "tp7",
      "statusJdbc": "jdbc:duckdb:$db",
      "extracts": [
        {"view": "nation", "format": "parquet", "path": "$sf0001/nation.parquet"}],
      "loads": [
        {"format": "jdbc", "source": "nation", "continueOnError": true,
         "retries": 1, "retryBackoffMs": 10,
         "options": {"url": "jdbc:nosuchdb:broken", "dbtable": "x"}},
        {"format": "parquet", "source": "nation", "path": "$out/ok"}]
    }"""
    val report = PipelineRunner.runJson(spark, spec)
    assert(report.loads.size == 2)
    assert(report.loads(0).status == "failed")
    assert(report.loads(0).attempts == 2, "retry budget exhausted first")
    assert(report.loads(0).error.nonEmpty)
    assert(report.loads(1).status == "ok", "sibling must still run")
    assert(spark.read.parquet(s"$out/ok").count() == 25)
    val status = graft.sources.Sources.read(spark, "jdbc", "", options = Map(
      "url" -> s"jdbc:duckdb:$db", "dbtable" -> "graft_job_status",
      "driver" -> "org.duckdb.DuckDBDriver")).collect()
    assert(status.map(_.getAs[String]("status")).sorted.toSeq ==
      Seq("failed", "ok"))
    val json = PipelineRunner.reportJson(report)
    assert(json.contains("\"status\":\"failed\"") && json.contains("\"attempts\":2"))
  }

  test("T-P8: without continueOnError a failed load aborts AFTER status lands") {
    val out = tmp()
    val db = s"${tmp()}/status8.duckdb"
    val spec = s"""{
      "name": "tp8",
      "statusJdbc": "jdbc:duckdb:$db",
      "extracts": [
        {"view": "nation", "format": "parquet", "path": "$sf0001/nation.parquet"}],
      "loads": [
        {"format": "parquet", "source": "nation", "path": "$out/first"},
        {"format": "jdbc", "source": "nation",
         "options": {"url": "jdbc:nosuchdb:broken", "dbtable": "x"}}]
    }"""
    intercept[PipelineLoadException] {
      PipelineRunner.runJson(spark, spec)
    }
    assert(spark.read.parquet(s"$out/first").count() == 25,
      "the load before the failure completed")
    // the status table still recorded the successful load AND the failure
    val status = graft.sources.Sources.read(spark, "jdbc", "", options = Map(
      "url" -> s"jdbc:duckdb:$db", "dbtable" -> "graft_job_status",
      "driver" -> "org.duckdb.DuckDBDriver")).collect()
    assert(status.map(_.getAs[String]("status")).sorted.toSeq ==
      Seq("failed", "ok"))
    assert(status.find(_.getAs[String]("status") == "failed")
      .get.getAs[String]("error") != null)
  }

  test("T-P9: WinsorizeStage clips per-source n_chars inside a declarative feed") {
    val out = tmp()
    val spec = s"""{
      "name": "tp9",
      "extracts": [
        {"view": "documents", "format": "parquet", "path": "$sf0001/documents.parquet"}],
      "transforms": [
        {"view": "clipped", "className": "graft.pipeline.stages.WinsorizeStage",
         "inputs": ["documents"]}],
      "loads": [
        {"format": "parquet", "path": "$out/clipped"}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val back = spark.read.parquet(s"$out/clipped")
    assert(back.count() == spark.read.parquet(s"$sf0001/documents.parquet").count())
    assert(back.filter(col("n_chars_w") < col("lo") ||
      col("n_chars_w") > col("hi")).count() == 0)
    assert(back.filter(col("n_chars_w") =!= col("n_chars")).count() > 0,
      "the fixture tails should actually clip")
  }

  test("T-P11: QuantileNormalizeStage calibrates per-source scores in a declarative feed") {
    val out = tmp()
    val spec = s"""{
      "name": "tp11",
      "extracts": [
        {"view": "documents", "format": "parquet", "path": "$sf0001/documents.parquet"}],
      "transforms": [
        {"view": "calibrated",
         "className": "graft.pipeline.stages.QuantileNormalizeStage",
         "inputs": ["documents"]},
        {"view": "gated",
         "sql": "SELECT * FROM calibrated WHERE n_chars_qn >= 200"}],
      "loads": [
        {"format": "parquet", "path": "$out/gated"}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val back = spark.read.parquet(s"$out/gated")
    assert(back.count() > 0)
    assert(back.agg(min("n_chars_qn")).head().getDouble(0) >= 200.0)
    assert(back.columns.contains("pct") && back.columns.contains("doc_id"))
  }

  test("T-P12: BenfordGateStage profiles a feed and a SQL gate reads chi2") {
    val out = tmp()
    val spec = s"""{
      "name": "tp12",
      "extracts": [
        {"view": "documents", "format": "parquet", "path": "$sf0001/documents.parquet"}],
      "transforms": [
        {"view": "profile", "className": "graft.pipeline.stages.BenfordGateStage",
         "inputs": ["documents"]},
        {"view": "verdict",
         "sql": "SELECT digit, n, share, chi2, chi2 < 1e9 AS ok FROM profile"}],
      "loads": [
        {"format": "parquet", "path": "$out/verdict"}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val back = spark.read.parquet(s"$out/verdict")
    val digits = back.collect().map(_.getLong(0)).sorted
    assert(digits.nonEmpty && digits.forall(d => d >= 1 && d <= 9))
    // one global chi2 repeated on every digit row, readable by the gate
    assert(back.select("chi2").distinct().count() == 1)
    assert(back.agg(sum("n")).head().getLong(0) ==
      spark.read.parquet(s"$sf0001/documents.parquet")
        .filter(col("n_chars") > 0).count())
  }

  test("dryRun and lineage of the stage feeds start no job past schema reads") {
    // T-P9/T-P11/T-P12/T-P14's stage transforms and the pricing example.
    // A parquet extract without a declared schema infers it with one
    // Spark job per read; everything after the read must be driver-side.
    def stageFeed(cls: String, table: String, options: String = "{}") =
      PipelineSpec.fromJson(s"""{
        "name": "dry",
        "extracts": [
          {"view": "$table", "format": "parquet", "path": "$sf0001/$table.parquet"}],
        "transforms": [
          {"view": "staged", "className": "graft.pipeline.stages.$cls",
           "inputs": ["$table"], "options": $options}],
        "loads": [{"format": "parquet", "path": "${tmp()}/dry"}]
      }""")
    val specs = Seq(
      stageFeed("WinsorizeStage", "documents"),
      stageFeed("QuantileNormalizeStage", "documents"),
      stageFeed("BenfordGateStage", "documents"),
      stageFeed("KAnonymityGateStage", "customer",
        """{"quasiCols": "c_nationkey,c_mktsegment",
           "sensitiveCol": "c_acctbal", "k": "5"}"""),
      PipelineSpec.fromJson(java.nio.file.Files.readString(
        java.nio.file.Path.of("examples/pricing_summary_feed.json"))))
    for (spec <- specs) {
      val reads = jobsStartedBy(spec.extracts.foreach(e =>
        graft.sources.Sources.read(spark, e.format, e.path, e.schema, e.options)))
      val stage = spec.transforms.head.className.getOrElse(spec.name)
      assert(jobsStartedBy(PipelineRunner.dryRun(spark, spec)) == reads,
        s"dryRun of $stage")
      assert(jobsStartedBy(PipelineRunner.lineage(spark, spec)) == reads,
        s"lineage of $stage")
    }
  }

  test("T-P14: KAnonymityGateStage audits classes via spec options") {
    val out = tmp()
    val spec = s"""{
      "name": "tp14",
      "extracts": [
        {"view": "customer", "format": "parquet", "path": "$sf0001/customer.parquet"}],
      "transforms": [
        {"view": "audit", "className": "graft.pipeline.stages.KAnonymityGateStage",
         "inputs": ["customer"],
         "options": {"quasiCols": "c_nationkey,c_mktsegment",
                     "sensitiveCol": "c_acctbal", "k": "5"}},
        {"view": "verdict",
         "sql": "SELECT c_nationkey, c_mktsegment, n, l_diversity, risky FROM audit"}],
      "loads": [
        {"format": "parquet", "path": "$out/audit"}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val back = spark.read.parquet(s"$out/audit")
    val total = back.agg(sum("n")).head().getLong(0)
    assert(total == spark.read.parquet(s"$sf0001/customer.parquet").count())
    // risky flag consistent with n < 5
    assert(back.filter(col("risky") =!= (col("n") < 5)).count() == 0)
    // missing required option fails fast
    intercept[Exception] {
      PipelineRunner.runJson(spark, s"""{
        "name": "bad",
        "extracts": [
          {"view": "customer", "format": "parquet", "path": "$sf0001/customer.parquet"}],
        "transforms": [
          {"view": "audit", "className": "graft.pipeline.stages.KAnonymityGateStage",
           "inputs": ["customer"]}],
        "loads": [{"format": "parquet", "path": "$out/bad"}]
      }""")
    }
  }

  test("T-P15: MixtureGateStage checks the landed mix against its recipe") {
    val out = tmp()
    val spec = s"""{
      "name": "tp15",
      "extracts": [
        {"view": "documents", "format": "parquet", "path": "$sf0001/documents.parquet"}],
      "transforms": [
        {"view": "fit", "className": "graft.pipeline.stages.MixtureGateStage",
         "inputs": ["documents"],
         "options": {"catCol": "lang",
                     "targets": "en:0.5,de:0.2,fr:0.15,es:0.1,zh:0.05"}},
        {"view": "verdict", "sql": "SELECT k, n, chi2 FROM fit"}],
      "loads": [
        {"format": "parquet", "path": "$out/fit"}]
    }"""
    PipelineRunner.runJson(spark, spec)
    val back = spark.read.parquet(s"$out/fit").head()
    assert(back.getAs[Long]("k") == 5L)
    assert(back.getAs[Long]("n") ==
      spark.read.parquet(s"$sf0001/documents.parquet").count())
    assert(back.getAs[Double]("chi2") >= 0.0)
    // an observed category the recipe does not know fails the load
    intercept[Exception] {
      PipelineRunner.runJson(spark, s"""{
        "name": "tp15bad",
        "extracts": [
          {"view": "documents", "format": "parquet", "path": "$sf0001/documents.parquet"}],
        "transforms": [
          {"view": "fit", "className": "graft.pipeline.stages.MixtureGateStage",
           "inputs": ["documents"],
           "options": {"catCol": "lang", "targets": "en:0.5,de:0.5"}}],
        "loads": [{"format": "parquet", "path": "$out/bad"}]
      }""")
    }
  }

  test("spec validation rejects malformed pipelines") {
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson("""{"name":"x","extracts":[]}""")
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"name":"x","extracts":[{"view":"v","format":"parquet","path":"p"}],
           "transforms":[{"view":"t"}]}""")
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.fromJson(
        """{"name":"x","extracts":[{"view":"v","format":"parquet","path":"p"}],
           "loads":[{"format":"parquet","path":"o","source":"nope"}]}""")
    }
  }

  test("T-P19: declarative scd2 load maintains a validity-interval " +
      "dimension; identical re-apply is a no-op") {
    val out = tmp() + "/dim"
    def spec(rows: Seq[String]) = PipelineSpec("tp19",
      extracts = Seq(ExtractSpec("updates", "values",
        path = rows.mkString("\n"),
        schema = Some("k BIGINT, city STRING, ts BIGINT"))),
      loads = Seq(LoadSpec("parquet", out, mode = "scd2",
        key = Some("k"), versionCol = Some("ts"),
        scdAttrs = Seq("city"))))
    // first batch bootstraps: every key inserts as an open row
    val r1 = PipelineRunner.run(spark, spec(Seq(
      """{"k":1,"city":"ams","ts":10}""",
      """{"k":2,"city":"nyc","ts":10}""")))
    assert(r1.loads.head.rows == 2L)
    def rows() = spark.read.parquet(out).collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("city"),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong))).toSet
    assert(rows() == Set((1L, "ams", 10L, None), (2L, "nyc", 10L, None)))
    // second batch: k=1 changes (close + open), k=2 identical (no-op),
    // k=3 new (open)
    PipelineRunner.run(spark, spec(Seq(
      """{"k":1,"city":"ber","ts":20}""",
      """{"k":2,"city":"nyc","ts":20}""",
      """{"k":3,"city":"sfo","ts":20}""")))
    val after = rows()
    assert(after == Set(
      (1L, "ams", 10L, Some(20L)), (1L, "ber", 20L, None),
      (2L, "nyc", 10L, None), (3L, "sfo", 20L, None)), after)
    // re-applying the same batch changes nothing (idempotent landing)
    PipelineRunner.run(spark, spec(Seq(
      """{"k":1,"city":"ber","ts":20}""",
      """{"k":2,"city":"nyc","ts":20}""",
      """{"k":3,"city":"sfo","ts":20}""")))
    assert(rows() == after)
    // validation: scdAttrs required; parquet-only
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "scd2",
          key = Some("k"), versionCol = Some("ts")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("csv", out, mode = "scd2",
          key = Some("k"), versionCol = Some("ts"),
          scdAttrs = Seq("city")))))
    }
    // scdAttrs must be disjoint from key/versionCol and the reserved
    // validity columns — a clash would bootstrap a corrupt dimension
    for (bad <- Seq(Seq("k"), Seq("ts"), Seq("valid_from"),
        Seq("city", "valid_to"), Seq("city", "city"))) {
      intercept[IllegalArgumentException] {
        PipelineSpec.validate(PipelineSpec("bad3",
          extracts = Seq(ExtractSpec("u", "values", "{}")),
          loads = Seq(LoadSpec("parquet", out, mode = "scd2",
            key = Some("k"), versionCol = Some("ts"),
            scdAttrs = bad))))
      }
    }
  }

  test("T-P20: declarative compact load shrinks file count in place, " +
      "data identical") {
    import org.apache.spark.sql.functions.col
    val dir = tmp() + "/files"
    spark.range(20000).toDF("id")
      .withColumn("v", col("id") % 100)
      .repartition(16).write.parquet(dir)
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 16)
    val sum0 = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("id")).collect()(0).getLong(0)
    val r = PipelineRunner.run(spark, PipelineSpec("tp20",
      extracts = Seq(ExtractSpec("t", "parquet", path = dir)),
      loads = Seq(LoadSpec("parquet", dir, mode = "compact",
        source = Some("t"), compactSortCol = Some("id")))))
    assert(r.loads.head.rows == 20000L)
    assert(parquetFiles() < before,
      s"file count must shrink: $before -> ${parquetFiles()}")
    val sum1 = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("id")).collect()(0).getLong(0)
    assert(sum1 == sum0 &&
      spark.read.parquet(dir).count() == 20000L)
    // validation: non-positive target bytes
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("t", "parquet", path = dir)),
        loads = Seq(LoadSpec("parquet", dir, mode = "compact",
          source = Some("t"), compactTargetBytes = Some(0L)))))
    }
  }

  test("T-P21: declarative ivf load lands a standing assignment table " +
      "(re-apply no-op, equals batch ivfAssign, crash-repairable swap, " +
      "optional PQ codes)") {
    import spark.implicits._
    val base = tmp()
    val out = s"$base/assign"
    Tables.register(spark, sf0001)
    val emb = Tables.table(spark, sf0001, "embeddings")
    emb.filter(col("vec_id") < 100).write.parquet(s"$base/b1")
    emb.filter(col("vec_id") < 160).write.parquet(s"$base/b2") // 60 new
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    def spec(src: String, cb: Option[String] = None, path: String = out) =
      PipelineSpec("tp21",
        extracts = Seq(
          ExtractSpec("batch", "parquet", path = src),
          ExtractSpec("embAll", "parquet",
            path = s"$sf0001/embeddings.parquet")) ++
          cb.map(p => ExtractSpec("cb", "parquet", path = p)),
        transforms = Seq(TransformSpec("cents", sql = Some(
          """SELECT CAST(vec_id AS INT) AS cell,
            |CAST(embedding AS ARRAY<DOUBLE>) AS centroid
            |FROM embAll WHERE vec_id < 8""".stripMargin))),
        loads = Seq(LoadSpec("parquet", path, mode = "ivf",
          source = Some("batch"), key = Some("vec_id"),
          vecCol = Some("embedding"), centroids = Some("cents"),
          codebooks = cb.map(_ => "cb"))))
    val r1 = PipelineRunner.run(spark, spec(s"$base/b1"))
    def cells(path: String) = spark.read.parquet(path)
      .select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val exp1 = graft.ops.Similarity.ivfAssign(
        emb.filter(col("vec_id") < 100), "vec_id", "embedding", cents)
      .select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cells(out) == exp1 && r1.loads.head.rows == 100L)
    // re-apply: nothing admitted, table unchanged
    PipelineRunner.run(spark, spec(s"$base/b1"))
    assert(cells(out) == exp1)
    // crash mid-swap: main dir moved aside (the rename-old window of
    // writeParquetSwapped) — the next run must repair, then no-op
    val fs = new java.io.File(out)
    val oldDir = new java.io.File(s"$base/.assign__swap_old")
    assert(fs.renameTo(oldDir))
    PipelineRunner.run(spark, spec(s"$base/b1"))
    assert(cells(out) == exp1 && !oldDir.exists)
    // superset batch: only the 60 new ids gain rows; standing rows
    // keep their cells (frozen quantizer — the append contract)
    PipelineRunner.run(spark, spec(s"$base/b2"))
    val all = cells(out)
    assert(all.map(_._1) == (0L until 160L).toSet)
    assert(all.filter(_._1 < 100) == exp1)
    // PQ-coded variant: the code column equals frozen-codebook encode
    val (_, cbs) = graft.ops.Similarity.pqIndex(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding",
      m = 4, kCent = 8, trainSample = 64)
    graft.ops.Similarity.pqCodebooks(cbs, spark)
      .write.parquet(s"$base/cb")
    val out2 = s"$base/assign_pq"
    PipelineRunner.run(spark,
      spec(s"$base/b1", cb = Some(s"$base/cb"), path = out2))
    val gotCodes = spark.read.parquet(out2).select("id", "code")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val expCodes = graft.ops.Similarity.pqAssign(
        emb.filter(col("vec_id") < 100), "vec_id", "embedding", cbs)
      .select("id", "code").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(gotCodes == expCodes)
    // validation: centroids required; unknown codebooks view rejected
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "ivf",
          key = Some("vec_id"), vecCol = Some("embedding")))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "ivf",
          key = Some("vec_id"), vecCol = Some("embedding"),
          centroids = Some("u"), codebooks = Some("nosuchview")))))
    }
  }

  test("T-P23: lifecycle-composed feed — centroidsBase resolves the " +
      "committed version at run start; a committed retrain re-keys the " +
      "standing table under v+1 on the next run; re-apply stays a no-op") {
    import graft.ops.{IndexLifecycle, Similarity}
    val base = tmp()
    val idx = s"$base/idx"
    val out = s"$base/assign"
    Tables.register(spark, sf0001)
    val emb = Tables.table(spark, sf0001, "embeddings")
    emb.filter(col("vec_id") < 100).write.parquet(s"$base/b1")
    emb.filter(col("vec_id") < 160).write.parquet(s"$base/b2")
    def spec(src: String) = PipelineSpec("tp23",
      extracts = Seq(ExtractSpec("batch", "parquet", path = src)),
      loads = Seq(LoadSpec("parquet", out, mode = "ivf",
        source = Some("batch"), key = Some("vec_id"),
        vecCol = Some("embedding"), centroidsBase = Some(idx))))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    def landed() = spark.read.parquet(out)
    def landedVersions() = landed().select("index_version").distinct()
      .collect().map(_.getInt(0)).toSeq
    // no committed version yet: the feed fails loudly, lands nothing
    intercept[Exception] { PipelineRunner.run(spark, spec(s"$base/b1")) }
    assert(!new java.io.File(out).exists)
    // v1 commit, then the feed assigns under the resolved version
    IndexLifecycle.retrain(spark, idx, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", nlist = 8, trainSample = 64)
    val r1 = PipelineRunner.run(spark, spec(s"$base/b1"))
    val (v1, c1, _) = IndexLifecycle.resolve(spark, idx)
    assert(v1 == 1 && r1.loads.head.rows == 100L)
    val exp1 = cells(Similarity.ivfAssign(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", c1))
    assert(cells(landed()) == exp1 && landedVersions() == Seq(1))
    // re-apply: nothing admitted, version unchanged
    PipelineRunner.run(spark, spec(s"$base/b1"))
    assert(cells(landed()) == exp1 && landedVersions() == Seq(1))
    // committed retrain on the drifted corpus: BETWEEN the retrain and
    // the next feed run the standing table is untouched — still the v1
    // assignment, fully readable (the crash-window contract)
    IndexLifecycle.retrain(spark, idx, emb.filter(col("vec_id") < 160),
      "vec_id", "embedding", nlist = 8, trainSample = 64)
    assert(cells(landed()) == exp1 && landedVersions() == Seq(1))
    // next feed run: re-keys the WHOLE standing table under v2 and
    // admits the 60 new ids — one swapped write, uniform version
    PipelineRunner.run(spark, spec(s"$base/b2"))
    val (v2, c2, _) = IndexLifecycle.resolve(spark, idx)
    assert(v2 == 2)
    val exp2 = cells(Similarity.ivfAssign(
      emb.filter(col("vec_id") < 160), "vec_id", "embedding", c2))
    assert(cells(landed()) == exp2 && landedVersions() == Seq(2))
    // re-apply after the bump: still a no-op
    PipelineRunner.run(spark, spec(s"$base/b2"))
    assert(cells(landed()) == exp2 && landedVersions() == Seq(2))
    // validation: both or neither centroid source is rejected
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "ivf",
          key = Some("k"), vecCol = Some("v"),
          centroids = Some("u"), centroidsBase = Some(idx)))))
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.validate(PipelineSpec("bad2",
        extracts = Seq(ExtractSpec("u", "values", "{}")),
        loads = Seq(LoadSpec("parquet", out, mode = "knn",
          key = Some("k"), vecCol = Some("v")))))
    }
  }

  test("T-P22: versioned quantizer re-train — the live version stays " +
      "replayable, v+1 commits atomically, an uncommitted half-landing " +
      "is invisible") {
    import graft.ops.IndexLifecycle
    val base = tmp() + "/idx"
    Tables.register(spark, sf0001)
    val emb = Tables.table(spark, sf0001, "embeddings")
    val emb1 = emb.filter(col("vec_id") < 100)
    assert(IndexLifecycle.currentVersion(spark, base).isEmpty)
    val r1 = IndexLifecycle.retrain(spark, base, emb1,
      "vec_id", "embedding", nlist = 8, trainSample = 64)
    assert(r1.fromVersion.isEmpty && r1.toVersion == 1 && r1.rows == 100L)
    val (v1, c1, a1) = IndexLifecycle.resolve(spark, base)
    assert(v1 == 1)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    // the landed assignment replays from the landed centroids alone
    val v1Cells = cellSet(a1)
    assert(v1Cells == cellSet(graft.ops.Similarity.ivfAssign(
      emb1, "vec_id", "embedding", c1)))
    // a crashed retrain = half-landed v2 tables WITHOUT the marker:
    // invisible to version resolution
    c1.write.parquet(IndexLifecycle.centroidsPath(base, 2))
    assert(IndexLifecycle.currentVersion(spark, base).contains(1))
    // the re-run retrains v2 (drifted corpus), overwrites the half
    // landing, and commits; v1 tables are untouched
    val r2 = IndexLifecycle.retrain(spark, base,
      emb.filter(col("vec_id") < 160), "vec_id", "embedding",
      nlist = 8, trainSample = 64)
    assert(r2.fromVersion.contains(1) && r2.toVersion == 2 &&
      r2.rows == 160L)
    assert(cellSet(spark.read.parquet(
      IndexLifecycle.assignPath(base, 1))) == v1Cells,
      "the old version must stay bit-replayable after a retrain")
    val (v2, c2, a2) = IndexLifecycle.resolve(spark, base)
    assert(v2 == 2 && a2.count() == 160L)
    assert(cellSet(a2) == cellSet(graft.ops.Similarity.ivfAssign(
      emb.filter(col("vec_id") < 160), "vec_id", "embedding", c2)))
    // prune drops only the superseded version
    assert(IndexLifecycle.prune(spark, base) == Seq(1))
    assert(!new java.io.File(IndexLifecycle.assignPath(base, 1)).exists)
    assert(IndexLifecycle.resolve(spark, base)._1 == 2)
  }

  test("T-P22b: stray non-numeric markers are ignored; a duplicate " +
      "commit of the same version throws and leaves the live version " +
      "unchanged (single-maintainer guard)") {
    import graft.ops.IndexLifecycle
    val base = tmp() + "/idx"
    Tables.register(spark, sf0001)
    val emb = Tables.table(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 60)
    IndexLifecycle.retrain(spark, base, emb, "vec_id", "embedding",
      nlist = 4, trainSample = 64)
    assert(IndexLifecycle.currentVersion(spark, base).contains(1))
    // stray files that match the old loose prefix/suffix test but not
    // the numeric contract must be IGNORED, not NumberFormatException
    // (ADVICE r14): editor backups, tmp markers, non-marker junk
    new java.io.File(base, "vtmp.committed").createNewFile()
    new java.io.File(base, "v2x.committed").createNewFile()
    new java.io.File(base, "v.committed").createNewFile()
    assert(IndexLifecycle.currentVersion(spark, base).contains(1))
    assert(IndexLifecycle.resolve(spark, base)._1 == 1)
    // the collision guard: a second commit of an already-committed
    // version fails loudly (overwrite=false create), live unchanged
    val e = intercept[IllegalStateException] {
      IndexLifecycle.commitMarker(spark, base, 1)
    }
    assert(e.getMessage.contains("commit collision"))
    assert(IndexLifecycle.currentVersion(spark, base).contains(1))
    // prune must also skip the stray names (it rescans the dir)
    IndexLifecycle.retrain(spark, base, emb, "vec_id", "embedding",
      nlist = 4, trainSample = 64)
    assert(IndexLifecycle.prune(spark, base) == Seq(1))
    assert(IndexLifecycle.resolve(spark, base)._1 == 2)
  }
}
