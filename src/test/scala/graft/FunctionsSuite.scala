package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the engine's custom functions (SURVEY.md §2.8b):
  * cosine_similarity (Catalyst expression, U1), shingles (generator, U3),
  * geomean (Aggregator, U2) — each checked against an independent plain-Scala
  * reference implementation over generated inputs (deterministic seeds; the
  * scalatest/scalacheck bridge artifact is not in the offline cache, so we
  * drive Gen directly).
  */
class FunctionsSuite extends SparkTestBase {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def naiveCosine(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private val vecGen: Gen[List[Double]] =
    Gen.choose(1, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-10.0, 10.0).suchThat(v => !v.isNaN)))

  test("cosine_similarity matches naive Scala reference on generated doubles") {
    functions.Registry.registerAll(spark)
    import spark.implicits._
    val pairs = samples(Gen.zip(vecGen, vecGen), 30)
      .map { case (a, b) =>
        val n = math.min(a.length, b.length); (a.take(n), b.take(n))
      }
      .filter { case (a, b) => a.exists(_ != 0.0) && b.exists(_ != 0.0) }
    assert(pairs.size >= 20)
    // One job for all sampled pairs — rows carry the index for attribution.
    val got = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b")
      .selectExpr("i", "cosine_similarity(a, b) AS c")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(got(i) - naiveCosine(a, b)) < 1e-12, s"pair $i")
    }
  }

  test("cosine_similarity on float32 arrays accumulates in double") {
    functions.Registry.registerAll(spark)
    import spark.implicits._
    val a = Array.fill(128)(0.1f)
    val b = Array.fill(128)(0.1f)
    val got = Seq((a, b)).toDF("a", "b")
      .selectExpr("cosine_similarity(a, b) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(got - 1.0) < 1e-9)
  }

  test("cosine_similarity is null-safe") {
    functions.Registry.registerAll(spark)
    val rows = spark.sql(
      "SELECT cosine_similarity(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d, 2.0d)) c")
      .collect()
    assert(rows(0).isNullAt(0))
  }

  test("cosine_similarity yields NULL on zero-norm input in both paths") {
    functions.Registry.registerAll(spark)
    // codegen path
    val viaCodegen = spark.sql(
      """SELECT cosine_similarity(array(0.0d, 0.0d), array(1.0d, 2.0d)) a,
        |       cosine_similarity(array(1.0d, 2.0d), array(0.0d, 0.0d)) b,
        |       cosine_similarity(array(0.0d, 0.0d), array(0.0d, 0.0d)) c""".stripMargin)
      .collect()(0)
    assert(viaCodegen.isNullAt(0) && viaCodegen.isNullAt(1) && viaCodegen.isNullAt(2))
    // interpreted path (eval through a literal fold at the driver)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = functions.CosineSimilarity(
      Literal.create(Array(0.0, 0.0)), Literal.create(Array(1.0, 2.0)))
    assert(e.eval(null) == null)
  }

  test("shingles matches sliding-window reference") {
    functions.Registry.registerAll(spark)
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two", "single", "", "a b c d")
    for (txt <- texts; n <- Seq(2, 3)) {
      val expected = txt.split(" ").filter(_.nonEmpty).sliding(n).toSeq
        .filter(_.length == n).map(_.mkString(" "))
      val got = Seq(txt).toDF("t")
        .selectExpr(s"shingles(t, $n)").as[String].collect().toSeq
      assert(got == expected, s"text='$txt' n=$n")
    }
  }

  test("shingles of null / non-positive n emit no rows") {
    functions.Registry.registerAll(spark)
    assert(spark.sql(
      "SELECT shingles(CAST(NULL AS STRING), 3)").collect().isEmpty)
    assert(spark.sql("SELECT shingles('a b c', 0)").collect().isEmpty)
  }

  test("count_min_sketch heavy hitters: estimates bounded by eps over true counts") {
    // The engine-native frequency sketch for 100 TB heavy-hitter queries:
    // estimate(t) >= true(t) always, and <= true(t) + eps*N with high
    // probability. Verified against exact token counts on the fixture.
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    Tables.register(spark, sf0001)
    val toks = spark.sql(
      "SELECT explode(split(text, ' ')) w FROM documents").filter(col("w") =!= "")
    val eps = 0.001
    val bytes = toks.agg(
      expr(s"count_min_sketch(w, ${eps}d, 0.99d, 42)")).head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    val exact = toks.groupBy("w").count().orderBy(desc("count"), col("w"))
      .limit(20).as[(String, Long)].collect()
    val n = toks.count()
    exact.foreach { case (w, c) =>
      val est = cms.estimateCount(w)
      assert(est >= c, s"$w: sketch underestimated $est < $c")
      assert(est <= c + (eps * n).toLong + 1,
        s"$w: estimate $est exceeds bound ${c + (eps * n).toLong}")
    }
  }

  test("geomean equals exp(avg(ln(x))) on lineitem quantities") {
    functions.Registry.registerAll(spark)
    Tables.register(spark, sf0001)
    val rows = spark.sql(
      """SELECT l_returnflag,
        |       geomean(l_quantity) gm,
        |       EXP(AVG(LN(l_quantity))) ref
        |FROM lineitem GROUP BY l_returnflag""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9, r.getString(0))
    }
  }

  test("a second pass over 120 distinct generated classes compiles none") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // one whole-stage class per query, made distinct by its inlined
    // literals: 120 overflow Spark's default cache (100 entries in 4
    // segments) but fit in EtlSession.CodegenCachePin's
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 120).foreach(i =>
        spark.range(3).selectExpr(s"id * $i + ${i * 7} AS x").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first >= 80, s"the first pass compiled only $first classes")
    assert(pass() == 0)
  }

  test("Registry.registerAll twice: second call replaces nothing, all resolve") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fr = spark.sessionState.functionRegistry
    functions.Registry.registerAll(spark)
    val names = fr.listFunction()
    // a re-registration would build a fresh ExpressionInfo for the name
    val infos = names.map(n => n -> fr.lookupFunction(n).get).toMap
    functions.Registry.registerAll(spark)
    assert(fr.listFunction() == names)
    infos.foreach { case (n, info) =>
      assert(fr.lookupFunction(n).get eq info, s"$n was registered again")
    }
    Seq("cosine_similarity", "bloom_agg", "geomean").foreach(n =>
      assert(fr.functionExists(FunctionIdentifier(n)), n))
    val Row(cos: Double, hit: Boolean, miss: Boolean, gm: Double) = spark.sql(
      """WITH b AS (SELECT bloom_agg(xxhash64(id)) f FROM range(100))
        |SELECT cosine_similarity(array(3.0D, 4.0D), array(6.0D, 8.0D)),
        |       bloom_might_contain((SELECT f FROM b), xxhash64(7L)),
        |       bloom_might_contain((SELECT f FROM b), xxhash64(-7L)),
        |       (SELECT geomean(CAST(v AS DOUBLE))
        |        FROM VALUES (2), (8) t(v))""".stripMargin).head()
    assert(math.abs(cos - 1.0) < 1e-12 && hit && !miss)
    assert(math.abs(gm - 4.0) < 1e-12)
  }

  test("approx_count_distinct within 5% of exact") {
    Tables.register(spark, sf001)
    val Row(approx: Long, exact: Long) = spark.sql(
      """SELECT APPROX_COUNT_DISTINCT(l_partkey), COUNT(DISTINCT l_partkey)
        |FROM lineitem""".stripMargin).collect()(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05)
  }

  test("normalize_ts: SQL twin matches Tables.tsNormalized on the fixture " +
      "and truncates nanos-as-long identically") {
    functions.Registry.registerAll(spark)
    // current fixture layout: SQL function ≡ the batch/streaming Column helper
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    raw.createOrReplaceTempView("events_raw_nts")
    val viaSql = spark.sql(
      "SELECT event_id, normalize_ts(ts) ts FROM events_raw_nts")
    val viaHelper = raw.select(col("event_id"),
      Tables.tsNormalized(raw.schema).as("ts"))
    assert(viaSql.exceptAll(viaHelper).isEmpty &&
      viaHelper.exceptAll(viaSql).isEmpty)
    // legacy layout branch: a BIGINT input is nanos and must floor to µs
    val Row(ts: java.sql.Timestamp) = spark.sql(
      "SELECT normalize_ts(1700000000123456789)").collect()(0)
    assert(ts.getTime == 1700000000123L) // ms part of the truncated µs value
    assert(ts.getNanos == 123456000)     // ns floor-truncated to µs precision
  }
}
