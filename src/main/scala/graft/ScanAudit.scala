package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Corpus-wide duplicate-scan audit.
  *
  *   java -cp ... graft.ScanAudit [sfDir] [queryName ...]
  *
  * For every corpus query (or the named subset) it compiles the physical
  * plan and counts parquet scans per source table, INCLUDING scans inside
  * subquery expressions. Catalyst does not dedupe common subplans, so a
  * frame consumed by k branches without a materialization cut re-reads
  * (and re-projects) its whole upstream k times — exactly the q238
  * cohenKappa triple-scan this tool was built to catch, and the class of
  * waste that multiplies at 100 TB where a scan is the dominant cost.
  *
  * Output: one line per (query, table) with count >= 2, sorted by count.
  * Not a hard gate: self-joins, A-vs-B drift comparisons and
  * union-of-branches legitimately scan a table twice; the report exists
  * so every multi-scan is a reviewed decision instead of an accident.
  * AQE is disabled and the traversal runs on `queryExecution.sparkPlan`
  * (pre-preparation) so the audit sees the static plan: the
  * ReuseExchange/ReuseSubquery PREPARATION rules (applied even with AQE
  * off when building executedPlan) replace duplicate subtrees with
  * Reused* leaves and would undercount. Runtime ReusedExchange can
  * rescue SOME duplicates, but (as the round-10 rank desync showed)
  * exchange reuse is an optimizer accident, not a guarantee, and a
  * scale design should not lean on it.
  */
object ScanAudit {
  private def nameOf(loc: org.apache.spark.sql.execution.datasources.FileIndex)
      : String =
    loc.rootPaths.headOption
      .map(_.getName.replaceAll("\\.parquet$", "")).getOrElse("?")

  def tableOf(s: FileSourceScanExec): String = nameOf(s.relation.location)

  /** Static scan counts per table, including scans inside subquery
    * expressions. Manual traversal rather than `collectWithSubqueries`:
    * a pre-execution physical plan can still carry LOGICAL plans inside
    * subquery expressions (planned lazily at execution), and the typed
    * collect ClassCastExceptions on them — so both plan families are
    * walked, counting FileSourceScanExec on the physical side and
    * HadoopFsRelation-backed LogicalRelation on the logical side.
    * [[graft.ops.Cut]]'s cuts of both kinds are opaque here BY DESIGN —
    * hiding the upstream scan is exactly what the cut is for (a cut
    * frame is computed once however many branches consume it, so the
    * rule-3 duplicate-COST audit must not see through it).
    *
    * `throughCache = true` flips that for PROVENANCE questions (the
    * rule-4 same-frame-join detector — VERDICT r12 item 2): an
    * InMemoryTableScanExec / logical InMemoryRelation descends into
    * its cachedPlan, so a `Cut.rows` ahead of a quadratic self-join
    * cannot hide that both sides read the same base tables. The
    * descent attributes the CACHED plan's scans to every consumer —
    * wrong for cost counting, right for same-lineage detection.
    * `Cut.summary` cuts stay opaque in both modes (an eager checkpoint's
    * LogicalRDD has no plan left to walk). */
  def scanCounts(p: SparkPlan,
                 throughCache: Boolean = false): Map[String, Int] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def visit(node: QueryPlan[_]): Unit = {
      node match {
        case s: FileSourceScanExec => seen += tableOf(s)
        case t: InMemoryTableScanExec if throughCache =>
          visit(t.relation.cachedPlan)
        case r: InMemoryRelation if throughCache =>
          visit(r.cachedPlan)
        case a: AdaptiveSparkPlanExec if throughCache =>
          // a cached plan that contains an exchange is wrapped in an
          // AQE node, which is a LEAF — walk its input plan or the
          // cache descent stops one level in
          visit(a.inputPlan)
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => seen += nameOf(h.location)
          case _ =>
        }
        case _ =>
      }
      node.children.foreach {
        case c: QueryPlan[_] => visit(c)
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case pe: PlanExpression[_] => pe.plan match {
          case qp: QueryPlan[_] => visit(qp)
          case _ =>
        }
        case _ =>
      })
    }
    visit(p)
    seen.groupBy(identity).map { case (t, xs) => (t, xs.size) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else Set.empty[String]
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = if (names.isEmpty) SparkEntry.corpus
      else SparkEntry.corpus.filter(q => names(q.name))
    val rows = qs.flatMap { q =>
      try {
        // sparkPlan, NOT executedPlan: the ReuseExchange/ReuseSubquery
        // preparation rules replace duplicate subtrees with Reused*
        // leaves, so the executed plan UNDERcounts duplicate scans —
        // PlanLintSuite's gate counts sparkPlan; the tool must match.
        val plan = q.fn(spark, sfDir).queryExecution.sparkPlan
        scanCounts(plan).collect {
          case (t, n) if n >= 2 => (q.name, t, n)
        }
      } catch {
        case e: Throwable =>
          println(s"ERROR ${q.name}: ${e.getClass.getSimpleName}")
          Nil
      }
    }
    rows.sortBy(-_._3).foreach { case (q, t, n) => println(f"$n%3d  $q%-28s $t") }
    println(s"-- ${rows.size} (query, table) pairs with >=2 scans over ${qs.size} queries")
    spark.stop()
  }
}
