package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule (registered by [[graft.GraftExtensions]] via
  * `injectRuntimeOptimizerRule`): sort a small ORDER BY result on one
  * partition instead of range-partitioning it.
  *
  * A global `Sort` plans as a range exchange. Its `RangePartitioner`
  * first runs a sampling job that recomputes the sort's whole input, and
  * the shuffle then computes that input again. Once every stage below the
  * sort has run, AQE knows the input's real size; when it is small, this
  * rule rewrites
  *
  * {{{
  * Sort(order, global = true, child)
  *   ⇒ Sort(order, global = true, Repartition(1, shuffle = true, child))
  * }}}
  *
  * `SinglePartition` satisfies the sort's `OrderedDistribution`, so no
  * range exchange is planned: no sampling job, no recompute, one job
  * fewer. The rows and their order are the same.
  *
  * Fires only when
  *  - every leaf of `child` is a materialized [[LogicalQueryStage]], so
  *    the sizes are runtime statistics, not estimates;
  *  - every operator between the sort and those stages has a size
  *    estimate that bounds its output ([[bounded]]); a `Generate` or a
  *    typed map keeps the range sort, its estimate ignores the rows it
  *    adds;
  *  - `child.stats.sizeInBytes` is at most the AQE broadcast threshold
  *    (`spark.sql.adaptive.autoBroadcastJoinThreshold`, falling back to
  *    `spark.sql.autoBroadcastJoinThreshold`; a negative one turns the rule
  *    off, as it turns broadcasts off). That is the size Spark already
  *    ships whole to every executor, so one reducer never receives
  *    data-sized input.
  *
  * Leaves alone a sort under a limit (already `TakeOrderedAndProject`); a
  * sort over a user's `repartition`, `repartitionByRange` or rebalance,
  * which [[bounded]] does not list; and a sort right over a stage that
  * already satisfies its order, such as a range exchange that already
  * ran. The last two also cover the rule's own output, before and after
  * its stage runs, so the rule is idempotent. Only AQE runs runtime rules,
  * so with AQE off, and in streaming, plans are unchanged (DESIGN.md
  * "Runtime plan rules").
  */
class SmallSortOnePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    rewrite(plan, underLimit = false,
      conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
        .getOrElse(conf.autoBroadcastJoinThreshold))

  private def rewrite(p: LogicalPlan, underLimit: Boolean, threshold: Long)
      : LogicalPlan = p match {
    case s @ Sort(order, true, child, _) if !underLimit && !satisfied(child, order) &&
        bounded(child) && child.stats.sizeInBytes <= threshold =>
      s.copy(child = Repartition(1, shuffle = true, child))
    case _ =>
      val limit = p match {
        case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => true
        case _: Project => underLimit
        case _ => false
      }
      p.mapChildren(rewrite(_, limit, threshold))
  }

  /** A stage right below the sort that already satisfies its order. */
  private def satisfied(child: LogicalPlan, order: Seq[SortOrder]): Boolean =
    child match {
      case s: LogicalQueryStage =>
        s.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order))
      case _ => false
    }

  /** Materialized stages at every leaf, and only operators whose size
    * estimate bounds their output in between. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage => s.isMaterialized
    case Sort(_, false, _, _) | _: Project | _: Filter | _: Aggregate | _: Window |
         _: Join | _: Union | _: Deduplicate | _: SubqueryAlias =>
      p.children.forall(bounded)
    case _ => false
  }
}
