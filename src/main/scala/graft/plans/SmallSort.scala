package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Optimizer rule: a global ORDER BY over a small input sorts in one task.
  *
  * Spark plans a global `Sort` over a range exchange: one job samples the
  * input for the RangePartitioner's bounds, one stage shuffles by range,
  * then every partition sorts. Over a few thousand rows that fixed cost is
  * most of the query. When the Sort's input is at most
  * `spark.sql.autoBroadcastJoinThreshold`, the rule puts
  * `Repartition(1, shuffle = false)` under it: Spark plans
  * `Sort <- Coalesce 1`, with no range exchange — no sampling job, no
  * range stage, the same rows in the same order, sorted in one task.
  *
  * The size must bound the sort input from above, as the size Spark
  * trusts to broadcast does:
  *  - at runtime (AQE), the measured size of materialized query stages;
  *  - at plan time, Spark's estimate over Project, Filter and Aggregate
  *    down to a file, local or range relation. A Generate (explode) keeps
  *    its child's estimate however many rows it emits, and a join can
  *    multiply rows, so neither is sized. Nor is a DSv2 relation: sizing
  *    it builds or asks a scan, and a server scan would call the server;
  *    its queries are sized by their measured stages instead.
  *
  * Left alone: streaming plans; the Sort of ORDER BY ... LIMIT (planned as
  * TakeOrderedAndProject, which has no range exchange); and a Sort whose
  * range exchange already ran (a materialized range stage under it). A
  * negative threshold turns the rule off together with broadcasting.
  * Registered as a pre-CBO rule and as an AQE runtime rule.
  */
object SmallSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0 || plan.isStreaming) plan
    else rewrite(plan, threshold, underLimit = false)
  }

  /** `underLimit`: reached from a limit or offset through Projects only,
    * so the first global Sort met is the ORDER BY of ORDER BY ... LIMIT. */
  private def rewrite(p: LogicalPlan, threshold: Long, underLimit: Boolean): LogicalPlan =
    p match {
      case _: GlobalLimit | _: LocalLimit | _: Offset =>
        p.mapChildren(rewrite(_, threshold, underLimit = true))
      case _: Project if underLimit =>
        p.mapChildren(rewrite(_, threshold, underLimit = true))
      case s @ Sort(_, true, child, _) =>
        val c = rewrite(child, threshold, underLimit = false)
        val small = !underLimit && !settled(c) && bound(c).exists(_ <= threshold)
        if (small) s.copy(child = Repartition(1, shuffle = false, c))
        else s.withNewChildren(Seq(c))
      case _ => p.mapChildren(rewrite(_, threshold, underLimit = false))
    }

  /** `p` already runs in one partition, or is the Sort's own range
    * exchange, run as an AQE query stage. */
  private def settled(p: LogicalPlan): Boolean = p match {
    case r: Repartition => r.numPartitions == 1
    case q: LogicalQueryStage => q.physicalPlan.outputPartitioning match {
      case _: RangePartitioning => true
      case other => other.numPartitions == 1
    }
    case _ => false
  }

  /** An upper bound on `p`'s output bytes, or None where none is known. */
  private def bound(p: LogicalPlan): Option[BigInt] = p match {
    case q: LogicalQueryStage =>
      if (q.isMaterialized) Some(q.stats.sizeInBytes) else None
    case _: LogicalRelation | _: LocalRelation | _: Range => Some(p.stats.sizeInBytes)
    case _: Project | _: Filter | _: Aggregate if p.children.forall(bound(_).isDefined) =>
      Some(p.stats.sizeInBytes)
    case _ => None
  }
}
