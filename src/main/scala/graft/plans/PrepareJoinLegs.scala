package graft.plans

import graft.server.JoinPush

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (operator-optimization batch, BEFORE the early-scan
  * pushdown): prepare the legs of every join of graftserver relations on
  * one connection ([[JoinPush.legConnection]]) for Spark 4.1's
  * `V2ScanRelationPushDown.pushDownJoin`, which fires only over bare
  * scans under attribute-only projections. Three rewrites run in turn,
  * each over the whole plan:
  *
  *  1. [[ResidualJoinHoist]] lifts residual conjuncts above the join;
  *  2. [[AliasPullup]] lifts rename-only Projects above the join;
  *  3. [[NestedExtractRelocate]] absorbs nested-extraction Projects into
  *     the relation.
  *
  * Nothing runs while join pushdown is off ([[JoinPush.enabled]]).
  */
object PrepareJoinLegs extends Rule[LogicalPlan] {

  private val rewrites: Seq[Join => LogicalPlan] =
    Seq(ResidualJoinHoist.rewrite, AliasPullup.rewrite, NestedExtractRelocate.rewrite)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!JoinPush.enabled(conf)) plan
    else rewrites.foldLeft(plan) { (p, rewrite) =>
      p.transformUp { case j: Join if JoinPush.legConnection(j).isDefined => rewrite(j) }
    }
}
