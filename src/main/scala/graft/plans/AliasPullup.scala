package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}

/** The second rewrite of [[PrepareJoinLegs]] (r15): pull RENAME-only
  * Projects out of a pushable join's legs. Spark 4.1's `V2ScanRelationPushDown.pushDownJoin` only
  * fires when each join input is a bare scan under ATTRIBUTE-ONLY
  * projections (the rule mints its own `ColumnWithAlias` renames for
  * output dedup, but never consumes a plan-level Alias) — so the
  * everyday `df.select($"_id".as("okey"), ...)` BEFORE a join silently
  * demotes the pushed `$lookup` to a Spark shuffle join.
  *
  * Rewrite: `Join(Project(renames, l), r)` becomes
  * `Project(renames', Join(l', r))` — the rename moves above the join,
  * the condition's references substitute back to the underlying
  * attributes, and the leg keeps an attribute-only pruning Project.
  * Pulled entries are strictly `Alias(Attribute)` (or bare attributes):
  * a RENAME of a null-extended column is null either way, so the move
  * is exact under every join type; computed aliases stay put (e.g.
  * `coalesce(x, 0)` evaluated above an outer join would turn a
  * null-extended row's NULL into 0).
  *
  * Scoped by the rule's gate to joins whose legs all bottom out in
  * graftserver relations on one connection (the only joins the engine
  * pushes) — foreign plans are never perturbed. Stable in the
  * fixed-point batch: pulled Projects contain no Alias over a join leg
  * anymore, and the re-inserted pruning Projects are attribute-only.
  */
object AliasPullup {

  /** A leg of shape `Project(attrs-and-renames, child)` with at least
    * one rename: (stripped leg, rename map alias-exprId -> underlying
    * attribute, original projection). */
  private def peel(leg: LogicalPlan):
      Option[(LogicalPlan, Map[ExprId, Attribute], Seq[NamedExpression])] =
    leg match {
      case Project(pl, child) if pl.exists(_.isInstanceOf[Alias]) &&
          pl.forall {
            case _: AttributeReference => true
            case Alias(_: AttributeReference, _) => true
            case _ => false
          } =>
        val renames = pl.collect {
          case a @ Alias(u: AttributeReference, _) => a.exprId -> u
        }.toMap
        // prune the leg to what the projection consumed, attribute-only
        val kept = pl.map {
          case a: AttributeReference => a
          case Alias(u: AttributeReference, _) => u
        }.distinct
        val stripped =
          if (kept == child.output) child else Project(kept, child)
        Some((stripped, renames, pl))
      case _ => None
    }

  private[plans] def rewrite(j: Join): LogicalPlan = {
    // only the join types the engine can push (semi/anti joins output
    // the LEFT side only — a concatenated projection would reference
    // missing right attributes; full-outer never pushes)
    if (j.joinType != Inner && j.joinType != LeftOuter &&
        j.joinType != RightOuter) return j
    val l = peel(j.left)
    val r = peel(j.right)
    if (l.isEmpty && r.isEmpty) return j
    val renames = l.map(_._2).getOrElse(Map.empty) ++
      r.map(_._2).getOrElse(Map.empty)
    val newCond = j.condition.map(_.transformUp {
      case a: AttributeReference if renames.contains(a.exprId) =>
        renames(a.exprId)
    })
    val newJoin = j.copy(
      left = l.map(_._1).getOrElse(j.left),
      right = r.map(_._1).getOrElse(j.right),
      condition = newCond)
    // restore the original output (names, exprIds, order) above the
    // join, REBINDING every reference to the join's OWN output
    // instances — an outer join null-extends the non-preserved side,
    // and an Alias carrying the leg-level nullable=false metadata above
    // it would let NullPropagation fold IsNull tests to false
    val joinAttr: Map[ExprId, Attribute] =
      newJoin.output.map(a => a.exprId -> a).toMap
    def rebound(ne: NamedExpression): NamedExpression = ne match {
      case a: AttributeReference => joinAttr.getOrElse(a.exprId, a)
      case al @ Alias(u: AttributeReference, name) =>
        Alias(joinAttr.getOrElse(u.exprId, u), name)(
          exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case other => other
    }
    val out: Seq[NamedExpression] =
      (l.map(_._3).getOrElse(j.left.output) ++
        r.map(_._3).getOrElse(j.right.output)).map(rebound)
    Project(out, newJoin)
  }
}
