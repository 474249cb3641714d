package graft.plans

import graft.query.FilterTranslator
import graft.server.JoinPush
import graft.source.ReadModel

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, Sample}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Transparent passthrough marker for a RESIDUAL predicate hoisted above a
  * pushable join. Evaluation and codegen forward to the child; the ONLY
  * behavior is `deterministic = false`, which stops PushDownPredicates /
  * PushPredicateThroughJoin from sinking the enclosing Filter back below
  * (or into) the join — the anti-pushdown device that lets
  * [[ResidualJoinHoist]] park a re-check Filter ABOVE the join so Spark's
  * DSv2 join pushdown (which requires BOTH join inputs to be bare scans,
  * V2ScanRelationPushDown.pushDownJoin's `Nil`-filters pattern) still
  * fires. The predicate inside is genuinely deterministic, so evaluating
  * it above the joined scan is exact.
  */
case class Recheck(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): Recheck =
    copy(child = newChild)
  override def prettyName: String = "recheck"
}

/** The first rewrite of [[PrepareJoinLegs]] (operator-optimization
  * batch, BEFORE the early-scan pushdown): make an equi-join of two
  * graftserver collections pushable even when a RESIDUAL predicate
  * rides along — the reference's decomposePredicate discipline
  * (hive/.../MongoStorageHandler.java:100-128: push what translates,
  * re-check the rest above) applied to the join pipeline.
  *
  * Spark 4.1's V2ScanRelationPushDown.pushDownJoin only fires when BOTH
  * join inputs are bare scan holders (its PhysicalOperation match
  * requires `Nil` filters), so ONE untranslatable conjunct — `a+b > 5`,
  * a UDF, a NOT IN — silently demotes the engine's pushed `$lookup` join
  * to a full Spark shuffle join. This rule hoists exactly those conjuncts
  * to a [[Recheck]]-wrapped Filter ABOVE the join, where Spark itself
  * re-checks them (whole-stage-codegen'd) over the joined scan's output:
  *
  *  1. residual conjuncts of a Filter directly below the join (possibly
  *     under a column-pruning Project, which is widened to keep the
  *     predicate's inputs flowing — the original output is restored by a
  *     Project above the re-check Filter);
  *  2. non-equi cross-side conjuncts of an INNER join condition
  *     (`ON a.k = b.k AND a.x + b.y > 5` and WHERE-predicates Catalyst
  *     folded into the condition).
  *
  * Soundness: hoisting σ_p above a join is exact when p's inputs pass
  *  through unchanged — always true for INNER (a kept row keeps its
  * columns; condition conjuncts of an inner join ARE filters above the
  * cross product), and for the PRESERVED side of an outer join (its
  * columns appear verbatim in every output row, and a dropped preserved
  * row drops all its output rows). Hence: INNER hoists from both sides
  * and the condition; LEFT OUTER only from the left leg; RIGHT OUTER
  * only from the right; nothing else. Predicates referencing the
  * NON-preserved side, non-deterministic predicates, and subqueries are
  * never hoisted.
  *
  * The rewrite is deliberately narrow: it sees only joins whose legs
  * bottom out in graftserver relations on ONE connection (the rule's
  * gate), and fires only while at least one operand-safe key equality
  * remains in the condition (the pushed `$lookup` needs its `$expr`
  * keys). When the later pushdown still refuses (e.g. an output-name
  * collision), the cost is bounded: the re-check evaluates after the
  * Spark join instead of before it.
  */
object ResidualJoinHoist extends PredicateHelper {

  private[plans] def rewrite(j: Join): LogicalPlan = {
    if (j.condition.isEmpty) return j
    if (j.joinType != Inner && j.joinType != LeftOuter && j.joinType != RightOuter)
      return j

    val conjuncts = splitConjunctivePredicates(j.condition.get)
    val equis = conjuncts.filter(isKey(j, ReadModel.Equal))
    if (equis.isEmpty) return j
    val rest = conjuncts.filterNot(equis.contains)
    // cross-side extras are only extractable from an INNER condition;
    // single-side conjuncts stay for PushPredicateThroughJoin (they may
    // yet translate into the scan — hoisting is the LAST resort).
    // RENDERABLE range conjuncts (r17) also stay in the condition: the
    // scan spells them into the `$lookup` pipeline's `$expr` (the
    // binned interval / as-of shape), which beats a post-join re-check
    val crossSide = rest.filter(c =>
      !c.references.subsetOf(j.left.outputSet) &&
        !c.references.subsetOf(j.right.outputSet) &&
        !isKey(j, ReadModel.Range)(c))
    val (condPins, condKeep) =
      if (j.joinType == Inner && crossSide.forall(hoistable))
        rest.partition(c => crossSide.contains(c) && hoistable(c))
      else (Nil, rest)

    val (newLeft, leftPins) =
      if (j.joinType == Inner || j.joinType == LeftOuter) hoistLeg(j.left)
      else (j.left, Nil)
    val (newRight, rightPins) =
      if (j.joinType == Inner || j.joinType == RightOuter) hoistLeg(j.right)
      else (j.right, Nil)

    val pinned = condPins ++ leftPins ++ rightPins
    if (pinned.isEmpty) return j
    val newJoin = j.copy(left = newLeft, right = newRight,
      condition = Some((equis ++ condKeep).reduce(And)))
    val recheck = Filter(pinned.map(wrap).reduce(And), newJoin)
    // a widened leg Project adds columns the parents never saw — restore
    // the exact original output above the re-check
    if (newJoin.output == j.output) recheck else Project(j.output, recheck)
  }

  /** Hoist residual conjuncts out of a leg-level Filter (optionally under
    * a pruning Project, which is widened to carry the predicate's
    * inputs). Returns the rewritten leg and the hoisted predicates.
    */
  private def hoistLeg(leg: LogicalPlan): (LogicalPlan, Seq[Expression]) =
    leg match {
      case Filter(cond, child @ Sample(_, _, _, _, _)) =>
        // Spark never pushes a filter past a pushed TABLESAMPLE, so even
        // a TRANSLATABLE conjunct here blocks the join. Hoisting keeps
        // the filter ABOVE the sample either way (only the join moves
        // underneath), so every deterministic subquery-free conjunct may
        // ride up — regardless of translatability.
        val (pins, keep) = splitConjunctivePredicates(cond).partition(c =>
          c.isInstanceOf[Recheck] ||
            (c.deterministic && !SubqueryExpression.hasSubquery(c) &&
              c.references.nonEmpty))
        if (pins.isEmpty) (leg, Nil)
        else (keep.reduceOption(And).map(Filter(_, child)).getOrElse(child), pins)
      case Filter(cond, child) =>
        val (pins, keep) = splitConjunctivePredicates(cond).partition(hoistable)
        if (pins.isEmpty) (leg, Nil)
        else (keep.reduceOption(And).map(Filter(_, child)).getOrElse(child), pins)
      case p @ Project(projectList, f: Filter) =>
        val (newF, pins) = hoistLeg(f)
        if (pins.isEmpty) (leg, Nil)
        else {
          val missing = (AttributeSet(pins.flatMap(_.references)) -- p.outputSet).toSeq
          (Project(projectList ++ missing, newF), pins)
        }
      case _ => (leg, Nil)
    }

  /** A conjunct the hoist may move: an already-pinned [[Recheck]] (riding
    * up through a higher join of a chain), or a deterministic,
    * subquery-free predicate the SOURCE cannot translate (pushing it down
    * again would just re-block the join).
    */
  private def hoistable(e: Expression): Boolean = e match {
    case _: Recheck => true
    case _ => e.deterministic && !SubqueryExpression.hasSubquery(e) &&
      e.references.nonEmpty && sourceResidual(e)
  }

  private def wrap(e: Expression): Expression = e match {
    case r: Recheck => r
    case other => Recheck(other)
  }

  // ---- join keys ----

  /** Options of the graftserver leaf that owns `a` (None when the
    * attribute was aliased on the way up — conservatively unsafe).
    */
  private def ownerOptions(j: Join, a: Attribute): Option[Map[String, String]] =
    j.collectLeaves().collectFirst {
      case r: DataSourceV2Relation
          if graft.server.GraftServerSource.served(r.table) &&
            r.outputSet.contains(a) =>
        import scala.jdk.CollectionConverters._
        r.options.asScala.toMap
    }

  /** What a key conjunct compares: EQUAL for `x = y`, RANGE for `x < y`
    * and the like. */
  private def keyKind(c: Expression): Option[ReadModel.Comparison] = c match {
    case _: EqualTo => Some(ReadModel.Equal)
    case _: LessThan | _: LessThanOrEqual | _: GreaterThan | _: GreaterThanOrEqual =>
      Some(ReadModel.Range)
    case _ => None
  }

  /** `c` compares one leg's column (or nested field) with the other's as
    * `kind`, and both operands pass the join pushdown's own gate
    * ([[JoinPush.operand]]) applied pre-pushdown: the hoist strips a join
    * down only to equalities the `$lookup` can take, and never strips a
    * range the scan can spell into the `$lookup` `$expr`. */
  private def isKey(j: Join, kind: ReadModel.Comparison)(c: Expression): Boolean =
    keyKind(c).contains(kind) && {
      val roots = c.children.flatMap(chainRoot)
      roots.size == 2 &&
        roots.exists(j.left.outputSet.contains) && roots.exists(j.right.outputSet.contains) &&
        c.children.zip(roots).forall { case (e, a) =>
          ownerOptions(j, a).exists(o => JoinPush.operand(kind, e.dataType, o, docFieldOf(o, e)))
        }
    }

  /** The DOC field a BARE-attribute operand reads (through the
    * relation's column_mapping) — the name the `ascii_columns`
    * declaration uses; nested extractions stay None (strings refuse). */
  private def docFieldOf(opts: Map[String, String],
      x: Expression): Option[String] = x match {
    case a: Attribute =>
      val mapping = graft.source.ColumnMapping.fromOptions(opts)
      Some(mapping.getOrElse(a.name, a.name))
    case _ => None
  }

  // ---- source-translatability probe ----

  /** True when the source would hand this conjunct back as a residual:
    * either Spark's own v1 translation (the one its V2 filter pushdown
    * applies) gives it no `sources.Filter` shape at all (arithmetic, UDF,
    * casts), the engine's own [[FilterTranslator]] refuses it, or it is
    * a null test on an ARRAY-typed column — the scan's type-aware
    * arrayNullTest keeps those residual (`{$eq/$ne: null}` element-
    * matches on a live server), which the name-level translation
    * cannot see (r17: a user-written `arr IS NOT NULL` in a leg used to
    * silently forfeit the join push). A false negative here (claiming
    * translatable when the source would refuse) just leaves the status
    * quo; a false positive hoists a pushable filter — both are correct,
    * so the probe may be approximate.
    */
  private def sourceResidual(e: Expression): Boolean = e match {
    case IsNull(x) if x.dataType.isInstanceOf[ArrayType] => true
    case IsNotNull(x) if x.dataType.isInstanceOf[ArrayType] => true
    case _ =>
      org.apache.spark.sql.graft.Bridge.v1Filter(e).forall(FilterTranslator.translate(_).isEmpty)
  }
}
