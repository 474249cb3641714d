package graft.plans

import graft.query.FilterTranslator
import graft.source.ReadModel

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, Sample}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.{sources => v1}

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

/** Optimizer rule (operator-optimization batch, BEFORE the early-scan
  * pushdown): make an equi-join of two graftserver collections pushable
  * even when a RESIDUAL predicate rides along — the reference's
  * decomposePredicate discipline (hive/.../MongoStorageHandler.java:
  * 100-128: push what translates, re-check the rest above) applied to the
  * join pipeline.
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
  * The rule is deliberately narrow: it fires only when DSv2 join pushdown
  * is enabled, both legs bottom out in graftserver relations on ONE
  * server+database, and at least one bracket-safe key equality remains in
  * the condition (the pushed `$lookup` needs its `$expr` keys). When the
  * later pushdown still refuses (e.g. an output-name collision), the cost
  * is bounded: the re-check evaluates after the Spark join instead of
  * before it.
  */
object ResidualJoinHoist extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled =
      try conf.getConfString(graft.GraftConf.JoinPushdownConf, "false").toBoolean
      catch { case _: Exception => false }
    if (!enabled) plan
    else plan.transformUp { case j: Join => rewrite(j) }
  }

  private def rewrite(j: Join): LogicalPlan = {
    if (j.condition.isEmpty) return j
    if (j.joinType != Inner && j.joinType != LeftOuter && j.joinType != RightOuter)
      return j
    val lConn = graftConnection(j.left)
    val rConn = graftConnection(j.right)
    if (lConn.isEmpty || lConn != rConn) return j

    val conjuncts = splitConjunctivePredicates(j.condition.get)
    val equis = conjuncts.filter(isSafeEqui(j, _))
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
        !isSafeRange(j, c))
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

  // ---- graftserver leg detection ----

  /** The (factory, location, database) connection id shared by EVERY
    * graftserver leaf under the leg — None when any leaf is something
    * else (never hoist around a foreign source's join input).
    * Shared with [[AliasPullup]]'s scope gate.
    */
  private[plans] def graftConnection(leg: LogicalPlan): Option[(String, String, String)] = {
    val leaves = leg.collectLeaves()
    val ids = leaves.map {
      case r: DataSourceV2Relation if graft.server.GraftServerSource.served(r.table) =>
        val o = r.options
        val ns = Option(o.get("ns")).getOrElse("")
        Some((Option(o.get("client_factory")).getOrElse(""),
          Option(o.get("uri")).getOrElse(Option(o.get("server_dir")).getOrElse("")),
          ns.split('.').headOption.getOrElse("")))
      case _ => None
    }
    if (ids.isEmpty || ids.contains(None)) None
    else if (ids.flatten.distinct.size == 1) ids.head
    else None
  }

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

  /** `x = y` across the two legs with an exact key type on BOTH sides —
    * the join pushdown's own gate ([[graft.source.ReadModel]]'s Stored
    * EQUAL cell), applied pre-pushdown so the rule only strips a join
    * down to equalities the `$lookup` can actually take.
    */
  private def isSafeEqui(j: Join, c: Expression): Boolean = c match {
    case EqualTo(x, y) =>
      (keyRoot(x), keyRoot(y)) match {
        case (Some(xa), Some(ya)) =>
          val cross =
            (j.left.outputSet.contains(xa) && j.right.outputSet.contains(ya)) ||
              (j.right.outputSet.contains(xa) && j.left.outputSet.contains(ya))
          cross &&
            ownerOptions(j, xa).exists(o => exact(ReadModel.Equal, x.dataType, o, None)) &&
            ownerOptions(j, ya).exists(o => exact(ReadModel.Equal, y.dataType, o, None))
        case _ => false
      }
    case _ => false
  }

  /** `x OP y` across the two legs with RANGE-orderable key types on
    * BOTH sides — the join pushdown's own gate (the Stored RANGE cell),
    * applied pre-hoist so a conjunct the scan can spell into the
    * `$lookup` `$expr` is never stripped out of the condition. */
  private def isSafeRange(j: Join, c: Expression): Boolean = {
    def sides(x: Expression, y: Expression): Boolean =
      (keyRoot(x), keyRoot(y)) match {
        case (Some(xa), Some(ya)) =>
          val cross =
            (j.left.outputSet.contains(xa) && j.right.outputSet.contains(ya)) ||
              (j.right.outputSet.contains(xa) && j.left.outputSet.contains(ya))
          cross &&
            ownerOptions(j, xa).exists(o =>
              exact(ReadModel.Range, x.dataType, o, docFieldOf(o, x))) &&
            ownerOptions(j, ya).exists(o =>
              exact(ReadModel.Range, y.dataType, o, docFieldOf(o, y)))
        case _ => false
      }
    c match {
      case LessThan(x, y) => sides(x, y)
      case LessThanOrEqual(x, y) => sides(x, y)
      case GreaterThan(x, y) => sides(x, y)
      case GreaterThanOrEqual(x, y) => sides(x, y)
      case _ => false
    }
  }

  /** The DOC field a BARE-attribute range operand reads (through the
    * relation's column_mapping) — the name the `ascii_columns`
    * declaration uses; nested extractions stay None (strings refuse). */
  private def docFieldOf(opts: Map[String, String],
      x: Expression): Option[String] = x match {
    case a: Attribute =>
      val mapping = graft.source.ColumnMapping.fromOptions(opts)
      Some(mapping.getOrElse(a.name, a.name))
    case _ => None
  }

  /** The join pushdown's operand gate: a `$lookup` compares stored
    * values. */
  private def exact(c: ReadModel.Comparison, dt: DataType,
      opts: Map[String, String], docField: Option[String]): Boolean =
    ReadModel.exact(c, dt, ReadModel.Stored, opts, docField)

  /** The base attribute of a join-key expression: a bare column or a
    * nested-struct extraction chain over one.
    */
  private def keyRoot(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case GetStructField(child, _, _) => keyRoot(child)
    case _ => None
  }

  // ---- source-translatability probe ----

  /** True when the source would hand this conjunct back as a residual:
    * either it has no v1 `sources.Filter` shape at all (arithmetic, UDF,
    * casts), the engine's own [[FilterTranslator]] refuses it, or it is
    * a null test on an ARRAY-typed column — the scan's type-aware
    * arrayNullTest keeps those residual (`{$eq/$ne: null}` element-
    * matches on a live server), which the name-level translate probe
    * cannot see (r17: a user-written `arr IS NOT NULL` in a leg used to
    * silently forfeit the join push). A false negative here (claiming
    * translatable when the source would refuse) just leaves the status
    * quo; a false positive hoists a pushable filter — both are correct,
    * so the probe may be approximate.
    */
  private def sourceResidual(e: Expression): Boolean = {
    def arrayTyped(x: Expression): Boolean =
      x.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
    e match {
      case IsNull(x) if arrayTyped(x) => true
      case IsNotNull(x) if arrayTyped(x) => true
      case _ =>
        toV1(e) match {
          case Some(f) => FilterTranslator.translate(f).isEmpty
          case None => true
        }
    }
  }

  private def colName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case GetStructField(child, _, Some(name)) => colName(child).map(_ + "." + name)
    case g @ GetStructField(child, ord, None) =>
      colName(child).map(_ + "." + g.childSchema(ord).name)
    case _ => None
  }

  private def ext(l: Literal): Any =
    CatalystTypeConverters.convertToScala(l.value, l.dataType)

  /** Mirror of Spark's v1 filter translation for the shapes the engine's
    * translator understands (attribute-vs-literal comparisons, IN, null
    * tests, string predicates, AND/OR/NOT). Anything else is residual by
    * construction — Spark itself cannot hand it to a v1 source.
    */
  private def toV1(e: Expression): Option[v1.Filter] = e match {
    case EqualTo(a, l: Literal) => colName(a).map(v1.EqualTo(_, ext(l)))
    case EqualTo(l: Literal, a) => colName(a).map(v1.EqualTo(_, ext(l)))
    case EqualNullSafe(a, l: Literal) => colName(a).map(v1.EqualNullSafe(_, ext(l)))
    case EqualNullSafe(l: Literal, a) => colName(a).map(v1.EqualNullSafe(_, ext(l)))
    case GreaterThan(a, l: Literal) => colName(a).map(v1.GreaterThan(_, ext(l)))
    case GreaterThan(l: Literal, a) => colName(a).map(v1.LessThan(_, ext(l)))
    case GreaterThanOrEqual(a, l: Literal) => colName(a).map(v1.GreaterThanOrEqual(_, ext(l)))
    case GreaterThanOrEqual(l: Literal, a) => colName(a).map(v1.LessThanOrEqual(_, ext(l)))
    case LessThan(a, l: Literal) => colName(a).map(v1.LessThan(_, ext(l)))
    case LessThan(l: Literal, a) => colName(a).map(v1.GreaterThan(_, ext(l)))
    case LessThanOrEqual(a, l: Literal) => colName(a).map(v1.LessThanOrEqual(_, ext(l)))
    case LessThanOrEqual(l: Literal, a) => colName(a).map(v1.GreaterThanOrEqual(_, ext(l)))
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      colName(a).map(v1.In(_, list.map(x => ext(x.asInstanceOf[Literal])).toArray))
    case InSet(a, set) =>
      // InSet holds INTERNAL values; convert through the child type
      colName(a).map(n => v1.In(n, set.toArray.map(
        CatalystTypeConverters.convertToScala(_, a.dataType))))
    case IsNull(a) => colName(a).map(v1.IsNull)
    case IsNotNull(a) => colName(a).map(v1.IsNotNull)
    case StartsWith(a, Literal(s, _)) if s != null =>
      colName(a).map(v1.StringStartsWith(_, s.toString))
    case EndsWith(a, Literal(s, _)) if s != null =>
      colName(a).map(v1.StringEndsWith(_, s.toString))
    case Contains(a, Literal(s, _)) if s != null =>
      colName(a).map(v1.StringContains(_, s.toString))
    case And(x, y) => for (fx <- toV1(x); fy <- toV1(y)) yield v1.And(fx, fy)
    case Or(x, y) => for (fx <- toV1(x); fy <- toV1(y)) yield v1.Or(fx, fy)
    case Not(x) => toV1(x).map(v1.Not)
    case _ => None
  }
}
