package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Transparent pass-through around a RETAINED Generate's input (see
  * [[UnwindRelocate.retainJoinPush]]). Evaluation and codegen forward to
  * the child; the ONLY behavior is not being an `Attribute`, which is the
  * exact guard `InferFiltersFromGenerate` fires on (it infers
  * `isnotnull(arr)` / `size(arr) > 0` below a non-outer explode only when
  * the generator input is a bare attribute — verified against the Spark
  * 4.1.2 rule). Wrapping the input after those conjuncts are deleted
  * keeps the optimizer's fixed point stable: without it the rule would
  * re-add what [[UnwindRelocate]] just removed, every iteration.
  */
case class RetainedGenerateInput(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): RetainedGenerateInput =
    copy(child = newChild)
  override def prettyName: String = "retained_unwind"
}

/** Optimizer rule: `explode(arrayCol)` directly above a graftserver scan
  * compiles to the scan's `$unwind` directive — the Enron
  * flatten-then-count shape (examples/enron/.../EnronMailMapper.java:
  * 26-56) at corpus scale. The Generate node is replaced by a relation
  * whose schema exposes the ELEMENT as a flat column:
  *
  *  - a plain unwound scan streams PARENT docs over the wire (the array
  *    crosses once, never the flattened cross-product) and the reader
  *    emits one row per element;
  *  - composed with a grouped aggregate, the whole
  *    `$match`+`$unwind`+`$group` runs as ONE server pipeline per
  *    namespace — `SELECT tag, count(*) FROM t LATERAL VIEW explode(tags)
  *    GROUP BY tag` ships #distinct-tags docs, not #tags rows.
  *
  * `explode` maps to `$unwind` exactly: both drop null/missing/empty
  * arrays; `explode_outer` maps to `preserveNullAndEmptyArrays: true`.
  * The element column rides `column_mapping` (element name -> array doc
  * path), so post-unwind GROUP keys resolve natively; the scan builder
  * renders element-column FILTERS as a POST-unwind `$match` between
  * `$unwind` and `$group` (after the unwind the path holds the ELEMENT,
  * so the normal translation carries Spark's row semantics exactly) and
  * derives a pre-unwind PARENT prune from them
  * ([[graft.query.BQuery.parentPrune]]); it refuses
  * limit/offset/top-n/sample/probes (they would count PARENT docs).
  *
  * Matched leg shapes under the Generate: the bare relation, an
  * attribute/extraction Project (NestedColumnAliasing's rewrite of a
  * nested array path), a pushed-down Filter, or Project-over-Filter.
  * Parent-column filters COMMUTE with `$unwind` (a parent's columns are
  * identical on every emitted row, and a dropped parent drops all its
  * rows), so a below-Generate Filter is re-applied ABOVE the unwound
  * relation, where the normal pushdown then takes it into the pre-unwind
  * `$match`. The vacuous conjuncts InferFiltersFromGenerate adds for a
  * non-outer explode (`isnotnull(arr)`, `size(arr) > 0` — implied by
  * `$unwind` itself) are dropped rather than re-checked, which also
  * spares shipping the whole array column just to re-test it.
  *
  * posexplode also relocates (the element INDEX binds as the pos
  * column — `$unwind includeArrayIndex` semantics: original indices
  * under element filters, NULL pos for null/empty/non-array parents;
  * the file reader injects [[PosDocField]] so pos filters/groups ride
  * the normal machinery, and server pipelines render
  * `includeArrayIndex` into the same field, so pos filters/groups/
  * tails push there too — int64 indexes narrow to the pos column's
  * IntegerType at decode). MAP explodes (r15) compile to the scan's
  * `$objectToArray`+`$unwind` directive, and compose over pushed joins
  * (r16) through the same transpose arrays use. Computed arrays are
  * left to Spark. Stable in the fixed-point batch: the Generate is gone
  * after the rewrite.
  */
object UnwindRelocate extends Rule[LogicalPlan] {

  /** Escape hatch for the OVER-JOIN transpose (r16). The
    * transpose is clearly right whenever something bounds the element
    * rows server-side — a post-unwind `$match`, a folding `$group`, an
    * element join key, a row tail — which is every shape the catalog
    * and the ledger exercise. For the one shape where nothing does
    * (ungrouped, unfiltered explode of a WIDE-parent join), the pushed
    * pipeline ships parent/right columns once PER ELEMENT where the
    * join-only plan ships them once per parent plus the array — this
    * knob keeps the join pushed but leaves the flatten to Spark there.
    * Since r17 "keeps the join pushed" holds for NON-outer explodes
    * too: [[retainJoinPush]] deletes the inferred array conjuncts that
    * used to block the `$lookup` under a retained Generate, so the knob
    * (and every refusal-matrix shape) lands in the true join-only
    * state instead of forfeiting the join. Default true: the common
    * corpus shapes are narrow-parent and/or bounded, and the optimizer
    * cannot see the later V2 aggregate pushdown from this rule. */
  val JoinConfKey = "spark.graft.unwind_join_pushdown"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case g @ Generate(Explode(arr), _, outer, _, Seq(elOut), _) =>
      relocate(g, arr, outer, elOut, None)
        .orElse(retainJoinPush(g, arr)).getOrElse(g)
    case g @ Generate(PosExplode(arr), _, outer, _, Seq(posOut, elOut), _)
        if !arr.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
      relocate(g, arr, outer, elOut, Some(posOut))
        .orElse(retainJoinPush(g, arr)).getOrElse(g)
    // MAP explode (r15): two generator outputs (key, value) — the
    // scan's `$objectToArray`+`$unwind` directive; over a pushed join
    // the same transpose arrays get applies (r16 — the map is computed
    // from the preserved driving leg, so k entries × m joined copies
    // commute exactly like array elements)
    case g @ Generate(Explode(m), _, outer, _, Seq(keyOut, valOut), _)
        if m.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
      relocate(g, m, outer, valOut, None, mapKey = Some(keyOut))
        .orElse(retainJoinPush(g, m)).getOrElse(g)
    // posexplode of a MAP: the entry INDEX rides includeArrayIndex on
    // the kv `$unwind` (entry order = document field order =
    // $objectToArray order = Spark's map iteration order)
    case g @ Generate(PosExplode(m), _, outer, _, Seq(posOut, keyOut, valOut), _)
        if m.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
      relocate(g, m, outer, valOut, Some(posOut), mapKey = Some(keyOut))
        .orElse(retainJoinPush(g, m)).getOrElse(g)
  }

  /** Fallback when the unwind can NOT relocate (a refusal-matrix shape,
    * or `unwind_join_pushdown=false`) but a pushable graft join sits
    * below: keep the Generate in Spark yet KEEP THE `$lookup` PUSHED.
    * Until r16, any refused relocation of a NON-outer explode forfeited
    * the entire join push too (PLANS_r16 §7's honesty note):
    * `InferFiltersFromGenerate` derives `isnotnull(arr)` and
    * `size(arr) > 0` below the Generate, predicate pushdown parks them
    * on the array's leg, the scan hands `isnotnull` back as a residual
    * (the r15 array-null rule — `{$ne: null}` element-matches on a live
    * server) and `size(arr) > 0` has no source-filter shape at all, and
    * ONE leftover leg Filter stops `V2ScanRelationPushDown.pushDownJoin`
    * (its bare-scan pattern). This rewrite DELETES exactly those
    * conjuncts wherever they sit on the Filter/Project/Join spine and
    * wraps the generator input in [[RetainedGenerateInput]] so the
    * inference cannot re-add them (fixed-point stability; the wrap also
    * makes the rewrite idempotent).
    *
    * Soundness of the delete: the conjuncts are implied by the
    * non-outer Generate above — a row whose array/map is null or empty
    * produces ZERO Generate output rows whether or not it reaches the
    * Generate. Removing a row-dropping Filter below any join can only
    * ADD rows, each with a null/empty array (the only rows it dropped),
    * and every joined/null-extended descendant of such a row still
    * carries that null/empty array into the Generate, which drops it.
    * So the final output is identical for every join type, at any depth
    * along the spine. An `isnotnull` on a MAP column is left in place —
    * the scan translates it exactly (`{$ne: null}` on a subdocument has
    * no element-match edge), so it prunes on the wire and the leg still
    * ends up bare.
    */
  private def retainJoinPush(g: Generate, arr0: Expression): Option[LogicalPlan] = {
    if (g.outer) return None // inference never fired; nothing blocks
    // only a bare-Attribute input gets inferred conjuncts; a non-
    // Attribute input (incl. an already-wrapped one — idempotence) never
    // had the problem
    if (!arr0.isInstanceOf[AttributeReference]) return None
    if (!graft.server.JoinPush.enabled(conf)) return None
    val isMapInput =
      arr0.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]
    def vacuous(c: Expression): Boolean = (c match {
      case Recheck(inner) => inner
      case other => other
    }) match {
      case IsNotNull(e) => !isMapInput && e.semanticEquals(arr0)
      case GreaterThan(Size(e, _), Literal(0, _)) => e.semanticEquals(arr0)
      case _ => false
    }
    var stripped = 0
    var sawGraftJoin = false
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Filter(c, ch) =>
        val (vac, keep) = splitConjuncts(c).partition(vacuous)
        stripped += vac.size
        val ch2 = strip(ch)
        keep.reduceOption(And).map(Filter(_, ch2)).getOrElse(ch2)
      case pr: Project => pr.copy(child = strip(pr.child))
      case jn: Join if graft.server.JoinPush.legConnection(jn).isDefined =>
        sawGraftJoin = true
        jn.copy(left = strip(jn.left), right = strip(jn.right))
      case other => other
    }
    val newChild = strip(g.child)
    if (stripped == 0 || !sawGraftJoin) return None
    val newGenerator = g.generator
      .withNewChildren(Seq(RetainedGenerateInput(arr0)))
      .asInstanceOf[Generator]
    Some(g.copy(generator = newGenerator, child = newChild))
  }

  private def relocate(g: Generate, arr: Expression, outer: Boolean,
      elOut: Attribute, posOut: Option[Attribute],
      mapKey: Option[Attribute] = None): Option[LogicalPlan] =
    rewrite(g, arr, outer, elOut, posOut, mapKey)
      .orElse(rewriteOverJoin(g, arr, outer, elOut, posOut, mapKey))

  /** The synthetic pos and kv doc fields ([[graft.query.Unwind]]). */
  val PosDocField: String = graft.query.Unwind.PosDocField
  val KvDocField: String = graft.query.Unwind.KvDocField

  private def rewrite(g: Generate, arr0: Expression, outer: Boolean,
      elOut: Attribute, posOut: Option[Attribute],
      /** Some(keyColumn) = MAP explode: `arr0` is a map<string, V>
        * column; `elOut` binds the VALUE, `mapKey` the KEY. */
      mapKey: Option[Attribute] = None): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    // peel the leg ITERATIVELY — the fixed-point batch interleaves
    // ColumnPruning / PushDownPredicates, so Projects, Filters, and a
    // Sample can arrive in any stacking order: accept at most one
    // Project (its aliases inline below), any number of Filters (their
    // conjuncts accumulate; deterministic row-wise predicates commute
    // with the keyed Sample, so the rebuild's Filter-above-Sample order
    // is equivalent), and at most one without-replacement Sample. A
    // Sample stays in place over the unwound relation; sound ONLY when
    // it will push as the engine's deterministic PARENT-keyed window
    // (gated below) — Spark's own Bernoulli over unwound rows would
    // sample ELEMENTS, not parents.
    var pl: Seq[NamedExpression] = Nil
    var fConj: Seq[Expression] = Nil
    var sampleNode: Option[Sample] = None
    var rel: DataSourceV2Relation = null
    var cur: LogicalPlan = g.child
    while (rel == null) cur match {
      case r: DataSourceV2Relation => rel = r
      case Project(p, ch) if pl.isEmpty => pl = p; cur = ch
      case Filter(c, ch) => fConj = fConj ++ splitConjuncts(c); cur = ch
      case s @ Sample(_, _, false, _, ch) if sampleNode.isEmpty =>
        sampleNode = Some(s); cur = ch
      case _ => return None
    }
    val table = rel.table match {
      case t: graft.source.GraftTable => t
      case _ => return None
    }
    if (rel.options.containsKey(graft.query.Unwind.PathKey)) return None
    // COMPUTED columns (r17) and unwinds never combine: the unwound
    // readers/pipelines have no injection seam for derived fields —
    // the Generate stays in Spark (retainJoinPush may still keep a
    // join below it pushed)
    if (rel.options.containsKey(graft.query.ComputedCol.OptionKey)) return None

    // inline project aliases so the exploded expression and the filter
    // speak in relation columns
    val aliasById: Map[ExprId, Expression] =
      pl.collect { case a: Alias => a.exprId -> a.child }.toMap
    def inline(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if aliasById.contains(a.exprId) =>
        aliasById(a.exprId)
    }
    // every project entry must be an attribute or an extraction alias
    // (anything computed would need its own relocation)
    def onRel(e: Expression): Boolean = chainRoot(e).exists(rel.outputSet.contains)
    val plOk = pl.forall {
      case _: AttributeReference => true
      case Alias(chain, _) => onRel(chain)
      case _ => false
    }
    if (!plOk) return None

    val arr = inline(arr0)
    // array mode: the element type; MAP mode: the VALUE type (string
    // keys only — BSON subdocument field names ARE the map keys)
    val elementType = (arr.dataType, mapKey) match {
      case (ArrayType(et, _), None) => et
      case (org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, vt, _), Some(_)) => vt
      case _ => return None
    }
    val arrPath = (if (onRel(arr)) chainPath(arr) else None).getOrElse(return None)
    // if the array column itself (or a struct holding it) survives above
    // the explode, the unwound document cannot carry both the element
    // and the original array at one path — leave the Generate to Spark
    if (g.requiredChildOutput.exists(a =>
        graft.query.Unwind.atOrUnder(arrPath, a.name))) return None
    val existing = Option(rel.options.get("column_mapping"))
      .map(graft.source.ColumnMapping.parse)
      .getOrElse(Map.empty[String, String])
    val head = arrPath.split('.').head
    val mappedPath = existing.get(head)
      .map(h => (h +: arrPath.split('.').toSeq.tail).mkString("."))
      .getOrElse(arrPath)
    val unwind = graft.query.Unwind(mappedPath, outer, mapKv = mapKey.isDefined,
      element = Some(elOut.name), pos = posOut.map(_.name), key = mapKey.map(_.name))
    // the Sample gate: mirror pushTableSample's eligibility against the
    // POST-relocation unwind path — a qualifying parent key means the V2
    // sample pushdown will claim the window (deterministic, md5-keyed,
    // parent-atomic); anything else refuses the relocation outright
    if (sampleNode.isDefined) {
      val keyOk = Option(rel.options.get("sample_key")).exists { k =>
        graft.source.FieldResolve.resolveName(rel.schema, k, existing)
          .exists(ref =>
            graft.source.SamplePush.KeyTypes.contains(ref.dataType) &&
              !unwind.postOnly(ref.docPath))
      }
      // mirror EVERY option-level condition of the transports'
      // pushTableSample (ADVICE r15): a multi-collection file scan
      // refuses the sample push, so relocating under one would leave
      // Spark Bernoulli-sampling unwound ELEMENT rows where the source
      // plan sampled PARENT rows — parent-atomic sampling silently lost
      if (!keyOk || rel.options.containsKey("limit") ||
          rel.options.containsKey("sort") ||
          rel.options.containsKey("collections")) return None
    }
    if (rel.schema.fieldNames.contains(elOut.name)) return None
    // posexplode: the pos column must not shadow a relation column, and
    // the synthetic doc field must be free — neither an existing
    // mapping target nor an (implicitly path-named) relation column,
    // which the injected index would clobber
    if (posOut.exists(p => rel.schema.fieldNames.contains(p.name) ||
        p.name == elOut.name || existing.valuesIterator.contains(PosDocField) ||
        rel.schema.fieldNames.contains(PosDocField)))
      return None
    // MAP explode: the key column and the synthetic kv field must be
    // free, same clobber rules as the pos field
    if (mapKey.exists(k => rel.schema.fieldNames.contains(k.name) ||
        k.name == elOut.name ||
        existing.valuesIterator.exists(graft.query.Unwind.atOrUnder(_, KvDocField)) ||
        rel.schema.fieldNames.contains(KvDocField)))
      return None

    // drop the conjuncts $unwind itself implies for a non-outer explode
    // (vacuous post-unwind, and they would force the array column into
    // the read); everything else re-checks above the unwound relation
    val inlinedArr = arr
    def vacuous(c: Expression): Boolean = !outer && (inline(c) match {
      case IsNotNull(e) => e.semanticEquals(inlinedArr)
      case GreaterThan(Size(e, _), Literal(0, _)) => e.semanticEquals(inlinedArr)
      case _ => false
    })
    val keepConjuncts = fConj.filterNot(vacuous).map(inline)
    // a NONDETERMINISTIC conjunct (e.g. rand() < p) evaluated per-PARENT
    // in the source plan would re-evaluate per-ELEMENT after the
    // relocation — refuse rather than change its row population
    // (ADVICE r15)
    if (keepConjuncts.exists(!_.deterministic)) return None
    // kept filters must be expressible over relation columns, and must
    // not need the array's own column (same one-path constraint)
    if (!keepConjuncts.forall(_.references.subsetOf(rel.outputSet))) return None
    if (keepConjuncts.exists(_.references.exists(a =>
        graft.query.Unwind.atOrUnder(arrPath, a.name)))) return None

    // the parent columns surviving above + any the kept filter needs +
    // (under a carried Sample) the sample key's HEAD column — the later
    // pushTableSample resolves the key against the UNWOUND relation's
    // schema, and a pruned key would refuse the push, leaving Spark's
    // Bernoulli to sample ELEMENTS where the source plan sampled parents
    val parentAttrs: Seq[AttributeReference] = {
      val needed = g.requiredChildOutput.map {
        case a: AttributeReference if rel.outputSet.contains(a) => a
        case a: AttributeReference if aliasById.contains(a.exprId) =>
          // a surviving extraction alias would need its own relocation
          return None
        case _ => return None
      }
      val sampleKeyHead: Option[AttributeReference] =
        if (sampleNode.isEmpty) None
        else Option(rel.options.get("sample_key"))
          .map(_.split('.').head)
          .flatMap(h => rel.output.collectFirst {
            case a: AttributeReference if a.name == h => a
          })
      val extra = AttributeSet(
        keepConjuncts.flatMap(_.references) ++ sampleKeyHead)
        .filterNot(needed.contains).toSeq.collect {
          case a: AttributeReference if rel.outputSet.contains(a) => a
        }
      needed ++ extra
    }

    val newSchema = StructType(
      parentAttrs.map(a => StructField(a.name, a.dataType)) ++
        posOut.map(p => StructField(p.name, p.dataType)) ++
        mapKey.map(k => StructField(k.name,
          org.apache.spark.sql.types.StringType)) :+
        StructField(elOut.name, elementType))
    // array mode: the element column maps to the array path (post-unwind
    // it holds the element); MAP mode: the key/value columns map to the
    // synthetic kv entry the readers/pipelines materialize per entry
    val newMapping = existing ++
      (if (mapKey.isEmpty) Map(elOut.name -> mappedPath)
       else Map(elOut.name -> (KvDocField + ".v"),
         mapKey.get.name -> (KvDocField + ".k"))) ++
      posOut.map(p => p.name -> PosDocField)
    val mappingJson = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(
        newMapping.foldLeft(org.json4s.JObject()) { case (o, (k, v)) =>
          o ~ (k -> v) }))
    }
    val newOpts = new CaseInsensitiveStringMap((rel.options.asScala.toMap ++
      unwind.options + ("column_mapping" -> mappingJson)).asJava)
    val newTable = table.withSchema(newSchema, newOpts.asScala.toMap)
    val elAttr = AttributeReference(elOut.name, elementType,
      nullable = true)(exprId = elOut.exprId)
    val posAttr = posOut.map(p => AttributeReference(p.name, p.dataType,
      nullable = true)(exprId = p.exprId))
    val keyAttr = mapKey.map(k => AttributeReference(k.name,
      org.apache.spark.sql.types.StringType, nullable = true)(exprId = k.exprId))
    val newRel = rel.copy(table = newTable,
      output = parentAttrs ++ posAttr ++ keyAttr :+ elAttr, options = newOpts)
    // the Sample node re-wraps the unwound relation in its original
    // position (Filter stays above it, as in the source plan)
    val withSample = sampleNode
      .map(s => s.copy(child = newRel): LogicalPlan).getOrElse(newRel)
    val withFilter = keepConjuncts.reduceOption(And)
      .map(Filter(_, withSample)).getOrElse(withSample)
    val out: Seq[NamedExpression] =
      g.requiredChildOutput ++ posAttr ++ keyAttr :+ elAttr
    Some(
      if (withFilter.output == g.output) withFilter
      else Project(out, withFilter))
  }

  /** `explode(drivingSide.arr)` ABOVE a join of graft legs (r15): the
    * unwind transposes below the join into the LEFT (driving) leg — the
    * corpus version of the sensors enrichment
    * (examples/sensors/.../DeviceReducer.java:28-40, which re-reduced the
    * flattened join client-side). The same fixed point then relocates
    * the inner Generate into the leg's relation via [[rewrite]], and
    * Spark's join pushdown sees a bare unwound scan — the whole
    * `$match`+`$unwind`+`$match(post)`+`$lookup` runs as ONE pipeline.
    *
    * Soundness of the transpose (unwind-below-join = join-then-unwind):
    * the array is computed from the LEFT leg alone, and the left leg is
    * PRESERVED under INNER and LEFT OUTER — each left row's columns are
    * identical on every joined output row, so exploding k elements of m
    * joined copies gives the same k·m rows either way (m=0 under LEFT
    * OUTER: one null-extended row explodes to k, vs k element rows each
    * null-extended — equal; empty/null arrays drop or null-extend
    * identically per the outer flag on both sides of the transpose).
    * REFUSED: RIGHT OUTER / FULL (a right row matching ONLY
    * empty-array left parents survives null-extended after the
    * transpose but not before), lookup-side arrays (the transpose
    * cannot target the preserved leg), and conditions consuming the
    * array column (the unwound relation no longer exposes it — the
    * inner rewrite's one-path check refuses via neededLeft).
    */
  private def rewriteOverJoin(g: Generate, arr0: Expression, outer: Boolean,
      elOut: Attribute, posOut: Option[Attribute],
      /** Some(keyColumn) = MAP explode over the join (r16): the map is
        * computed from the driving leg alone, so the transpose argument
        * above applies verbatim — k entries × m joined copies commute;
        * the inner rewrite then compiles it to the leg's
        * `$objectToArray`+`$unwind` directive. */
      mapKey: Option[Attribute] = None): Option[LogicalPlan] = {
    val joinEnabled =
      try conf.getConfString(JoinConfKey, "true").toBoolean
      catch { case _: Exception => true }
    if (!joinEnabled) return None
    // peel: [Project(attrs-only,]? [Filter(c,]? Join — the Filter holds
    // InferFiltersFromGenerate's conjuncts (and, once ResidualJoinHoist
    // has run, recheck-wrapped hoisted residuals)
    val (fil, j) = g.child match {
      case jj: Join => (Seq.empty[Expression], jj)
      case Filter(c, jj: Join) => (splitConjuncts(c), jj)
      // a column-pruning Project between the Generate and the Join
      // passes through (attribute-only; the final Project re-selects)
      case Project(pl, jj: Join)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        (Seq.empty[Expression], jj)
      case Project(pl, Filter(c, jj: Join))
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        (splitConjuncts(c), jj)
      case _ => return None
    }
    if (j.joinType != Inner && j.joinType != LeftOuter) return None
    if (arr0.references.isEmpty ||
        !arr0.references.subsetOf(j.left.outputSet)) return None
    // drop the conjuncts `$unwind` itself implies for a non-outer
    // explode (vacuous — and they reference the array column, which the
    // unwound relation no longer exposes); a recheck() wrap is
    // transparent here (the hoisted copy of the same vacuous conjunct)
    def stripRecheck(e: Expression): Expression = e match {
      case Recheck(c) => c
      case other => other
    }
    def vacuous(c: Expression): Boolean = !outer && (stripRecheck(c) match {
      case IsNotNull(e) => e.semanticEquals(arr0)
      case GreaterThan(Size(e, _), Literal(0, _)) => e.semanticEquals(arr0)
      case _ => false
    })
    val keep = fil.filterNot(vacuous)
    // a NONDETERMINISTIC conjunct would move from per-JOINED-row to
    // per-ELEMENT-row evaluation — refuse (ADVICE r15, same rule as the
    // inner rewrite's peel)
    if (keep.exists(!_.deterministic)) return None
    // kept conjuncts re-apply ABOVE the relocated join: they reference
    // parent/right columns (constant per element row — commute with the
    // unwind); one touching the array column refuses (one-path rule)
    if (keep.exists(_.references.exists(a =>
        arr0.references.contains(a)))) return None
    // left attrs needed above the join, by the kept filter, or by the
    // condition
    val neededLeft: Seq[Attribute] = {
      val above = g.requiredChildOutput.filter(j.left.outputSet.contains)
      val more = AttributeSet(
        keep.flatMap(_.references) ++
          j.condition.map(_.references).getOrElse(AttributeSet.empty))
        .filter(j.left.outputSet.contains)
        .filterNot(a => above.exists(_.exprId == a.exprId)).toSeq
      above ++ more
    }
    val unreq = j.left.output.zipWithIndex
      .filterNot { case (a, _) => neededLeft.exists(_.exprId == a.exprId) }
      .map(_._2)
    val innerG = Generate(g.generator, unreq, outer, g.qualifier,
      posOut.toSeq ++ mapKey :+ elOut, j.left)
    // `relocate`, not `rewrite`: a chained star query nests joins, and
    // the unwind transposes through each preserved left leg in turn
    relocate(innerG, arr0, outer, elOut, posOut, mapKey).map { newLeft =>
      val newJoin = Join(newLeft, j.right, j.joinType, j.condition,
        j.hint)
      val withFilter = keep.reduceOption(And)
        .map(Filter(_, newJoin)).getOrElse(newJoin)
      val out: Seq[NamedExpression] =
        g.requiredChildOutput ++ posOut ++ mapKey :+ elOut
      if (withFilter.output == out) withFilter else Project(out, withFilter)
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
