package graft.source

import graft.bson.{BDate, BInt64, BString, BsonValue}
import graft.query.{BQuery, ComputedCol, FilterTranslator}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources.{Filter, IsNotNull, IsNull}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** The pushdown core shared by the graftbson and graftserver scan
  * builders — the reference's one engine-like capability, filter /
  * projection / sort / limit / skip pushed into the cursor
  * (MongoInputSplit.java:272-299). Pure functions from Spark's pushed
  * filters, TopN orders and sample keys to the engine's [[BQuery]]s,
  * pushdown specs and residuals; each builder keeps
  * only its own state, rendering and evaluation.
  *
  * Transport differences arrive as DATA, never as a branch on the
  * caller: the type gates (predicates over the resolved column, which
  * the builders ask of [[ReadModel]]) and the transport's provenance
  * metadata column name (`_file` / `_ns`).
  * A refused pushdown is `None`; Spark then keeps the operator.
  */
object Pushdown {

  /** A scan's column surface: the read schema, the `column_mapping`
    * (Spark column -> dotted doc field) and the DERIVED
    * `computed_columns`, which have no stored field: the pushed query and
    * every cursor-level sort/probe/sample evaluate on STORED docs. */
  final case class Columns(schema: StructType,
      mapping: Map[String, String] = Map.empty,
      computed: Seq[ComputedCol] = Nil) {
    private val computedOuts = computed.map(_.out).toSet
    /** Whether the HEAD of a column name or doc path is a computed column. */
    def isComputed(path: String): Boolean =
      computedOuts.contains(path.split('.').head)
    def resolve(e: Expression): Option[FieldResolve.Ref] =
      FieldResolve.resolve(schema, e, mapping)
  }
  object Columns {
    def of(schema: StructType, options: Map[String, String]): Columns =
      Columns(schema, ColumnMapping.fromOptions(options),
        ComputedCol.fromOptions(options))
  }

  /** `query` = the pushed document query; `post` = the POST-unwind
    * element query (True without an unwind); `pushed` = the filters both
    * accepted; `residual` = what Spark re-checks above the scan. */
  final case class FilterSplit(query: BQuery, post: BQuery,
      pushed: Array[Filter], residual: Array[Filter])

  /** The shared filter split:
    *
    *  1. a predicate on the metadata column `metaCol` is NOT a document
    *     query — residual; so is anything `keepResidual` claims (the
    *     caller's wire-only refusals);
    *  2. COMPUTED columns: null tests rewrite EXACTLY to the same test on
    *     the source field — `mod`/`pmod` are null iff their input is
    *     null/missing (a non-numeric storage fails loud on both sides) —
    *     so Spark's inferred join-key `isnotnull` does not block a
    *     derived-key push. The rewrite names the SPARK column that reads
    *     the source field, never the raw doc path: the translator
    *     re-applies the column_mapping, so a doc path equal to another
    *     mapped column's name would address the wrong stored field. No
    *     unambiguous reader → the test stays residual. Every other filter
    *     on a derived field is residual (exact over the injected value);
    *  3. a filter touching the UNWOUND element column (or a struct-element
    *     SUBFIELD, `entry.lang` for explode(array<struct>), or the
    *     posexplode pos / map-explode key column) becomes the POST-unwind
    *     query: after the unwind the path holds the ELEMENT, so the normal
    *     translation carries Spark's row semantics, where pre-unwind it
    *     would carry ∃-element semantics;
    *  4. [[FilterTranslator.split]] on the element and document filters.
    */
  def splitFilters(cols: Columns, unwind: Option[graft.query.Unwind],
      filters: Array[Filter], metaCol: String,
      keepResidual: Filter => Boolean = _ => false): FilterSplit = {
    val (metaFilters, rest0) = filters.partition(_.references.contains(metaCol))
    val (keptFilters, rest1) = rest0.partition(keepResidual)
    def sourceSparkCol(out: String): Option[String] =
      ColumnMapping.sparkColFor(cols.mapping, cols.computed.find(_.out == out).get.field)
    def derived(a: String): Boolean = cols.computed.exists(_.out == a)
    val rest2 = rest1.map {
      case f @ IsNotNull(a) if derived(a) => sourceSparkCol(a).map(IsNotNull(_)).getOrElse(f)
      case f @ IsNull(a) if derived(a) => sourceSparkCol(a).map(IsNull(_)).getOrElse(f)
      case other => other
    }
    val (computedFilters, rest) = rest2.partition(_.references.exists(cols.isComputed))
    val (elementFilters, docFilters) = rest.partition(f =>
      f.references.exists(r => unwind.exists(_.scopes(r))))
    val (postQ, postAccepted, postResidual) =
      FilterTranslator.split(elementFilters, cols.mapping)
    val (query, accepted, residual) = FilterTranslator.split(docFilters, cols.mapping)
    FilterSplit(query, postQ, accepted ++ postAccepted,
      residual ++ postResidual ++ metaFilters ++ keptFilters ++ computedFilters)
  }

  /** The `sample_key` option resolved for a pushed TABLESAMPLE: it may
    * name a NESTED subfield (`meta.id`) — the keep-predicate extracts by
    * dotted path. Refused: a key outside [[SamplePush.KeyTypes]], a
    * COMPUTED key (a derived bin collides all rows of a bin, and no
    * stored field exists to sample), and under an unwind a key that is
    * not a per-PARENT field: under a pushed unwind the window keeps or
    * drops PARENTS with all their element rows, so a key bound per row
    * ([[graft.query.Unwind.postOnly]]) cannot be evaluated. The
    * relocation rule applies the same test before it unwinds a sampled
    * relation. */
  def sampleKey(cols: Columns, options: Map[String, String],
      unwind: Option[graft.query.Unwind]): Option[FieldResolve.Ref] =
    options.get("sample_key")
      .flatMap(k => FieldResolve.resolveName(cols.schema, k, cols.mapping))
      .filter(r => SamplePush.KeyTypes.contains(r.dataType) &&
        !cols.isComputed(r.docPath) && !unwind.exists(_.postOnly(r.docPath)))

  /** ORDER BY k1[, k2, ...] of a TopN: each key resolved (possibly a
    * NESTED subfield — `meta.score` arrives as a multi-part reference)
    * with its direction (true = DESC). Every key must pass `typeOk`, must
    * not be COMPUTED (a bounded heap or cursor sort reads stored docs),
    * and must use Spark's default null ordering for its direction (ASC
    * NULLS FIRST / DESC NULLS LAST — both BSON's order and the file
    * reader's bounded selector). */
  def topNOrder(cols: Columns, orders: Array[SortOrder],
      typeOk: FieldResolve.Ref => Boolean): Option[Seq[(FieldResolve.Ref, Boolean)]] = {
    val spec = orders.toSeq.map { o =>
      val desc = o.direction == SortDirection.DESCENDING
      val nullsOk = o.nullOrdering ==
        (if (desc) NullOrdering.NULLS_LAST else NullOrdering.NULLS_FIRST)
      cols.resolve(o.expression)
        .filter(r => nullsOk && typeOk(r) && !cols.isComputed(r.docPath))
        .map(r => (r, desc))
    }
    if (spec.isEmpty || spec.contains(None)) None else Some(spec.flatten)
  }

  /** Pre-unwind PARENT prune ([[BQuery.parentPrune]]) of a pushed
    * post-unwind match: parents with no satisfying element drop BEFORE
    * the per-element flatten — a prune, never the filter (the exact post
    * match still runs on unwound docs). Only for a non-OUTER array
    * unwind (an OUTER parent with no matching element still owes its
    * null-element row to a null-matching post query; a map's entries
    * live at the kv field, never under its path). Skipped for ARRAY/MAP
    * elements (nested-array ElemMatch traversal is a documented
    * divergence). */
  def unwindPrune(schema: StructType, unwind: Option[graft.query.Unwind],
      post: BQuery): BQuery = {
    val safe = unwind.exists(u => !u.outer && !u.mapKv &&
      u.element.forall(e =>
        schema.fields.find(_.name == e).forall(_.dataType match {
          case _: ArrayType | _: MapType => false
          case _ => true
        })))
    if (!safe || post == BQuery.True) BQuery.True
    else BQuery.parentPrune(post, unwind.get.path)
  }

  /** Columns a scan advertises for runtime (dynamic) filtering: the
    * split key and `_id`, under the Spark column that READS them. Never a
    * COMPUTED column: the runtime values would narrow STORED docs, where
    * the synthetic field does not exist. */
  def runtimeFilterAttributes(cols: Columns, options: Map[String, String],
      readSchema: StructType): Array[NamedReference] =
    Seq(options.getOrElse("key", "_id"), "_id").distinct
      .filterNot(k => cols.computed.exists(_.out == k))
      .flatMap(ColumnMapping.sparkColFor(cols.mapping, _))
      .filter(readSchema.fieldNames.contains)
      .map(c => Expressions.column(c): NamedReference)
      .toArray

  /** Runtime IN-sets from Spark's dynamic filtering (join-key values
    * observed on the other side), keyed by Spark column. A degenerate
    * giant IN-set (> 10000 values) costs more per row / per split than it
    * prunes: none then. */
  def runtimeIn(predicates: Array[Predicate]): Map[String, Seq[BsonValue]] = {
    val merged = predicates.toSeq.flatMap(RuntimeFilters.parse).groupBy(_._1)
      .map { case (c, vs) => c -> vs.flatMap(_._2).distinct }
    if (merged.valuesIterator.map(_.size).sum > 10000) Map.empty else merged
  }

  /** AND-compose runtime IN-sets (keyed by DOC field) into `q` — the rows
    * they drop are exactly the rows the join above would drop. The join
    * compares READ values, so strings and longs use the read-semantics
    * forms, and TimestampType values (BDate millis) match both timestamp
    * storages. */
  def withRuntimeIn(q: BQuery, in: Iterable[(String, Seq[BsonValue])]): BQuery =
    in.foldLeft(q) { case (acc, (f, vs)) =>
      val strs = vs.collect { case BString(s) => s }
      val longs = vs.collect { case BInt64(x) => x }
      val dates = vs.collect { case BDate(ms) => ms }
      BQuery.and(acc,
        if (strs.size == vs.size) BQuery.ReadStrIn(f, strs)
        else if (longs.size == vs.size) BQuery.ReadLongIn(f, longs)
        else if (dates.size == vs.size && vs.nonEmpty)
          BQuery.ReadTimeIn(f, dates.map(_ * 1000L))
        else BQuery.In(f, vs))
    }
}

object ColumnMapping {
  /** Parse {"sparkCol": "doc.field", ...}. */
  def parse(json: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json).asInstanceOf[JObject].obj.map {
      case (k, JString(v)) => k -> v
      case (k, other) => throw new IllegalArgumentException(
        s"column_mapping value for $k must be a string, got $other")
    }.toMap
  }

  /** The `column_mapping` option, or no mapping. */
  def fromOptions(options: Map[String, String]): Map[String, String] =
    options.get("column_mapping").map(parse).getOrElse(Map.empty)

  /** The Spark column that READS doc field `f`: an explicit mapping entry
    * wins; the bare name is only valid when that column is not itself
    * remapped to a different doc field. */
  def sparkColFor(mapping: Map[String, String], f: String): Option[String] =
    mapping.find(_._2 == f).map(_._1)
      .orElse(if (mapping.contains(f)) None else Some(f))
}

/** A pushed TABLESAMPLE (SupportsPushDownTableSample), shared by both
  * sources: DETERMINISTIC keyed Bernoulli over the `sample_key` option's
  * column — keep a document iff the 60-bit md5 prefix of
  * `"<seed>:<canonical key rendering>"` falls in
  * `[floor(lower·2^60), floor(upper·2^60))`. Source-defined sampling
  * semantics (the same latitude JDBC sources use to map TABLESAMPLE onto
  * dialect clauses): repeatable across runs, partitionings and engines —
  * the DuckDB oracle computes the identical predicate as
  * `CAST(concat('0x', substr(md5(concat('<seed>:', CAST(k AS VARCHAR))),
  * 1, 15)) AS BIGINT)` — unlike Spark's own per-partition-seeded Sample,
  * at the price of requiring an explicit key. The [lower, upper) window
  * form also serves `randomSplit` (disjoint windows = disjoint,
  * exhaustive splits). Null/missing keys never sample in. The reference
  * has no row sampling; its `$sample` splitter
  * (core/.../splitter/SampleSplitter.java:79-88) samples split BOUNDS —
  * this is the row-level counterpart with reproducibility the server's
  * random `$sample` stage cannot give.
  */
final case class SamplePush(key: String, lower: Double, upper: Double,
    seed: Long) extends Serializable {
  /** Inclusive-lower / exclusive-upper 60-bit thresholds; floor(x·2^60)
    * in IEEE double, identical in DuckDB's `CAST(floor(x *
    * 1152921504606846976.0) AS BIGINT)`. */
  val lowerBound: Long = math.floor(lower * SamplePush.Unit60).toLong
  val upperBound: Long = math.floor(upper * SamplePush.Unit60).toLong

  def keep(doc: graft.bson.BDoc): Boolean =
    doc.getPath(key).flatMap(SamplePush.render) match {
      case Some(s) =>
        val h = graft.functions.Md5Util.prefix60(
          (seed.toString + ":" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        h >= lowerBound && h < upperBound
      case None => false
    }

  override def toString = s"SAMPLE($key, [$lower, $upper), seed=$seed)"
}
object SamplePush {
  /** 2^60 — the hash universe of [[graft.functions.Md5Util.prefix60]]. */
  val Unit60: Double = 1152921504606846976.0d

  /** Canonical key rendering: integers in decimal (int32 and int64
    * storages of one value render identically — SQL `CAST(k AS VARCHAR)`
    * parity), strings raw. Anything else (null, missing, double, date,
    * ...) refuses — the builder only accepts Int/Long/String sample keys.
    */
  def render(v: graft.bson.BsonValue): Option[String] = v match {
    case graft.bson.BInt32(x) => Some(x.toString)
    case graft.bson.BInt64(x) => Some(x.toString)
    case graft.bson.BString(s) => Some(s)
    case _ => None
  }

  /** Spark types a sample key may have: exact canonical rendering on
    * every storage either source can read into them (int32/int64 decimal
    * for the numeric types, raw bytes for strings). */
  val KeyTypes: Set[DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, StringType)
  }
}

/** One aggregate inside a pushed GROUPED aggregation, rendered into the
  * server's `$group` pipeline (`graft.server.QueryDocs.groupStages`); the
  * file source takes only a bare COUNT(*) ([[GroupedAgg.countOnly]]).
  */
sealed trait GroupAgg extends Serializable { def alias: String }
object GroupAgg {
  final case class CountAll(alias: String) extends GroupAgg
  /** COUNT(col): non-null, non-missing values only (Spark semantics; the
    * server renders it as `$sum` of a `$cond` on the value's `$type`). */
  final case class CountCol(col: String, alias: String) extends GroupAgg
  final case class MinOf(col: String, alias: String) extends GroupAgg
  final case class MaxOf(col: String, alias: String) extends GroupAgg
  final case class SumOf(col: String, alias: String) extends GroupAgg
}

/** A pushed grouped aggregation: group columns (doc paths with their
  * Spark types — empty for a GLOBAL aggregate) and each aggregate with
  * its partial-result Spark type. The pushdown is PARTIAL: each server
  * namespace answers one `$match`+`$group` round-trip (each file or
  * namespace one stored count for a bare COUNT(*)), and Spark's final
  * aggregate re-groups and merges the partial rows.
  */
final case class GroupedAgg(
    groupCols: Seq[(String, DataType)],
    items: Seq[(GroupAgg, DataType)]) {
  /** GLOBAL COUNT(*)s only: what a stored doc count answers. */
  def countOnly: Boolean =
    groupCols.isEmpty && items.forall(_._1.isInstanceOf[GroupAgg.CountAll])
  def schema: StructType = StructType(
    groupCols.map { case (c, dt) => StructField(c, dt) } ++
      items.map { case (g, dt) => StructField(g.alias, dt) })
  /** The partial states of a group that absorbed no rows — counts 0,
    * MIN/MAX/SUM null: the row a GLOBAL aggregate over nothing emits, so
    * Spark's final fold (which rewrites COUNT(*) as a SUM of partials)
    * returns 0, not NULL (the q58 zero-partition lesson). */
  def emptyPartial: Array[Any] = items.map {
    case (GroupAgg.CountAll(_) | GroupAgg.CountCol(_, _), _) => 0L: Any
    case _ => null
  }.toArray
  /** `rows`, or the one [[emptyPartial]] row when a GLOBAL aggregate
    * produced none (a `$group` over nothing emits no doc). */
  def orEmpty(rows: Iterator[InternalRow]): Iterator[InternalRow] =
    if (groupCols.nonEmpty || rows.hasNext) rows
    else Iterator.single(new GenericInternalRow(emptyPartial))
  override def toString: String =
    (if (groupCols.isEmpty) "GLOBAL"
     else s"GROUP BY ${groupCols.map(_._1).mkString(", ")}") +
      s" [${items.map(_._1.alias).mkString(", ")}]"
}
object GroupedAgg {
  def of(p: GroupAggParse.Parsed): GroupedAgg =
    GroupedAgg(p.groupCols.map(r => (r.docPath, r.dataType)), p.items)
}
