package graft.source

import graft.bson.BsonValue
import graft.query.{BQuery, ComputedCol, Unwind}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** One DSv2 scan skeleton for both transports: [[GraftTable]],
  * [[GraftScanBuilder]], [[GraftScan]] and [[GraftReaderFactory]] hold
  * everything the BSON dump files (`graftbson`) and the served
  * collections (`graftserver`) share. A `Transport` supplies only what
  * really differs, as data: its names and metadata column, the
  * [[ReadModel]] evaluator its pushes run on, how its option-level
  * query is gated, whether a query renders fully at the source, and its
  * partition planning and readers. Shared code never asks which
  * transport it serves, and every scan spells its plan through
  * [[GraftScan.describe]].
  */
trait Transport extends Serializable {
  /** Format short name: the table-name prefix and error-message prefix. */
  def name: String
  /** The option naming what a table reads (`path` / `ns`). */
  def targetOption: String
  /** The provenance metadata column (`_file` / `_ns`) and its comment. */
  def metaCol: String
  def metaComment: String
  /** Whether the table supports TRUNCATE (batch overwrite). */
  def truncates: Boolean

  def newScanBuilder(schema: StructType, options: Map[String, String]): ScanBuilder
  def newWriteBuilder(info: LogicalWriteInfo, options: Map[String, String]): WriteBuilder

  // ---- builder: gates ----

  /** Rejects options this transport cannot honour (at builder creation). */
  def checkOptions(options: Map[String, String]): Unit = ()
  /** Filters kept residual before the shared split (wire-only refusals). */
  def keepResidual(cols: Pushdown.Columns): Filter => Boolean = _ => false
  /** The last rewrite of a pushed query (document or post-unwind). */
  def finishQuery(q: BQuery, options: Map[String, String]): BQuery = q
  /** The option-level `query`, gated for where this transport evaluates it. */
  def optionQuery(options: Map[String, String]): BQuery
  /** Whether `q` runs entirely at the source, so rows it drops need no
    * client-side re-check. */
  def rendersFully(q: BQuery): Boolean = true
  /** Whether the scan provably runs as ONE cursor (the soundness of a
    * pushed OFFSET, which Spark removes from the plan). */
  def singleCursor(options: Map[String, String]): Boolean
  /** Whether a pushed TopN replaces the option-level cursor `sort`
    * (otherwise that option refuses it). */
  def topNOverridesSort: Boolean
  /** Whether the source folds a pushed aggregate (a `$group`); without
    * one, only a bare COUNT(*) ([[ScanSpec.bareCount]]) pushes, and Spark
    * folds every other aggregate over the pruned, filtered scan. */
  def foldsAggregates: Boolean
  /** The evaluator a pushed TopN and every pushed aggregate run on; their
    * type gates are [[ReadModel]]'s cells for it. */
  def evaluator: ReadModel.Evaluator

  // ---- scan ----

  /** Stored bytes and, when known exactly, rows of the scanned target. */
  def stats(spec: ScanSpec, options: Map[String, String]): (Long, Option[Long])
  /** Whether the option-level cursor `sort` still orders a partition's
    * rows under a pushed unwind. */
  def sortSurvivesUnwind: Boolean
  /** Whether runtime IN-sets may narrow an unwound scan. */
  def runtimeFiltersUnderUnwind: Boolean
  /** Partitions of a scan; `runtimeIn` = Spark's runtime IN-sets by doc field. */
  def planPartitions(spec: ScanSpec, options: Map[String, String],
      runtimeIn: Map[String, Seq[BsonValue]]): Array[InputPartition]
  def createReader(p: InputPartition, spec: ScanSpec,
      options: Map[String, String]): PartitionReader[InternalRow]
  def microBatchStream(spec: ScanSpec, options: Map[String, String]): MicroBatchStream
}

/** A pushed TopN: (doc path, descending, read type) per order key, and n. */
final case class TopN(keys: Seq[(String, Boolean, DataType)], n: Int) {
  /** (doc path, descending) per key — a cursor's compound sort. */
  def sortSpec: Seq[(String, Boolean)] = keys.map(k => (k._1, k._2))
}
object TopN {
  /** The first `k` items of a STABLE sort under `cmp`, kept in a bounded
    * heap (O(n log k) time, k live items) instead of sorting the whole
    * input: graftbson's TopN reader and the fake server's sort-with-limit
    * cursor tail. Ties keep input order (the sequence number joins the
    * heap key), so the result is element-for-element identical to
    * `items.toVector.sorted(cmp).take(k)`.
    */
  def stableTopK[A](items: Iterator[A], cmp: Ordering[A], k: Int): Iterator[A] = {
    if (k <= 0) return Iterator.empty
    val ord: java.util.Comparator[(A, Long)] = (a, b) => {
      val c = cmp.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    // max-heap of the k smallest (cmp, seq) pairs; a later item ties
    // after every kept one, so it enters only when strictly smaller
    val heap = new java.util.PriorityQueue[(A, Long)](math.min(k, 1024), ord.reversed())
    var seq = 0L
    items.foreach { x =>
      if (heap.size < k) heap.add((x, seq))
      else if (cmp.compare(x, heap.peek()._1) < 0) { heap.poll(); heap.add((x, seq)) }
      seq += 1
    }
    // the heap drains worst-first
    var out = List.empty[A]
    while (!heap.isEmpty) out = heap.poll()._1 :: out
    out.iterator
  }
}

/** Everything a pushed plain scan carries, on either transport, from the
  * builder through the scan and reader factory to every reader:
  *
  *  - `required`: the read schema Spark pruned to (a live metadata column
  *    included); `mapping`/`computed`: `column_mapping` and the DERIVED
  *    `computed_columns`; `meta`: the metadata column is live;
  *  - `query`: option-level AND pushed query AND the pre-unwind parent
  *    prune; `unwind`/`unwindPost`: a pushed `$unwind` and its
  *    post-unwind match;
  *  - `limit` (Spark's pushed LIMIT), `offset`, `topN`: the row tails;
  *  - `grouped`: a pushed aggregate (a global one has no group columns);
  *    `sample`: a pushed TABLESAMPLE.
  *
  * A partition keeps only what differs per partition.
  */
final case class ScanSpec(
    required: StructType,
    query: BQuery = BQuery.True,
    unwind: Option[Unwind] = None,
    unwindPost: BQuery = BQuery.True,
    limit: Option[Int] = None,
    offset: Option[Int] = None,
    topN: Option[TopN] = None,
    grouped: Option[GroupedAgg] = None,
    sample: Option[SamplePush] = None,
    computed: Seq[ComputedCol] = Nil,
    mapping: Map[String, String] = Map.empty,
    meta: Boolean = false) {
  /** Pushed LIMIT/TopN/OFFSET count UNWOUND rows: the tail runs after the
    * unwind (an option-level PARENT cursor limit keeps its pre-unwind
    * semantics when this is false). */
  def tailsPostUnwind: Boolean =
    unwind.isDefined && (limit.isDefined || topN.isDefined || offset.isDefined)
  def readSchema: StructType = grouped.map(_.schema).getOrElse(required)
  def cols: Pushdown.Columns = Pushdown.Columns(required, mapping, computed)
  /** TopN's n, or the pushed limit (never both: Spark pushes one). */
  def rowCap: Option[Int] = topN.map(_.n).orElse(limit)
  /** The scan reads every stored doc once: no query, unwind, sample or
    * limit narrows or widens it. */
  def wholeTarget: Boolean =
    query == BQuery.True && unwind.isEmpty && sample.isEmpty && limit.isEmpty
  /** A bare COUNT(*) of every stored doc, which each transport answers
    * from its stored doc count without reading a body (graftbson's
    * [[FileStats]], graftserver's collStats). */
  def bareCount: Boolean = wholeTarget && grouped.exists(_.countOnly)
}

/** The table of either format: its metadata column, capabilities, scan
  * and write builders come from the transport. */
final class GraftTable(tableSchema: StructType, properties: Map[String, String],
    val transport: Transport)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {

  /** Provenance metadata (`_file` = the dump file a row was decoded from,
    * `_ns` = the namespace its cursor read): populated per partition by
    * the reader; filters on it stay ABOVE the scan (a metadata name is
    * not a document field); a data column of the same name shadows it
    * (Spark's rule). */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = transport.metaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = transport.metaComment
    })

  override def name(): String =
    s"${transport.name}:${properties.getOrElse(transport.targetOption, "?")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
    if (transport.truncates) caps.add(TableCapability.TRUNCATE)
    caps
  }

  /** The same table over another schema and options (plan rules that add
    * derived, unwound or extracted columns). */
  def withSchema(schema: StructType, props: Map[String, String]): GraftTable =
    new GraftTable(schema, props, transport)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    transport.newScanBuilder(tableSchema, properties ++ options.asScala)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    transport.newWriteBuilder(info, properties ++ info.options().asScala)
}

/** The pushdowns of a plain scan, once for both transports, over the
  * transport-neutral planning of [[Pushdown]]. Every push is reported
  * PARTIAL where Spark allows it (limit, TopN, aggregates), so Spark's
  * own operator re-applies the global semantics over per-partition
  * results.
  *
  * Options that shape the cursor: `sort` (a per-partition cursor sort),
  * `limit` (graftbson's per-partition cursor limit) and `collections`
  * (graftbson's per-entry overrides); `column_mapping` and
  * `computed_columns` name the document home of each column, and
  * `unwind_*` (injected by the UnwindRelocate rule) a pushed `$unwind`.
  */
class GraftScanBuilder(tableSchema: StructType, options: Map[String, String],
    transport: Transport)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownOffset with SupportsPushDownAggregates
    with SupportsPushDownTopN with SupportsPushDownTableSample {

  transport.checkOptions(options)

  /** The column surface: mapped columns resolve to their document home,
    * and DERIVED columns, which have no stored field, stay out of the
    * pushed query and every cursor-level sort/probe/sample key. */
  protected val cols: Pushdown.Columns = Pushdown.Columns.of(tableSchema, options)
  protected def mapping: Map[String, String] = cols.mapping

  /** A pushed `$unwind`: element/pos filters push as the POST-unwind
    * match, LIMIT/TopN/OFFSET tails count unwound rows, and the parent
    * prune drops non-contributing parents pre-unwind. */
  protected val unwind: Option[Unwind] = Unwind.fromOptions(options)
  protected var unwindPost: BQuery = BQuery.True

  private var required: StructType = tableSchema
  protected var pushedQuery: BQuery = BQuery.True
  private var pushed: Array[Filter] = Array.empty
  protected var residuals: Array[Filter] = Array.empty
  protected var limit: Option[Int] = None
  protected var offset: Option[Int] = None
  protected var topN: Option[TopN] = None
  protected var groupedAgg: Option[GroupedAgg] = None
  protected var sample: Option[SamplePush] = None

  private def optSort: Boolean = options.contains("sort")
  private def optLimit: Boolean = options.contains("limit")
  private def optCollections: Boolean = options.contains("collections")

  private lazy val optionQuery: BQuery = transport.optionQuery(options)

  /** This side's full builder-time query: option-level AND pushed. */
  protected def builderQuery: BQuery = BQuery.and(optionQuery, pushedQuery)

  /** The query a plain scan runs: [[builderQuery]] AND the pre-unwind
    * PARENT prune ([[Pushdown.unwindPrune]]) when it renders fully — a
    * client-side superset re-check would be pure overhead on top of the
    * exact post match. */
  protected def scanQuery: BQuery = {
    val prune = Pushdown.unwindPrune(tableSchema, unwind, unwindPost)
    BQuery.and(builderQuery, if (transport.rendersFully(prune)) prune else BQuery.True)
  }

  /** A predicate on the metadata column is not a document query
    * (residual); the rest is [[Pushdown.splitFilters]]. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val split = Pushdown.splitFilters(cols, unwind, filters, transport.metaCol,
      keepResidual = transport.keepResidual(cols))
    unwindPost = transport.finishQuery(split.post, options)
    pushedQuery = transport.finishQuery(split.query, options)
    pushed = split.pushed
    residuals = split.residual
    residuals
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Pushed TABLESAMPLE: the DETERMINISTIC keyed Bernoulli of
    * [[SamplePush]] over the `sample_key` column, evaluated by the reader
    * right after the pushed query. Row-position pushdowns (limit, offset,
    * TopN) and aggregates refuse while a sample is pushed, and vice
    * versa: they would count or fold UNSAMPLED rows. */
  override def pushTableSample(lower: Double, upper: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    val keyCol = Pushdown.sampleKey(cols, options, unwind)
    val eligible = !withReplacement && keyCol.isDefined &&
      !optCollections && !optLimit &&
      limit.isEmpty && offset.isEmpty && topN.isEmpty && groupedAgg.isEmpty
    if (eligible) sample = Some(SamplePush(keyCol.get.docPath, lower, upper, seed))
    eligible
  }

  /** Eligibility of a row tail (LIMIT / TopN / OFFSET) over an UNWOUND
    * scan: the tail counts unwound rows, so both queries must render
    * fully at the source (no client re-check after the tail), and no
    * PARENT-cursor option (`sort`, `limit`, a `collections` entry's
    * limit or sort) may shape the cursor. */
  protected def unwoundTailOk: Boolean =
    unwind.isDefined && residuals.isEmpty && !optSort && !optLimit &&
      !options.get("collections").exists(json =>
        MultiCollections.parse(json).exists(c => c.limit.isDefined || c.sort.isDefined)) &&
      transport.rendersFully(builderQuery) && transport.rendersFully(unwindPost)

  /** Per-partition limit (the reference pushes limit per split,
    * MongoInputSplit.java:291-296, which is only globally correct with
    * one partition — so report partial and let Spark re-apply the global
    * one). A sampled prefix may be shorter than the limit needs. */
  override def pushLimit(n: Int): Boolean =
    if (sample.isDefined || (unwind.isDefined && !unwoundTailOk)) false
    else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Offset (skip) pushdown — the mongo.input.skip analog. Spark removes
    * an accepted OFFSET from the plan, so it is accepted only when the
    * scan provably runs as ONE cursor. */
  override def pushOffset(n: Int): Boolean =
    if (transport.singleCursor(options) && residuals.isEmpty &&
        groupedAgg.isEmpty && topN.isEmpty && sample.isEmpty && (unwind.isEmpty || unwoundTailOk)) {
      offset = Some(n); true
    } else false

  /** ORDER BY k1[, k2, ...] LIMIT n per partition (`cursor.sort().limit()`,
    * MongoInputSplit.java:281-296), reported PARTIAL: each partition
    * returns its local top-n, a superset of its contribution to the
    * global one, and Spark folds them. Every key passes
    * [[ReadModel]]'s ORDER cell on the transport's evaluator. Residual
    * filters refuse (a pre-filter top-n might not survive them), and so
    * do the option-level cursor limit and multi-collection entries. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val eligible = residuals.isEmpty && groupedAgg.isEmpty &&
      limit.isEmpty && offset.isEmpty && sample.isEmpty &&
      !optCollections && !optLimit && (!optSort || transport.topNOverridesSort) &&
      (unwind.isEmpty || unwoundTailOk)
    if (!eligible) return false
    topN = Pushdown.topNOrder(cols, orders,
      r => ReadModel.exact(ReadModel.Order, r, transport.evaluator, options))
      .map(keys => TopN(keys.map { case (r, desc) => (r.docPath, desc, r.dataType) }, n))
    topN.isDefined
  }

  /** Aggregate pushdown: grouped (or global: no group keys) partials,
    * answered by one `$match`+`$group` pipeline per namespace on a
    * transport that [[Transport.foldsAggregates]]; a bare COUNT(*)
    * ([[ScanSpec.bareCount]]) reads each file's or namespace's stored doc
    * count instead, on either transport. (AVG arrives here as Spark's
    * SUM+COUNT rewrite.) Reported PARTIAL: Spark's final aggregate
    * re-groups and folds the partial rows, for any number of partitions.
    *
    * Group keys group by the READ value (exact — Spark re-groups the
    * same values); keys, MIN/MAX and SUM pass [[ReadModel]]'s GROUP,
    * ORDER and SUM cells on the transport's evaluator. The whole query,
    * and the post-unwind match between `$unwind` and the fold, must run
    * at the source: rows are gone after grouping, so a residual cannot
    * be re-checked. A `$group` computes over the unsampled collection,
    * so a pushed sample refuses. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val eligible = residuals.isEmpty && limit.isEmpty && offset.isEmpty &&
      topN.isEmpty && sample.isEmpty && !optCollections && !optLimit &&
      transport.rendersFully(builderQuery) && transport.rendersFully(unwindPost)
    if (!eligible) return false
    def ok(c: ReadModel.Comparison)(r: FieldResolve.Ref) =
      ReadModel.exact(c, r, transport.evaluator, options)
    groupedAgg = GroupAggParse.parse(aggregation, cols.resolve,
      ok(ReadModel.Group), ok(ReadModel.Order), ok(ReadModel.Sum)).map(GroupedAgg.of)
      .filter(g => transport.foldsAggregates || spec(Some(g)).bareCount)
    groupedAgg.isDefined
  }

  private def spec(grouped: Option[GroupedAgg]): ScanSpec =
    ScanSpec(required, scanQuery, unwind, unwindPost, limit, offset, topN,
      grouped, sample, cols.computed, mapping,
      // live only when requested AND not shadowed by a data column of the
      // same name (Spark's rule)
      meta = required.fieldNames.contains(transport.metaCol) &&
        !tableSchema.fieldNames.contains(transport.metaCol))

  override def build(): Scan = new GraftScan(spec(groupedAgg), options, transport)
}

/** The plain scan of either transport over its [[ScanSpec]]. */
final class GraftScan(val spec: ScanSpec, options: Map[String, String],
    transport: Transport)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportOrdering with SupportsRuntimeV2Filtering {

  /** Runtime IN-sets from Spark's dynamic filtering (join-key values
    * observed on the other side at execution time), keyed by DOC field.
    * They prune key-range partitions (never one that could hold a
    * matching read value) and AND-compose into the partition query — all
    * safe under the runtime-filter contract: rows the filter drops, the
    * join drops anyway. */
  @volatile private var runtimeIn: Map[String, Seq[BsonValue]] = Map.empty

  private val cols = spec.cols

  override def filterAttributes(): Array[NamedReference] =
    // a pushed limit/offset/top-n counts or keeps rows of the UNFILTERED
    // stream; a pushed aggregate never scans row-wise
    if (spec.grouped.isDefined || spec.limit.isDefined ||
        spec.offset.isDefined || spec.topN.isDefined ||
        options.contains("collections") || options.contains("limit") ||
        (spec.unwind.isDefined && !transport.runtimeFiltersUnderUnwind)) Array.empty
    else Pushdown.runtimeFilterAttributes(cols, options, spec.required)

  override def filter(predicates: Array[Predicate]): Unit =
    runtimeIn = Pushdown.runtimeIn(predicates).map { case (c, vs) =>
      spec.mapping.getOrElse(c, c) -> vs }

  override def readSchema(): StructType = spec.readSchema
  override def toBatch: Batch = this

  /** A size estimate so Catalyst can pick broadcast joins for small
    * targets (the stats role collstats plays in the reference's planning,
    * MongoSplitterFactory.java:66-83). A pushed sample scales it by its
    * window — the sampled side of a join should look as small as it is. */
  override def estimateStatistics(): Statistics =
    GraftScan.statistics(spec.sample.toSeq)(transport.stats(spec, options))

  /** Report the per-partition cursor sort (`sort` option) to Catalyst so
    * a downstream `sortWithinPartitions` on the same key is elided — the
    * reference's per-split cursor.sort guarantee (order within a
    * partition, ASC NULLS FIRST, never global). Only when the sort key
    * survives projection under its SPARK column name, no aggregate or
    * TopN replaced the row stream, no `collections` entry may override
    * the sort, an unwound element (whose values do not carry the
    * parent-cursor order) is not the key, and the cursor's order over
    * STORED values is Spark's over the values it reads
    * ([[ReadModel.Stored]], with no `ascii_columns` doc field: STRING
    * never). */
  override def outputOrdering(): Array[SortOrder] =
    options.get("sort") match {
      case Some(docKey) if spec.grouped.isEmpty &&
          spec.topN.isEmpty && !spec.unwind.exists(_.postOnly(docKey)) &&
          !options.contains("collections") =>
        ColumnMapping.sparkColFor(spec.mapping, docKey)
          .flatMap(c => spec.required.fields.find(_.name == c))
          .filter(f => (spec.unwind.isEmpty || transport.sortSurvivesUnwind) &&
            ReadModel.exact(ReadModel.Order, f.dataType, ReadModel.Stored, options)) match {
          case Some(f) => Array(Expressions.sort(Expressions.column(f.name),
            SortDirection.ASCENDING))
          case None => Array.empty
        }
      case _ => Array.empty
    }

  override def description(): String =
    GraftScan.describe(transport, options, spec.query, spec.readSchema, spec.computed,
      spec.unwind, spec.unwindPost, None, spec.sample.toSeq, spec.grouped,
      spec.topN.map(t => (t.sortSpec, t.n.toLong)), spec.limit.map(_.toLong),
      spec.offset.map(_.toLong), spec.tailsPostUnwind)

  override def planInputPartitions(): Array[InputPartition] =
    transport.planPartitions(spec, options, runtimeIn)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(spec, options, transport)

  /** Structured Streaming entry: new dump files, or new documents by a
    * tailing key, stream in as micro-batches; pushed filters ride each
    * batch's readers. Row-count-bearing pushdowns do not compose with an
    * unbounded stream and refuse, and so do computed columns.
    *
    * A streaming relation never prunes columns, and Spark appends a
    * requested metadata column after the table's own: the stream reads
    * the whole table schema with the metadata column last (an
    * unrequested trailing value is never read).
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(spec.grouped.isEmpty && spec.topN.isEmpty &&
      spec.limit.isEmpty && spec.offset.isEmpty && spec.sample.isEmpty &&
      spec.unwind.isEmpty && !options.contains("collections") && !options.contains("limit"),
      s"${transport.name} streaming read cannot carry limit/offset/top-n/aggregate/" +
        "sample/unwind pushdowns or multi-collection mode")
    require(spec.computed.isEmpty,
      s"${transport.name} streaming read does not support computed_columns")
    val streamed =
      if (spec.required.fieldNames.contains(transport.metaCol)) spec
      else spec.copy(required = spec.required.add(transport.metaCol, StringType,
        nullable = false), meta = true)
    transport.microBatchStream(streamed, options)
  }
}

object GraftScan {
  /** A scan's size estimate from `stats` (stored bytes and, when known
    * exactly, rows), taken once, on first use; each pushed sample scales
    * the bytes by its window. */
  def statistics(samples: Seq[SamplePush])(stats: => (Long, Option[Long])): Statistics =
    new Statistics {
      private lazy val (bytes, rows) = stats
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(
        (bytes * samples.map(sp => math.max(sp.upper - sp.lower, 0.0)).product).toLong)
      override def numRows(): util.OptionalLong =
        rows.fold(util.OptionalLong.empty())(util.OptionalLong.of)
    }

  /** The one plan spelling of every graft scan, the plain scan of either
    * transport and graftserver's joined scan alike: a head naming the
    * transport, its target (`path=` / `ns=`; a `collections` scan lists
    * its entries' paths), the pushed query and the read schema, then each
    * pushed part that is present, once, in one fixed order. `join` is the
    * joined scan's stage chain; `unwoundTails` marks LIMIT/TopN/OFFSET
    * tails that count unwound rows ([[ScanSpec.tailsPostUnwind]]). */
  def describe(transport: Transport, options: Map[String, String], query: BQuery,
      readSchema: StructType, computed: Seq[ComputedCol], unwind: Option[Unwind],
      unwindPost: BQuery, join: Option[String], samples: Seq[SamplePush],
      grouped: Option[GroupedAgg], topN: Option[(Seq[(String, Boolean)], Long)],
      limit: Option[Long], offset: Option[Long], unwoundTails: Boolean): String = {
    val target = options.get("collections")
      .map(MultiCollections.parse(_).map(_.path).mkString(","))
      .getOrElse(options.getOrElse(transport.targetOption, "?"))
    (Seq(s"${transport.name} ${transport.targetOption}=$target", s"PushedQuery: $query",
        s"ReadSchema: ${readSchema.simpleString}") ++
      Some(computed).filter(_.nonEmpty)
        .map(cc => s"PushedComputed: [${cc.map(_.describe).mkString(", ")}]") ++
      unwind.map(_.describe(unwindPost)) ++
      join.map(j => s"PushedJoin: $j") ++
      Some(samples).filter(_.nonEmpty).map(sp => s"PushedSample: ${sp.mkString(", ")}") ++
      grouped.map(g => s"PushedGroupedAggregate: $g") ++
      topN.map { case (keys, n) =>
        val order = keys.map { case (k, desc) => s"$k ${if (desc) "DESC" else "ASC"}" }
        s"PushedTopN: ORDER BY ${order.mkString(", ")} LIMIT $n"
      } ++
      limit.map(n => s"PushedLimit: $n") ++
      offset.map(n => s"PushedOffset: $n") ++
      Some("UnwoundTails").filter(_ => unwoundTails)).mkString(" ")
  }
}

/** Builds each partition's reader through the transport (serialized to
  * executors with the spec and options). */
final class GraftReaderFactory(spec: ScanSpec, options: Map[String, String],
    transport: Transport) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    transport.createReader(partition, spec, options)
}

/** A partition reader over an iterator of rows: subclasses supply `rows`
  * and release their resources in `close()`. */
abstract class RowIteratorReader extends PartitionReader[InternalRow] {
  protected def rows: Iterator[InternalRow]
  private var row: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { row = rows.next(); true } else false
  override def get(): InternalRow = row
}
