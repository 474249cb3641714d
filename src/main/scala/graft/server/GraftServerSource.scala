package graft.server

import graft.bson._
import graft.query.{BQuery, BQueryJson, Unwind}
import graft.source.{FieldResolve, GraftScan, GraftScanBuilder, GraftTable, GroupAggParse, GroupedAgg, Planners, Pushdown, ReadModel, RowIteratorReader, SamplePush, ScanSpec, Transport}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, IsNotNull, IsNull}
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 connector over the LIVE-SERVER transport
  * ([[ServerClient]]): the `spark.read.format("graftserver")` face of the
  * reference's primary mode — a network cursor per split against
  * mongod/mongos (core/src/main/java/com/mongodb/hadoop/input/
  * MongoInputSplit.java:272-299) with splitVector / \$sample / shard-chunk
  * planning (core/.../splitter/MongoSplitterFactory.java:49-106).
  *
  * Same planning strategies, query translator, and row codec as the
  * file-backed `graftbson` source — only the transport differs:
  *
  *  - split planning runs on the driver through [[ServerCollection
  *    .planSplits]] (shard chunks → splitVector → sampled-size fallback,
  *    each a bounded probe sequence, never a scan);
  *  - each partition reader reconstructs its own client from the options
  *    via [[ServerClientFactory]] (the connection never serializes) and
  *    holds exactly one server cursor: range ∧ pushed filters ∧
  *    option-level `query`, with projection and a partial limit pushed to
  *    the server;
  *  - shard-chunk splits carry their chunk's hosts as Spark preferred
  *    locations, the reference's mongos-bypass locality
  *    (core/.../splitter/ShardChunkMongoSplitter.java:59-148).
  *
  * Read options: `ns` (namespace), `client_factory` (FQCN of a
  * [[ServerClientFactory]]; defaults to the sandbox [[DirServerFactory]]),
  * `key` (split key, default `_id`), `split_size` (target bytes/split),
  * `query` (option-level JSON, AND-composed with pushed filters),
  * `filter_empty` (probe-and-prune empty splits, off by default like the
  * reference's filterEmptySplits), `sample_size` (schema-inference doc
  * budget). Write options: `mode` (insert|replace|update|upsert),
  * `update_op`, `keys`, `multi`, `id_column`, `bulk_ordered`,
  * `batch_size` (models per bulkWrite round-trip).
  *
  * Writes stream batched bulkWrites from each task as it runs — the
  * reference's MongoRecordWriter does the same (MongoOutputCommitter's
  * server-side commitTask is a no-op), so a retried task re-sends its
  * batch: keyed upsert/update modes are idempotent, plain insert is
  * at-least-once. The file-backed `graftbson` source is the engine's
  * exactly-once path (two-phase staged commit); this one is wire parity.
  */
class GraftServerSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftserver"

  override def supportsExternalMetadata(): Boolean = true

  /** Schema by server-side sampling — the \$sample analog of the file
    * source's uniform corpus sampling. The fake transport's sample is
    * deterministic; a production binding would aggregate
    * `[{$sample: {size: n}}]`.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    val nss = GraftServerSource.nsList(opts)
    val n = opts.get("sample_size").map(_.toInt).getOrElse(1000)
    val per = math.max(1, n / nss.size)
    val inferred = GraftServerSource.withClient(opts) { (client, _) =>
      RowCodec.inferSchema(
        nss.iterator.flatMap(ns => client.find(ns, Find(limit = per.toLong))), n,
        mapThreshold = opts.get("infer_map_threshold").map(_.toInt).getOrElse(128))
    }
    if (inferred.isEmpty)
      throw new IllegalArgumentException(
        s"cannot infer schema: no documents in ${GraftServerSource.ns(opts)}")
    inferred
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTable(schema, properties.asScala.toMap, ServerTransport)
}

object GraftServerSource {
  /** Name of the `_ns` provenance metadata column. */
  val NsMetaCol = "_ns"

  def ns(opts: Map[String, String]): String =
    opts.getOrElse("ns",
      throw new IllegalArgumentException("graftserver: ns option required"))

  /** `ns` accepts a comma list of namespaces — the server form of the
    * multi-collection scan (the reference reads several collections as
    * one input via MultiCollectionSplitBuilder,
    * core/.../splitter/MultiCollectionSplitBuilder.java): each namespace
    * plans its own splits and the scan is their union.
    */
  def nsList(opts: Map[String, String]): Seq[String] =
    ns(opts).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Drop projection paths whose proper ANCESTOR is also projected —
    * MongoDB 4.4+ rejects inclusion projections with prefix-overlapping
    * paths ("Path collision": `{tags: 1, "tags.lang": 1}`), and the
    * projected ancestor already carries every subfield. Order-preserving.
    */
  def pruneProjection(paths: Seq[String]): Seq[String] = {
    val distinct = paths.distinct
    val set = distinct.toSet
    def hasProjectedAncestor(p: String): Boolean = {
      var i = p.indexOf('.')
      while (i >= 0) {
        if (set.contains(p.substring(0, i))) return true
        i = p.indexOf('.', i + 1)
      }
      false
    }
    distinct.filterNot(hasProjectedAncestor)
  }

  /** The `client_factory` a scan names none: the sandbox server. */
  val DefaultFactory: String = classOf[DirServerFactory].getName

  def factory(opts: Map[String, String]): ServerClientFactory =
    Class.forName(opts.getOrElse("client_factory", DefaultFactory))
      .getDeclaredConstructor().newInstance().asInstanceOf[ServerClientFactory]

  def withClient[A](opts: Map[String, String])(f: (ServerClient, String) => A): A = {
    val client = factory(opts).create(opts)
    try f(client, ns(opts))
    finally client.close()
  }

  /** Whether a relation's table is a graftserver table. */
  def served(t: Table): Boolean = t match {
    case g: GraftTable => g.transport == ServerTransport
    case _ => false
  }

  /** `ensure_index` write option: comma-separated fields of ONE compound
    * ascending index (the file source's convention), created before any
    * write task runs. */
  def ensureIndexIfAsked(opts: Map[String, String]): Unit =
    opts.get("ensure_index").foreach { ix =>
      val fields = ix.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      if (fields.nonEmpty)
        withClient(opts)((client, ns) => client.createIndex(ns, fields))
    }
}

/** The served-collection transport of the shared scan skeleton
  * ([[GraftScanBuilder]], [[GraftScan]]): pushed filters, projection,
  * sort, limit and skip translate to the per-cursor knobs a server
  * accepts ([[Find]]) or to one aggregate pipeline; split planning runs
  * on the driver through [[ServerCollection.planSplits]]; each partition
  * reader holds exactly one server cursor. A bare COUNT(*) is one
  * collStats round-trip per namespace
  * (core/.../splitter/MongoSplitterFactory.java:66-83).
  */
object ServerTransport extends Transport {
  override val name = "graftserver"
  override val targetOption = "ns"
  override val metaCol: String = GraftServerSource.NsMetaCol
  override val metaComment = "source namespace of this row"
  override val truncates = false

  override def newScanBuilder(schema: StructType, options: Map[String, String]): ScanBuilder =
    new GraftServerScanBuilder(schema, options)
  override def newWriteBuilder(info: LogicalWriteInfo, options: Map[String, String]): WriteBuilder =
    new GraftServerWriteBuilder(info.schema(), options)

  /** `limit` and `collections` shape graftbson's per-partition cursors
    * and per-entry scans; no server cursor or reader honours them, so
    * accepting them would silently ignore them. */
  override def checkOptions(options: Map[String, String]): Unit = {
    if (options.contains("limit"))
      throw new IllegalArgumentException(
        "graftserver does not support the `limit` option (graftbson's " +
          "per-partition cursor cap): use Spark's .limit(n) on the DataFrame")
    if (options.contains("collections"))
      throw new IllegalArgumentException(
        "graftserver does not support the `collections` option (graftbson's " +
          "multi-collection entries): list the namespaces in `ns`, " +
          "comma-separated (ns=db.a,db.b)")
  }

  /** Null tests on ARRAY-typed columns stay residual (r15 latent-
    * divergence hunt): the wire form `{$eq/$ne: null}` element-matches on
    * a live server (`{p: null}` matches `p=[1,null]` and missing fields),
    * while Spark's IsNull/IsNotNull test the column value itself — Spark
    * re-checks residuals, so the cost is one codegen'd row test, never
    * correctness. This also covers an ARRAY-typed unwound ELEMENT
    * (nested arrays) in the post-unwind $match. */
  override def keepResidual(cols: Pushdown.Columns): Filter => Boolean = {
    def arrayCol(a: String): Boolean =
      FieldResolve.resolveName(cols.schema, a, cols.mapping)
        .exists(_.dataType.isInstanceOf[ArrayType])
    (f: Filter) => f match {
      case IsNull(a) => arrayCol(a)
      case IsNotNull(a) => arrayCol(a)
      case _ => false
    }
  }

  /** Under uniform storage every Long/Timestamp/String is stored as the
    * ONE type this engine writes, so the read-semantics ReadLong /
    * ReadTime / ReadStr (eq, regex) nodes rewrite to their exact BRACKET
    * forms — renderable server-side (a $match/cursor query) instead of
    * client-side residual re-checks, and the grouped/join pushdowns'
    * fully-renderable gates then accept those filters too. */
  override def finishQuery(q: BQuery, options: Map[String, String]): BQuery =
    if (ReadModel.uniform(options)) BQuery.uniformReadBracket(q) else q

  /** Option-level JSON query (mongo.input.query analog). The
    * `regex_dialect` gate applies here (r16): out-of-subset `$regex`
    * patterns refuse under the default mode, stay client-side Java
    * residuals under `java`, or become verbatim server-authoritative
    * [[BQuery.RegexServer]] nodes under `server` — see
    * [[graft.query.RegexDialect]]. The numeric-segment null edge gate
    * applies when the bound factory is NOT a live transport (r17,
    * ADVICE r16): the sandbox/file-backed double evaluates this query
    * client-side with the engine matcher, so `{"m.0": null}`-class
    * predicates refuse there exactly as on the file transport unless
    * `numeric_null_paths=engine` opts in; a live server receives the
    * verbatim wire form and its own rule applies. */
  override def optionQuery(opts: Map[String, String]): BQuery =
    opts.get("query").map { j =>
      val q = BQueryJson.parse(j)
      if (!GraftServerSource.factory(opts).liveTransport)
        graft.query.NumericNullEdge.check(q,
          opts.get(graft.query.NumericNullEdge.OptionKey))
      graft.query.RegexDialect.forTransport(q,
        opts.getOrElse(graft.query.RegexDialect.OptionKey, "portable"),
        serverTransport = true)
    }.getOrElse(BQuery.True)

  override def rendersFully(q: BQuery): Boolean = QueryDocs.plan(q).rendersFully

  /** `splitter=single` over one namespace (the reference's
    * create_input_splits=false / SingleMongoSplitter mode). */
  override def singleCursor(options: Map[String, String]): Boolean =
    options.get("splitter").contains("single") &&
      GraftServerSource.nsList(options).size == 1

  /** A pushed TopN's compound order wins over the option-level cursor
    * sort. */
  override val topNOverridesSort = true
  /** Grouped and global aggregates fold in one `$group` pipeline. */
  override val foldsAggregates = true

  /** The cursor sorts and `$group`'s folds and sums all compare STORED
    * values. */
  override val evaluator: ReadModel.Evaluator = ReadModel.Stored

  /** Rows only when no query, limit, sample or unwind narrows or widens
    * the scan (collStats counts the whole collection; a sample keeps a
    * hash-dependent count). */
  override def stats(spec: ScanSpec, options: Map[String, String]): (Long, Option[Long]) = {
    val (bytes, docs) = collStatsSum(options, GraftServerSource.nsList(options))
    (bytes, if (spec.wholeTarget) Some(docs) else None)
  }

  /** Stored bytes and docs summed over `nss`: one client, one bounded
    * collStats round-trip per namespace at plan time. Sizes the plain
    * and the joined scan. */
  private[server] def collStatsSum(options: Map[String, String],
      nss: Seq[String]): (Long, Long) =
    GraftServerSource.withClient(options) { (client, _) =>
      nss.map(client.collStats).foldLeft((0L, 0L)) { case ((bytes, docs), s) =>
        (bytes + s.count * s.avgObjSizeBytes, docs + s.count) }
    }

  /** Key-range partitions of each of `nss` on one client, through the
    * shared strategy chain at the `split_size` target (8 MB by default),
    * pruned by the runtime IN-sets on `key` and, under `filter_empty`, by
    * one `find(limit=1)` probe of `probe` per split. Splits the plain and
    * the joined scan. */
  private[server] def rangePartitions(options: Map[String, String], nss: Seq[String],
      key: String, query: BQuery = BQuery.True, probe: BQuery = BQuery.True,
      runtimeIn: Map[String, Seq[BsonValue]] = Map.empty): Array[InputPartition] =
    GraftServerSource.withClient(options) { (client, _) =>
      val target = options.get("split_size").map(_.toLong).getOrElse(8L * 1024 * 1024)
      nss.flatMap { ns =>
        val coll = new ServerCollection(client, ns)
        var splits = coll.planSplits(key, target)
        runtimeIn.get(key).foreach(vs => splits = Planners.pruneByValues(splits, vs))
        if (options.get("filter_empty").exists(_.toBoolean) && probe != BQuery.True)
          splits = Planners.pruneEmpty(splits, coll.stats(key), probe)
        splits.map(s =>
          GraftServerPartition(ns, s.range, s.preferredLocations, query): InputPartition)
      }.toArray
    }

  /** An unwound read makes no order claim. */
  override val sortSurvivesUnwind = false
  override val runtimeFiltersUnderUnwind = false

  /** Driver-side planning: one bounded probe sequence through the shared
    * strategy chain (chunks → splitVector → sampled size bounds).
    * Optional empty-split pruning costs one `find(limit=1)` per split,
    * the reference's opt-in filterEmptySplits trade. Every partition's
    * cursor query carries the runtime IN-sets (read-semantics forms: the
    * join compares READ values). */
  override def planPartitions(spec: ScanSpec, options: Map[String, String],
      runtimeIn: Map[String, Seq[BsonValue]]): Array[InputPartition] = {
    val key = options.getOrElse("key", "_id")
    val query = Pushdown.withRuntimeIn(spec.query, runtimeIn)
    val nss = GraftServerSource.nsList(options)
    def whole(ns: String): InputPartition =
      GraftServerPartition(ns, BQuery.KeyRange(key, None, None), Seq.empty, query)
    // a COMPUTED split key has no stored field the planners could probe
    // (r17) — a key-range $match on it would silently match nothing
    if (spec.computed.exists(_.out == key)) nss.map(whole).toArray
    // one partition PER NAMESPACE: a `$group` pipeline round-trip (or,
    // for a bare COUNT(*), a collStats) each — the partial protocol
    // folds the per-namespace group rows; an
    // unwound ROW pipeline with a $sort/$skip/$limit tail (key-range
    // splits would need the range rendered into its $match, a bracket
    // form exact only under uniform keys; the tail bounds each
    // pipeline's output anyway); or `splitter=single` — ONE cursor over
    // the whole range, the mode that makes an accepted OFFSET sound
    else if (spec.grouped.isDefined || spec.tailsPostUnwind ||
        options.get("splitter").contains("single")) nss.map(whole).toArray
    else rangePartitions(options, nss, key, query, spec.query, runtimeIn)
  }

  override def createReader(p: InputPartition, spec: ScanSpec,
      options: Map[String, String]): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftServerPartition]
    if (spec.grouped.isDefined) new ServerGroupedAggReader(part, spec, options)
    else new GraftServerPartitionReader(part, spec, options)
  }

  override def microBatchStream(spec: ScanSpec, options: Map[String, String]): MicroBatchStream =
    new GraftServerMicroBatchStream(spec, options)
}

/** graftserver's scan builder: the shared [[GraftScanBuilder]] plus join
  * pushdown (SupportsPushDownJoin). Once a join is pushed, LIMIT, TopN,
  * OFFSET, aggregates and samples push into the joined pipeline instead
  * of the plain scan.
  */
final class GraftServerScanBuilder(tableSchema: StructType, options: Map[String, String])
    extends GraftScanBuilder(tableSchema, options, ServerTransport)
    with SupportsPushDownJoin {

  // cross-instance access for pushDownJoin (ctor params are
  // instance-private in Scala)
  private[server] def joinSchema: StructType = tableSchema
  private[server] def joinOptions: Map[String, String] = options
  private[server] def joinMapping: Map[String, String] = mapping

  override def pushTableSample(lower: Double, upper: Double,
      withReplacement: Boolean, seed: Long): Boolean =
    joined.isEmpty && super.pushTableSample(lower, upper, withReplacement, seed)

  /** Over a pushed join the `$limit` counts FINAL joined rows — checked
    * BEFORE the unwind arm: with a driving-side unwind composed into the
    * join (r15) it sits after the last `$unwind`, partial per pipeline (a
    * pushed join TopN already carries its own $limit); the pipeline's
    * rows are UNSAMPLED, so a carried sample refuses. */
  override def pushLimit(n: Int): Boolean =
    if (sample.isDefined) false
    else if (joined.isDefined) {
      if (joinedAgg.isDefined || joinTopN.isDefined ||
          joinSamples.nonEmpty || joinOffset.isDefined) false
      else { joinLimit = Some(n.toLong); true }
    }
    else super.pushLimit(n)

  /** OFFSET over a pushed join: a `$skip` tail counting FINAL joined rows
    * — sound only as ONE pipeline (`splitter=single` on the DRIVING side
    * guarantees it: the joined scan partitions by the driving side's
    * options, which for a mirrored RIGHT OUTER join are the OTHER
    * builder's, already recorded in drivingOpts), with no other tail
    * claimed and no carried sample (the skip would count unsampled rows). */
  override def pushOffset(n: Int): Boolean =
    if (joined.isDefined) {
      if (drivingOpts.get("splitter").contains("single") &&
          joinedAgg.isEmpty && joinLimit.isEmpty && joinTopN.isEmpty &&
          joinSamples.isEmpty && joinOffset.isEmpty) {
        joinOffset = Some(n.toLong); true
      } else false
    } else super.pushOffset(n)

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean =
    if (joined.isDefined) pushJoinedTopN(orders, n) else super.pushTopN(orders, n)

  /** `ORDER BY ... LIMIT n` over a PUSHED JOIN: a `$sort`+`$limit` tail
    * on the lookup pipeline — "top 10 orders with customer names" never
    * reaches a Spark sort over shipped rows; each split's pipeline
    * returns its local top-n (PARTIAL — Spark's TakeOrdered folds).
    * Bracket-safety gates run against each order column's ORIGIN side's
    * options; null ordering must be BSON's (the plain-TopN rule), which
    * also covers a LEFT OUTER's missing right side (sorts as null).
    */
  private def pushJoinedTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (joinedAgg.isDefined || joinLimit.isDefined ||
        joinTopN.isDefined || joinSamples.nonEmpty || joinOffset.isDefined)
      return false
    joinTopN = Pushdown.topNOrder(Pushdown.Columns(joinedSchema), orders, r =>
        JoinPush.operand(ReadModel.Order, r.dataType,
          joinedColOpts.getOrElse(r.docPath.split('.').head, options)))
      .map(keys => (keys.map { case (r, desc) => (r.docPath, desc) }, n))
    joinTopN.isDefined
  }

  override def pushAggregation(aggregation: Aggregation): Boolean =
    if (joined.isDefined) pushJoinedAggregation(aggregation)
    else super.pushAggregation(aggregation)

  /** Aggregate pushed THROUGH a pushed join: the `$group` stage appends
    * to the `$lookup` pipeline (left outputs referenced at the top
    * level, right outputs at their pre-flatten `__j.` home), so
    * `SELECT k, agg(..) FROM a JOIN b GROUP BY k` is ONE pipeline and
    * only #groups docs cross the wire per split. Reported PARTIAL like
    * every other aggregate path — per-split group partials fold in
    * Spark's final aggregate. Same type gates as the plain grouped
    * path; columns resolve against the JOINED output schema.
    */
  private def pushJoinedAggregation(aggregation: Aggregation): Boolean = {
    if (joinLimit.isDefined || joinedAgg.isDefined || joinTopN.isDefined ||
        joinSamples.nonEmpty || joinOffset.isDefined)
      return false
    // columns resolve against the JOINED output schema; a nested ref
    // (`meta.lang` under a struct-typed output) composes too — the
    // `$group` tail resolves its HEAD against the left-output set to
    // pick the top-level vs `__j.` home (QueryDocs.lookupTail)
    def sideOpts(r: FieldResolve.Ref): Map[String, String] =
      joinedColOpts.getOrElse(r.docPath.split('.').head, options)
    // no doc field: a joined output name is not the stored field that
    // `ascii_columns` names
    def ok(c: ReadModel.Comparison)(r: FieldResolve.Ref) =
      JoinPush.operand(c, r.dataType, sideOpts(r))
    joinedAgg = GroupAggParse.parse(aggregation, Pushdown.Columns(joinedSchema).resolve,
      ok(ReadModel.Group), ok(ReadModel.Order), ok(ReadModel.Sum)).map(GroupedAgg.of)
    joinedAgg.isDefined
  }

  // ---- join pushdown (SupportsPushDownJoin) ----

  /** An equi-join of two collections on the SAME server becomes one
    * `$lookup`+`$unwind` pipeline over the driving (left) collection —
    * the join never reaches a Spark shuffle; the reference always
    * re-shuffled joins client-side, this is the pipeline form its own
    * server-side `aggregate()` pattern (SampleSplitter.java:79-88)
    * makes possible. Accepted: INNER / LEFT OUTER, a pure conjunction
    * of column equalities, both sides single-namespace on one
    * server+database with every filter fully pushed and no other
    * pushdown claimed. Key types must make `$expr` `$eq` over STORED
    * values agree with Spark equality over READ values: Int/Double/
    * Boolean always (one numeric value-equality bracket); Long/
    * Timestamp/String only under `assume_uniform_storage` on their
    * side (a date storage reads as a Long's millis but `$eq`s in the
    * date bracket; ObjectId/symbol storages read as strings but never
    * `$eq` a BSON string).
    */
  private var joined: Option[LookupJoin] = None
  /** The joined scan's VISIBLE read schema in Spark's expected column
    * order — for a RIGHT OUTER join the driving orientation is MIRRORED
    * (the right relation drives the pipeline) while Spark still expects
    * the original left++right column order; rows are flat by output
    * name, so order is presentation only. Hidden sample carries are not
    * in it. */
  private var joinedSchema: StructType = new StructType()
  // join-arm extensions, mutually exclusive: a $group, a partial
  // $limit, or a partial $sort+$limit appended to the lookup pipeline
  private var joinedAgg: Option[GroupedAgg] = None
  private var joinLimit: Option[Long] = None
  private var joinTopN: Option[(Seq[(String, Boolean)], Int)] = None
  /** Pushed TABLESAMPLEs carried INTO the join (r14): deterministic
    * keyed windows re-keyed to joined OUTPUT names and applied to the
    * flattened joined rows — keyed sampling commutes with `$lookup`
    * (each driving/lookup row's join output is kept or dropped
    * atomically with it), so sampling-then-joining equals filtering the
    * joined rows by the sampled side's key window. Lookup-side samples
    * compose only under INNER (a LEFT OUTER's null-extended row must
    * stay, not drop). */
  private var joinSamples: Seq[SamplePush] = Nil
  /** OFFSET over the joined pipeline: a `$skip` tail on the FINAL joined
    * rows — single-pipeline (`splitter=single`) only, like the plain
    * scan's offset. */
  private var joinOffset: Option[Long] = None
  /** joined OUTPUT name -> the read options of its ORIGIN side, for the
    * bracket-safety gates of later pushes (chained join keys, TopN
    * orders) — a Long column is only order/equality-safe under ITS
    * collection's `assume_uniform_storage` opt-in. */
  private var joinedColOpts: Map[String, Map[String, String]] = Map.empty
  // the driving side's read options — the OTHER builder's for a
  // MIRRORED (right outer) join
  private var drivingOpts: Map[String, String] = options

  /** Usable as the DRIVING side: a pushed `$unwind` composes (r15) —
    * the pipeline becomes `$match`+`$unwind`+`$match(post)`+`$lookup`,
    * per-ELEMENT rows feeding the join — provided the post-unwind
    * element match renders fully server-side (element rows are joined
    * away; no client re-check point remains). A pushed TABLESAMPLE is
    * ALLOWED: pushDownJoin re-keys it onto the joined output (or
    * refuses where it cannot commute); under an unwind the sample key
    * is a PARENT field (never [[Unwind.postOnly]]), constant across a
    * parent's element rows, so the joined-row window still keeps/drops
    * parents atomically. */
  private def cleanAsDriving: Boolean =
    residuals.isEmpty && limit.isEmpty && offset.isEmpty && topN.isEmpty &&
      groupedAgg.isEmpty && joined.isEmpty && !options.contains("sort") &&
      GraftServerSource.nsList(options).size == 1 &&
      // the WHOLE query must render server-side: rows are joined away,
      // so there is no client re-check point for an unrenderable
      // conjunct (r16 — a `regex_dialect=java` out-of-subset $regex is
      // the first non-renderable OPTION-level node; the live transport's
      // lookupJoin `require`s exactly this). Builder-time keyBounds are
      // fine on the DRIVING side (the pipeline renders split KeyRanges
      // bracket-style); the lookup side re-checks below.
      QueryDocs.plan(builderQuery).isExact &&
      (unwind.isEmpty || QueryDocs.plan(unwindPost).rendersFully)

  // The LOOKUP side additionally needs no `$unwind` (element rows are
  // not parent-atomic across the join boundary) — pushDownJoin gates
  // that per join type once roles are known (`o.unwind.isDefined &&
  // !mirrored`); builder-time queries never carry KeyRange (split
  // ranges are injected per partition), so no extra bounds gate is
  // needed beyond the isExact test above.

  /** An already-joined builder may CHAIN one more lookup stage (3-way+
    * star queries) as long as no tail pushdown claimed the pipeline yet.
    * The joined builder must be the DRIVING (left) side — a plain scan
    * joining a joined one keeps that join in Spark. */
  private def chainableForJoin: Boolean =
    joined.isDefined && joinedAgg.isEmpty && joinLimit.isEmpty &&
      joinTopN.isEmpty && joinOffset.isEmpty

  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: GraftServerScanBuilder =>
        // the other side may carry an unwind too — legal ONLY when a
        // mirrored (right-outer) join makes IT the driving side, which
        // pushDownJoin gates per join type
        (cleanAsDriving || chainableForJoin) && o.cleanAsDriving &&
          JoinPush.connection(options) == JoinPush.connection(o.joinOptions)
      case _ => false
    }

  /** The condition as a conjunction of column equalities and RANGE
    * comparisons (possibly NESTED refs — `meta.k = _id` arrives as
    * multi-part field names), or None on anything else. Pairs carry the
    * raw name PARTS; [[orientCond]] resolves sides, flips range ops
    * where the sides arrive swapped, and yields leaf types.
    */
  private def condPairs(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate):
      Option[(Seq[(Seq[String], Seq[String])],
        Seq[(Seq[String], String, Seq[String])])] = p.name() match {
    case "AND" =>
      p.children().toSeq match {
        case Seq(a: org.apache.spark.sql.connector.expressions.filter.Predicate,
            b: org.apache.spark.sql.connector.expressions.filter.Predicate) =>
          for (l <- condPairs(a); r <- condPairs(b))
            yield (l._1 ++ r._1, l._2 ++ r._2)
        case _ => None
      }
    case "=" =>
      p.children().toSeq match {
        case Seq(a: org.apache.spark.sql.connector.expressions.NamedReference,
            b: org.apache.spark.sql.connector.expressions.NamedReference) =>
          Some((Seq((a.fieldNames.toSeq, b.fieldNames.toSeq)), Nil))
        case _ => None
      }
    case op @ ("<" | "<=" | ">" | ">=") =>
      p.children().toSeq match {
        case Seq(a: org.apache.spark.sql.connector.expressions.NamedReference,
            b: org.apache.spark.sql.connector.expressions.NamedReference) =>
          Some((Nil, Seq((a.fieldNames.toSeq, op, b.fieldNames.toSeq))))
        case _ => None
      }
    case _ => None
  }

  private def flipOp(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
  }

  /** Orient each conjunct's sides against the two projections' OUTPUT
    * schemas (nested parts walk struct-typed outputs to the leaf type) —
    * output-name disjointness (checked by the callers) makes the side
    * assignment unambiguous. Returns (left ref, right ref) per equality
    * plus (left ref, op, right ref) per range — the op flipped when the
    * conjunct arrived right-side-first — with dotted output names and
    * LEAF types for the bracket-safety gates.
    */
  private def orientCond(
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate,
      lp: Seq[(String, String, org.apache.spark.sql.types.DataType)],
      rp: Seq[(String, String, org.apache.spark.sql.types.DataType)]):
      Option[(Seq[(FieldResolve.Ref, FieldResolve.Ref)],
        Seq[(FieldResolve.Ref, String, FieldResolve.Ref)])] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val lpStruct = StructType(lp.map(p => StructField(p._2, p._3)))
    val rpStruct = StructType(rp.map(p => StructField(p._2, p._3)))
    def side(parts: Seq[String]): Option[(Boolean, FieldResolve.Ref)] =
      FieldResolve.resolveParts(lpStruct, parts, Map.empty).map((true, _))
        .orElse(FieldResolve.resolveParts(rpStruct, parts, Map.empty).map((false, _)))
    condPairs(condition).flatMap { case (eqPairs, rangePairs) =>
      val eqs = eqPairs.map { case (xp, yp) =>
        (side(xp), side(yp)) match {
          case (Some((true, lx)), Some((false, ry))) => Some((lx, ry))
          case (Some((false, rx)), Some((true, ly))) => Some((ly, rx))
          case _ => None
        }
      }
      val rngs = rangePairs.map { case (xp, op, yp) =>
        (side(xp), side(yp)) match {
          case (Some((true, lx)), Some((false, ry))) => Some((lx, op, ry))
          case (Some((false, rx)), Some((true, ly))) => Some((ly, flipOp(op), rx))
          case _ => None
        }
      }
      if (eqs.contains(None) || eqs.isEmpty || rngs.contains(None)) None
      else Some((eqs.flatten, rngs.flatten))
    }
  }

  /** Push one `$lookup` stage: stage 0 over this plain scan, or — on an
    * already-joined builder — one more stage CHAINED above the pushed
    * join, so a 3-way+ star query stays ONE pipeline per split with zero
    * Spark join operators. The other side is always a plain scan on the
    * same connection. Every stage runs the same body over a LEFT VIEW:
    * stage 0's is this scan (doc fields through `column_mapping`, this
    * side's options), a chained stage's is the joined output (previous
    * output names, each column's ORIGIN side's options).
    *
    * Rules that depend on the stage's role: a RIGHT OUTER join mirrors
    * (the right relation drives the pipeline and the join is LEFT OUTER
    * from its perspective) only at stage 0 — a chained stage would have
    * to re-drive the pipeline; the driving side's `$unwind` and
    * computed columns ride stage 0 only, and a chained lookup side
    * refuses computed columns; a chained left operand refuses string
    * ranges (its doc field, which `ascii_columns` names, is not known).
    */
  override def pushDownJoin(other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.join.{JoinType => V2JoinType}
    val o = other match {
      case b: GraftServerScanBuilder => b
      case _ => return false
    }
    // the other side must be a PLAIN scan (its own join would need
    // whole-pipeline merging); an already-joined THIS side chains
    if (o.joined.isDefined) return false
    val chained = joined.isDefined
    if (chained && !chainableForJoin) return false
    val leftOuter = joinType == V2JoinType.LEFT_OUTER_JOIN
    val mirrored = !chained && joinType == V2JoinType.RIGHT_OUTER_JOIN
    if (joinType != V2JoinType.INNER_JOIN && !leftOuter && !mirrored)
      return false
    // an unwound scan composes only as the DRIVING side — under a
    // mirrored join THIS side becomes the lookup leg, whose element
    // rows are not parent-atomic across the join boundary; conversely
    // the OTHER side's unwind is legal exactly when the mirror makes
    // it drive (r15: the user unwound the right relation before a
    // right-outer join — no transpose involved, the plan is exact)
    if (unwind.isDefined && mirrored) return false
    if (o.unwind.isDefined && !mirrored) return false
    if (chained && o.cols.computed.nonEmpty) return false
    // (source, output name, type) per requested column: the source is
    // the DOCUMENT field the pipeline addresses (remapped), or for a
    // chained left view the previous output name
    def proj(req: Array[SupportsPushDownJoin.ColumnWithAlias],
        schema: StructType, m: Map[String, String]):
        Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] = {
      val items = req.toSeq.map { c =>
        schema.fields.find(_.name == c.colName())
          .map(f => (m.getOrElse(f.name, f.name),
            Option(c.alias()).getOrElse(f.name), f.dataType))
      }
      if (items.contains(None)) None else Some(items.flatten)
    }
    val leftView =
      if (chained) proj(leftReq, joinedSchema, Map.empty)
      else proj(leftReq, tableSchema, mapping)
    (leftView, proj(rightReq, o.joinSchema, o.joinMapping)) match {
      case (Some(lp), Some(rp)) =>
        val leftOut = lp.map(p => p._2 -> p._3).toMap
        val rightOut = rp.map(p => p._2 -> p._3).toMap
        if (leftOut.keySet.intersect(rightOut.keySet).nonEmpty) return false
        // an output column named `__j` would be overwritten by the
        // $lookup's joined-field array on the real transport (the fake's
        // in-memory join has no such field, so the divergence would be
        // SILENT) — refuse the join rather than corrupt that column
        if (leftOut.contains(QueryDocs.JoinedField) ||
            rightOut.contains(QueryDocs.JoinedField)) return false
        def pairs(p: Seq[(String, String, org.apache.spark.sql.types.DataType)]) =
          p.map(t => (t._1, t._2))
        // a left source's read options: its ORIGIN side's for a chained view
        def sourceOpts(src: String): Map[String, String] =
          if (chained) joinedColOpts.getOrElse(src, options) else options
        // a left operand's options — a nested ref by its HEAD column
        def leftOpts(out: String): Map[String, String] = lp.collectFirst {
          case (src, name, _) if name == out.split('.').head => sourceOpts(src)
        }.getOrElse(options)
        // string range admission needs the operand's DOC field (the
        // ascii_columns declaration names stored paths)
        def docField(p: Seq[(String, String, org.apache.spark.sql.types.DataType)],
            out: String): Option[String] =
          scala.util.Try(LookupJoin.fieldOf(pairs(p), out)).toOption
        // both operands of every conjunct must pass the operand gate (a
        // chained left operand has no known doc field, so its strings
        // refuse and the residual-join hoist re-checks them in Spark)
        orientCond(condition, lp, rp) match {
          case Some((refs, rngRefs)) if refs.forall { case (l, r) =>
              JoinPush.operand(ReadModel.Equal, l.dataType, leftOpts(l.name)) &&
                JoinPush.operand(ReadModel.Equal, r.dataType, o.joinOptions) } &&
              rngRefs.forall { case (l, _, r) =>
                JoinPush.operand(ReadModel.Range, l.dataType, leftOpts(l.name),
                  if (chained) None else docField(lp, l.name)) &&
                  JoinPush.operand(ReadModel.Range, r.dataType, o.joinOptions,
                    docField(rp, r.name)) } =>
            // roles: the driving builder feeds the pipeline, the lookup
            // builder is the stage's right side
            val (driving, lookup) = if (mirrored) (o, this) else (this, o)
            val (drivingProj, lookupProj) = if (mirrored) (rp, lp) else (lp, rp)
            // carried TABLESAMPLEs: re-key onto the joined OUTPUT names
            // where keyed sampling commutes with the $lookup; the
            // LOOKUP side's sample cannot commute under an outer join
            // (its null-extended rows must stay). A key the stage's
            // projection lacks is carried as a HIDDEN extra projection
            // under a fresh `__sampleN` alias — the pipeline projects
            // it, the reader checks the window on it, and the row decode
            // (by visible schema) drops it.
            val drivingSamples = if (chained) joinSamples else driving.sample.toSeq
            if (lookup.sample.isDefined && (leftOuter || mirrored)) return false
            val taken = scala.collection.mutable.Set[String](
              (lp ++ rp).map(_._2): _*) += QueryDocs.JoinedField
            // (re-keyed window, hidden (source, alias) extra)
            def rekey(sp: SamplePush,
                p: Seq[(String, String, org.apache.spark.sql.types.DataType)]):
                (SamplePush, Option[(String, String)]) =
              p.find(_._1 == sp.key) match {
                case Some(t) => (sp.copy(key = t._2), None)
                case None =>
                  val a = Iterator.from(0).map(i => s"__sample$i").filterNot(taken).next()
                  taken += a
                  (sp.copy(key = a), Some((sp.key, a)))
              }
            val drivingRk = drivingSamples.map(rekey(_, drivingProj))
            val lookupRk = lookup.sample.map(rekey(_, lookupProj)).toSeq
            joinSamples = (drivingRk ++ lookupRk).map(_._1)
            // a mirrored stage swaps the key sides and FLIPS the range
            // ops: `l < r` becomes `r > l` from the driving perspective
            val keys = refs.map { case (l, r) =>
              if (mirrored) (r.name, l.name) else (l.name, r.name) }
            val ranges = rngRefs.map { case (l, op, r) =>
              if (mirrored) LookupJoin.RangeKey(r.name, flipOp(op), l.name)
              else LookupJoin.RangeKey(l.name, op, r.name) }
            val stage = LookupStage(
              pairs(drivingProj) ++ drivingRk.flatMap(_._2),
              GraftServerSource.ns(lookup.joinOptions), lookup.builderQuery,
              pairs(lookupProj) ++ lookupRk.flatMap(_._2),
              keys, leftOuter || mirrored, ranges, lookup.cols.computed,
              doubleKeys = refs.indices.filter(i =>
                refs(i)._1.dataType == org.apache.spark.sql.types.DoubleType).toSet)
            // stage 0 carries the driving side: its full query (with the
            // pre-unwind PARENT prune, exactly as on the plain unwound
            // scan), its unwind and its computed columns
            joined = Some(joined match {
              case Some(j) => j.copy(stages = j.stages :+ stage)
              case None => LookupJoin(driving.scanQuery, Seq(stage),
                unwind = driving.unwind, unwindPost = driving.unwindPost,
                leftComputed = driving.cols.computed)
            })
            if (mirrored) drivingOpts = o.joinOptions
            joinedSchema = StructType((lp ++ rp).map(p =>
              org.apache.spark.sql.types.StructField(p._2, p._3)))
            joinedColOpts = lp.map(p => p._2 -> sourceOpts(p._1)).toMap ++
              rp.map(p => p._2 -> o.joinOptions).toMap
            true
          case _ => false
        }
      case _ => false
    }
  }

  override def build(): Scan = joined match {
    case Some(j) =>
      new GraftServerJoinScan(
        j.copy(group = joinedAgg.map(g => (g.groupCols.map(_._1), g.items.map(_._1))),
          limit = joinLimit, topN = joinTopN.map { case (s, n) => (s, n.toLong) },
          skip = joinOffset),
        joinedSchema, drivingOpts, joinedAgg, joinSamples)
    case None => super.build()
  }
}

/** The joined scan: one `$lookup`+`$unwind` pipeline per split of the
  * DRIVING collection ([[ServerClient.lookupJoin]]) — the join itself
  * never reaches Spark, no shuffle, no broadcast; only joined rows
  * cross the wire. Splits reuse the standard planner chain when
  * `assume_uniform_storage` is asserted (the split range must render
  * bracket-style inside the pipeline's `$match`, which is only exact
  * over uniformly-stored keys — cursor min/max bounds don't exist in a
  * pipeline); otherwise the join runs as ONE pipeline, still
  * server-executed. The right side is re-read per split — the trade a
  * server-side hash/index lookup makes against shipping both
  * collections through a Spark exchange.
  */
final class GraftServerJoinScan(join: LookupJoin, schema: StructType,
    options: Map[String, String],
    grouped: Option[GroupedAgg] = None,
    samples: Seq[SamplePush] = Nil)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = grouped.map(_.schema).getOrElse(schema)
  override def toBatch: Batch = this

  override def description(): String =
    GraftScan.describe(ServerTransport, options, join.leftQuery, readSchema(),
      join.leftComputed ++ join.stages.flatMap(_.rightComputed), join.unwind,
      join.unwindPost, Some(join.stages.mkString(" THEN ")), samples, grouped,
      join.topN, join.limit, join.skip, unwoundTails = false)

  /** All sides' collStats — the joined size estimate is conservative
    * (inner joins usually shrink), but keeps a small joined scan
    * broadcast-able in an OUTER Spark join above it. */
  override def estimateStatistics(): Statistics = GraftScan.statistics(samples)(
    (ServerTransport.collStatsSum(options,
      GraftServerSource.ns(options) +: join.stages.map(_.rightNs))._1, None))

  /** Key-range splits of the driving collection, the plain scan's; ONE
    * pipeline when the split range could not render exactly in its
    * `$match` (storage not uniform), under `splitter=single`, or over a
    * COMPUTED split key, which has no stored field to probe (r17). */
  override def planInputPartitions(): Array[InputPartition] = {
    val ns = GraftServerSource.ns(options)
    val key = options.getOrElse("key", "_id")
    if (!ReadModel.uniform(options) || options.get("splitter").contains("single") ||
        join.leftComputed.exists(_.out == key))
      Array(GraftServerPartition(ns, BQuery.KeyRange(key, None, None), Seq.empty))
    else ServerTransport.rangePartitions(options, Seq(ns), key)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftServerJoinReaderFactory(join, readSchema(), options, grouped, samples)
}

final class GraftServerJoinReaderFactory(join: LookupJoin, schema: StructType,
    options: Map[String, String],
    grouped: Option[GroupedAgg],
    samples: Seq[SamplePush])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftServerJoinReader(p.asInstanceOf[GraftServerPartition], join,
      schema, options, grouped, samples)
}

/** One `$lookup` pipeline for this split's driving range. Null/missing
  * join keys are filtered where equi-join semantics require it: the
  * LOOKUP side of every stage always (a null right key must never
  * match), the driving side only under an INNER stage 0 (a LEFT OUTER
  * keeps those rows, and a null driving key looks up nothing either
  * way).
  */
final class GraftServerJoinReader(p: GraftServerPartition, join: LookupJoin,
    schema: StructType, options: Map[String, String],
    grouped: Option[GroupedAgg], samples: Seq[SamplePush])
    extends RowIteratorReader {

  private val client = GraftServerSource.factory(options).create(options)

  // engine Exists(true) = present AND non-null, rendered as the
  // equivalent `{$ne: null}` on the wire (QueryDocs.render)
  private def nonNull(field: String): BQuery = BQuery.Exists(field, yes = true)

  private val base = join.stages.head

  /** A driving key whose doc field sits AT/UNDER the unwound path (or is
    * the injected pos field, or a MAP unwind's synthetic kv entry)
    * exists only POST-unwind — its INNER non-null prune joins the
    * post-unwind `$match`; pre-unwind the same path would match nothing
    * (kv/pos) or carry ∃-element semantics (array paths). */
  private def elementScopedField(f: String): Boolean = join.unwind.exists(_.postOnly(f))
  // range LEFT operands prune like key operands under INNER (a null
  // operand never range-matches — Spark's null comparison); under LEFT
  // OUTER they must SURVIVE to null-extend, and the pipeline's per-var
  // `$gt: [$$rK, null]` guard keeps them from cross-bracket matching.
  // COMPUTED left fields (r17) are skipped: the pre-$match runs BEFORE
  // the $set, so a non-null prune there would match nothing — a null
  // computed key still never joins (the $expr $eq against a non-null-
  // pruned right side is false; ranges carry their own null guard)
  private def leftOperandOuts: Seq[String] =
    base.keys.map(_._1) ++ base.ranges.map(_.leftOut)
  private def computedLeftField(f: String): Boolean =
    join.leftComputed.exists(_.out == f)
  private val leftFull: BQuery = {
    val q = BQuery.and(p.range, join.leftQuery)
    if (base.leftOuter) q
    else leftOperandOuts.foldLeft(q) { case (acc, lo) =>
      val f = join.leftField(lo)
      if (elementScopedField(f) || computedLeftField(f)) acc
      else BQuery.and(acc, nonNull(f))
    }
  }
  private val postFull: BQuery =
    if (base.leftOuter) join.unwindPost
    else leftOperandOuts.foldLeft(join.unwindPost) { case (acc, lo) =>
      val f = join.leftField(lo)
      if (computedLeftField(f)) acc
      else if (elementScopedField(f)) BQuery.and(acc, nonNull(f)) else acc
    }

  /** Every stage's lookup side filters null/missing keys — `$expr`
    * `$eq` would otherwise match a null driving key against a
    * null-keyed right doc (equi-join semantics forbid it) — and null/
    * missing RANGE operands, whose BSON-total-order comparison would
    * otherwise match against the per-var guard's surviving side (the
    * driving side's null operands fail the rendered `$gt: [$$rN,
    * null]` guard — INNER drops, LEFT OUTER null-extends, both Spark's
    * null-comparison behavior). */
  private val stagesWithKeys: Seq[LookupStage] = join.stages.map { st =>
    st.copy(rightQuery = (st.keys.map(_._2) ++ st.ranges.map(_.rightOut))
      .foldLeft(st.rightQuery) { case (acc, ro) => BQuery.and(acc, nonNull(st.rightField(ro))) })
  }

  // posexplode over a join: the pos OUTPUT field of each joined doc
  // narrows to the pos column's int32 before decode
  private val posOutName: Option[String] = join.unwind.flatMap(u =>
    u.posField.flatMap(pf => base.leftProject.collectFirst {
      case (f, o) if f == pf => o }))

  private val cursor: Iterator[BDoc] = {
    val raw0 = client.lookupJoin(p.ns, join.copy(leftQuery = leftFull,
      stages = stagesWithKeys, unwindPost = postFull))
    val raw = posOutName.fold(raw0)(o => raw0.map(Unwind.narrowPos(_, o)))
    // carried TABLESAMPLE windows, re-keyed to joined OUTPUT names by
    // the builder: keyed sampling commutes with the $lookup, so keeping
    // joined rows by the sampled side's key window equals sampling that
    // side before the join (MQL has no md5 — the window is evaluated
    // here, exactly like the plain scan's sample)
    if (samples.isEmpty) raw
    else raw.filter(d => samples.forall(_.keep(d)))
  }

  // a GLOBAL aggregate over a join that matched nothing: Spark's final
  // fold rewrites COUNT(*) as a SUM of partials, and zero partials would
  // fold to NULL instead of 0 (the q58 zero-partition lesson)
  override protected val rows: Iterator[InternalRow] = {
    val decoded = cursor.map(RowCodec.toRow(_, schema))
    grouped.fold(decoded)(_.orEmpty(decoded))
  }

  override def close(): Unit = client.close()
}

object GraftServerScanBuilder {
  /** Fail-loud arm of the `ascii_columns` contract on ORDERED pushdown
    * RESULTS (r18): a returned min/max/top-n key value that is
    * non-ASCII proves the declaration false AND is exactly the case
    * where the value could be wrong — throw instead of silently
    * diverging. (All-ASCII results are provably correct: the UTF-16 and
    * UTF-8 orders agree on every comparison involving an ASCII operand,
    * so an ASCII winner/top-n member won each of its comparisons under
    * BOTH orders. A live server's binary order is Spark-exact anyway —
    * there the throw only surfaces the false declaration.) */
  def asciiCheck(v: graft.bson.BsonValue, field: String): Unit = v match {
    case graft.bson.BString(s) if !s.forall(_ < 0x80) =>
      throw new IllegalArgumentException(
        s"ascii_columns contract violated: non-ASCII value '$s' returned " +
          s"for ordered pushdown on '$field' (ordering on a declared " +
          "string column is only exact over ASCII; remove the column " +
          "from ascii_columns or clean the data)")
    case _ => ()
  }

  /** Verify declared-ASCII fields on a RESULT doc stream (bounded: the
    * streams this wraps are top-n/limit/#groups-sized). */
  def asciiVerifyDocs(docs: Iterator[BDoc],
      fields: Seq[String]): Iterator[BDoc] =
    if (fields.isEmpty) docs
    else docs.map { d =>
      fields.foreach(f => d.getPath(f).foreach(asciiCheck(_, f))); d
    }
}

/** One planned split: its namespace, key range, the owning chunk's
  * hosts as preferred locations, and the cursor query (the scan's query
  * with runtime IN-sets; a joined scan's pipeline carries its own).
  * [[BQuery.KeyRange]] is a plain case class — the split serializes as
  * data, the cursor is re-opened executor-side.
  */
final case class GraftServerPartition(ns: String, range: BQuery.KeyRange,
    hosts: Seq[String], query: BQuery = BQuery.True) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts.toArray
}

/** The pushed GROUPED-aggregate reader: ONE `$match`+`$group` pipeline
  * round-trip for ITS namespace ([[ServerClient.groupAggregate]]; a
  * multi-ns union plans one such partition per namespace, so the
  * pipelines run in parallel); the server computes the group rows and
  * only #groups docs cross the wire. A bare COUNT(*) is one collStats
  * instead. Rows are partial — Spark's final aggregate re-groups and
  * folds them (which also merges groups across the union).
  *
  * A global MIN/MAX is one `$group` too: on a live server with an index
  * on the column, a sorted limit-1 cursor would walk the index instead
  * of the collection (unmeasured here; no query has run against one).
  */
final class ServerGroupedAggReader(p: GraftServerPartition, spec: ScanSpec,
    options: Map[String, String]) extends RowIteratorReader {

  private val grouped = spec.grouped.get
  private val client = GraftServerSource.factory(options).create(options)

  /** r18: MIN/MAX aliases over declared-ASCII string columns — the
    * returned extrema verify against the contract (sound: an ASCII
    * winner won every comparison under both orders). */
  private val asciiAggAliases: Seq[String] = {
    val declared = ReadModel.asciiCols(options)
    grouped.items.collect {
      case (GroupAgg.MinOf(c, a), _) if declared.contains(c) => a
      case (GroupAgg.MaxOf(c, a), _) if declared.contains(c) => a
    }
  }

  override protected val rows: Iterator[InternalRow] =
    if (spec.bareCount) {
      // this namespace's stored doc count: one collStats, no cursor
      val n = client.collStats(p.ns).count
      Iterator.single(new GenericInternalRow(Array.fill[Any](grouped.items.size)(n)))
    } else grouped.orEmpty(
      GraftServerScanBuilder.asciiVerifyDocs(
        client.groupAggregate(p.ns, p.query,
          grouped.groupCols.map(_._1), grouped.items.map(_._1), spec.unwind,
          spec.unwindPost, computed = spec.computed),
        asciiAggAliases)
        .map(d => RowCodec.toRow(Unwind.narrowPos(d), grouped.schema)))

  override def close(): Unit = client.close()
}

/** Holds exactly one server cursor for its split — the executor-side
  * mirror of the reference's per-split cursor, with the split range,
  * pushed query, projection, and partial limit all applied server-side.
  */
final class GraftServerPartitionReader(p: GraftServerPartition, spec: ScanSpec,
    options: Map[String, String]) extends RowIteratorReader {
  import spec.{offset, sample, topN, unwind, unwindPost}

  // `$unwind` (r14): the cursor streams PARENT docs (one array per
  // parent crosses the wire, never the flattened cross-product) and the
  // reader emits one row per element ([[Unwind.expandAll]], as the file
  // reader does). EXCEPT in pipeline mode (spec.tailsPostUnwind): a
  // LIMIT/TopN/OFFSET tail counts unwound rows, so the whole unwind+post+tail runs server-side
  // ([[ServerClient.unwoundRead]]) and the cursor streams PER-ELEMENT
  // docs — the reader decodes them like a plain scan
  private val pipelineMode: Boolean = spec.tailsPostUnwind

  // `_ns` provenance: splice this partition's namespace in at the
  // requested position — constant per cursor
  private val nsCol =
    new graft.source.MetaColumn(spec.required, GraftServerSource.NsMetaCol, spec.meta, p.ns)
  private val decodeSchema: StructType = nsCol.decodeSchema
  // the columns read from the parent doc: all but the element and pos
  // columns, which hold per-row values
  private val parentCols: Seq[String] = decodeSchema.fieldNames.toSeq
    .filterNot(n => unwind.exists(u => u.element.contains(n) || u.pos.contains(n)))

  // Spark column -> document field (column_mapping): decode and the
  // cursor projection address DOCUMENT paths
  private val mapping = spec.mapping

  // DERIVED columns (r17): injected into each fetched document before
  // decode — the client-side mirror of the pipeline `$set`; only the
  // columns this scan's schema still carries (pruned ones skip the
  // arithmetic). Never combined with an unwind (the capture rule
  // refuses unwound relations; UnwindRelocate refuses computed ones).
  private val computedCols: Seq[graft.query.ComputedCol] =
    spec.computed.filter(c => decodeSchema.fieldNames.contains(c.out))

  private val client = GraftServerSource.factory(options).create(options)

  /** Declared-ASCII string TOP-N order keys (r18): their returned
    * values verify against the `ascii_columns` contract (sound — see
    * [[GraftServerScanBuilder.asciiCheck]]); the cursor projection must
    * carry them even when Spark pruned the column. */
  private val asciiOrderFields: Seq[String] = topN.map(_.keys.map(_._1))
    .getOrElse(Nil)
    .filter(ReadModel.asciiCols(options).contains)

  private val rawCursor0: Iterator[BDoc] = if (pipelineMode)
    // unwound ROW pipeline: $match + $unwind + $match(post) + the
    // pushed $sort/$skip/$limit tail, all server-side — per-element
    // docs cross the wire, already post-matched and tail-bounded.
    // Partitions in this mode are whole-namespace (no key range).
    client.unwoundRead(p.ns, p.query, unwind.get, unwindPost,
      sortSpec = topN.map(_.sortSpec).getOrElse(Nil),
      skip = offset.map(_.toLong).getOrElse(0L),
      limit = spec.rowCap.map(_.toLong).getOrElse(-1L),
      projection = Some(GraftServerSource.pruneProjection(
        parentCols.map(n => mapping.getOrElse(n, n)) ++
        // the per-element docs carry the element at its element field
        // (a MAP unwind's kv entry, which the key/value mappings read —
        // the map path itself is never a column post-unwind)
        Seq(unwind.get.elementField) ++
        unwind.get.posField.filter(_ =>
          unwind.get.pos.exists(decodeSchema.fieldNames.contains)) ++
        asciiOrderFields)))
      .map(Unwind.narrowPos(_))
  else
    client.find(p.ns,
      Find(BQuery.and(p.range, p.query),
        // a pushed sample's key — and any doc path the POST-unwind
        // match reads (a mixed element-or-parent disjunction may
        // reference parents Spark pruned from the output) — must ride
        // the projection even when the column itself was pruned away.
        // Paths bound per unwound row are excluded — those at/under the
        // unwound path (the projected path already carries them) and
        // the reader-injected pos and kv fields, never stored (under an
        // ARRAY unwind a stored field named __graft_kv is a legitimate
        // parent column) — then ancestor-overlaps pruned: a live server
        // rejects prefix-overlapping inclusion projections ("Path
        // collision")
        projection = Some(GraftServerSource.pruneProjection(
          // a COMPUTED column's value is reader-injected; the cursor
          // fetches its SOURCE field instead of the synthetic name
          (parentCols
            .filterNot(n => computedCols.exists(_.out == n))
            .map(n => mapping.getOrElse(n, n)) ++
          computedCols.map(_.field) ++
          unwind.map(_.path) ++
          BQuery.fieldPaths(unwindPost).toSeq.sorted ++
          sample.map(_.key) ++
          asciiOrderFields)
          .filterNot(p => unwind.exists(u => p != u.path && u.postOnly(p))))),
        // a pushed top-n's (compound) order wins; else the option-level
        // cursor sort
        sortAscBy = topN.map(_.keys.head._1).orElse(options.get("sort")),
        // cursor skip: only ever set on the provably-single-cursor plan
        skip = offset.map(_.toLong).getOrElse(0L),
        limit = spec.rowCap.map(_.toLong).getOrElse(-1L),
        sortDescending = topN.exists(_.keys.head._2),
        thenBy = topN.map(_.sortSpec.tail).getOrElse(Nil)))

  // r18: the `ascii_columns` contract verifies on the RETURNED top-n
  // keys (a bounded stream — the cursor carries the pushed $limit)
  private val rawCursor: Iterator[BDoc] =
    GraftServerScanBuilder.asciiVerifyDocs(rawCursor0, asciiOrderFields)

  // deterministic sample window, applied client-side over the cursor's
  // documents (MQL cannot express the md5 predicate); computed fields
  // inject after it (sample keys are never computed — the push refuses)
  private val cursor: Iterator[BDoc] = {
    val sampled = sample.map(sp => rawCursor.filter(sp.keep)).getOrElse(rawCursor)
    if (computedCols.isEmpty) sampled
    else sampled.map(d => graft.query.ComputedCol.injectAll(computedCols, d))
  }

  // pipeline mode's per-element docs hold the element AT the unwound
  // path, where the element column's mapping entry points
  private val decoded: Iterator[InternalRow] =
    (if (pipelineMode) cursor else Unwind.expandAll(unwind, unwindPost, cursor, narrow = true))
      .map(RowCodec.toRow(_, decodeSchema, mapping))

  override protected val rows: Iterator[InternalRow] = decoded.map(nsCol.splice)

  override def close(): Unit = client.close()
}

// ---- write path ----

final class GraftServerWriteBuilder(writeSchema: StructType,
    options: Map[String, String]) extends WriteBuilder {
  override def build(): Write = {
    // the comma form of `ns` is a read-side union; a write needs one target
    require(GraftServerSource.nsList(options).size == 1,
      s"graftserver write requires a single namespace, got '${GraftServerSource.ns(options)}'")
    new Write {
      override def toBatch: BatchWrite =
        new GraftServerBatchWrite(writeSchema, options)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new GraftServerStreamingWrite(writeSchema, options)
    }
  }
}

/** Native Structured Streaming SINK over the server transport: each
  * epoch's tasks stream batched bulkWrites as they run (the same
  * [[GraftServerDataWriter]] the batch path uses), and epoch
  * commit/abort are no-ops — the exact MongoOutputCommitter contract
  * (server-side commitTask does nothing). A recovered query re-sends
  * its last epoch: idempotent under keyed upsert/update/replace modes
  * (the streaming deployment shape), at-least-once under plain insert —
  * the reference's semantics, stated rather than hidden. Exactly-once
  * belongs to the file-backed sink's marker-guarded staged commit.
  */
final class GraftServerStreamingWrite(writeSchema: StructType,
    options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // same pre-task index point as the batch write (runs once per query
    // start, before the first epoch's tasks; idempotent server-side)
    GraftServerSource.ensureIndexIfAsked(options)
    new GraftServerStreamingWriterFactory(writeSchema, options)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftServerStreamingWriterFactory(writeSchema: StructType,
    options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftServerDataWriter(partitionId, writeSchema, options)
}

/** Tasks stream batched bulkWrites directly to the server as they run;
  * job commit/abort are no-ops because a server write has no staging area
  * — MongoOutputCommitter parity (its server-side commitTask does
  * nothing). Retries re-send a task's models: idempotent under keyed
  * upsert/update, at-least-once under insert. Exactly-once belongs to the
  * file-backed source's staged two-phase commit.
  */
final class GraftServerBatchWrite(writeSchema: StructType,
    options: Map[String, String]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // declared indexes are created BEFORE any task writes — the
    // reference's pre-insert ensureIndex point
    // (core/.../output/MongoRecordWriter.java:128-130); one driver-side
    // createIndexes round-trip, idempotent on the server
    GraftServerSource.ensureIndexIfAsked(options)
    new GraftServerWriterFactory(writeSchema, options)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftServerWriterFactory(writeSchema: StructType,
    options: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftServerDataWriter(partitionId, writeSchema, options)
}

final case class ServerWriteCommit(partitionId: Int, written: Long)
    extends WriterCommitMessage

/** Buffers write models and flushes one bulkWrite per `batch_size` — the
  * reference's batched MongoRecordWriter round-trips. Model construction
  * (insert / keyed update envelope) is the SAME [[graft.store.WriteModels]]
  * path the file source's task writers use.
  */
final class GraftServerDataWriter(partitionId: Int, writeSchema: StructType,
    options: Map[String, String]) extends DataWriter[InternalRow] {
  import graft.store.WriteModels

  private val client = GraftServerSource.factory(options).create(options)
  private val ns = GraftServerSource.ns(options)
  private val conf = WriteModels.WriteConf.fromOptions(options)
  private val ordered = options.get("bulk_ordered").forall(_.toBoolean)
  private val batchSize = options.get("batch_size").map(_.toInt).getOrElse(512)

  private val buf = scala.collection.mutable.ArrayBuffer.empty[graft.store.WriteModel]
  private var written = 0L

  override def write(row: InternalRow): Unit = {
    buf += WriteModels.fromDoc(conf.model(RowCodec.toBson(row, writeSchema)))
    written += 1
    if (buf.size >= batchSize) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    client.bulkWrite(ns, buf.iterator, ordered)
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    ServerWriteCommit(partitionId, written)
  }

  override def abort(): Unit = ()

  override def close(): Unit = client.close()
}
