package graft.server

import graft.bson._
import graft.query.{BQuery, Unwind}
import graft.source.Planners
import graft.store.{BsonCollection, BulkResult, InsertOne, WriteModel}

import scala.collection.immutable.ListMap

/** One server read: filter + projection + per-cursor sort + skip/limit —
  * exactly the knobs the reference sets on its per-split cursor
  * (core/src/main/java/com/mongodb/hadoop/input/MongoInputSplit.java:272-299:
  * find(query).projection(fields).sort(sort).skip(n).limit(n)).
  */
final case class Find(
    query: BQuery = BQuery.True,
    projection: Option[Seq[String]] = None,
    sortAscBy: Option[String] = None,
    skip: Long = 0L,
    limit: Long = -1L,
    /** Reverse the `sortAscBy` order — `cursor.sort({k: -1})`, an
      * index walk backwards on a server. */
    sortDescending: Boolean = false,
    /** Secondary sort keys after `sortAscBy`, each (column, descending)
      * — the compound cursor sort doc `{k1: ±1, k2: ±1, ...}` of a
      * tie-broken ORDER BY (the reference's sort doc is a full document,
      * MongoInputSplit.java:281). */
    thenBy: Seq[(String, Boolean)] = Nil) {

  /** The full compound sort spec as (column, descending) pairs; empty =
    * unsorted cursor. */
  def sortSpec: Seq[(String, Boolean)] =
    sortAscBy.map(k => (k, sortDescending)).toSeq ++ thenBy
}

/** The live-server surface the engine needs, as a transport-agnostic
  * trait: every method is one public MongoDB command/driver call, so a
  * production binding is a thin class wrapping the mongo-java-driver
  * (none is linked here — this sandbox has no driver jar and no server;
  * see `docs` in [[ServerClient$]] for the 1:1 mapping). The file-backed
  * engine is unchanged: [[ServerStats]] plugs this into the SAME
  * [[Planners.CollectionStats]] planning interface the file provider
  * implements, and [[ServerCollection]] mirrors the per-split cursor
  * read and bulk-write entry points. `close()` releases the client's
  * connection.
  */
trait ServerClient extends AutoCloseable {

  /** collStats essentials (count + avgObjSize), the reference's sizing
    * input (core/.../splitter/MongoSplitterFactory.java:66-83).
    */
  def collStats(ns: String): ServerClient.CollStats

  /** Server-side cursor. Implementations MUST stream (driver cursor →
    * iterator), never materialize: a split read is unbounded.
    */
  def find(ns: String, q: Find): Iterator[BDoc]

  /** `aggregate([{$sample: {size: n}}, {$project: {key: 1}}])` — the
    * sample-based splitter's boundary source
    * (core/.../splitter/SampleSplitter.java:79-88). Values need not be
    * sorted; the planner sorts.
    */
  def sampleKeys(ns: String, key: String, n: Int): Seq[BsonValue]

  /** `splitVector` admin command: index-walk boundaries at maxChunkBytes
    * (core/.../splitter/StandaloneMongoSplitter.java:94-101). None when
    * the deployment refuses it (mongos, no privileges) — callers fall
    * back to [[sampleKeys]], like the reference falls back to the
    * sample splitter.
    */
  def splitVector(ns: String, key: String, maxChunkBytes: Long): Option[Seq[BsonValue]]

  /** config.chunks + shard host lookup for shard-chunk planning
    * (core/.../splitter/ShardChunkMongoSplitter.java): (lo, hi, hosts)
    * per chunk. Empty for unsharded deployments.
    */
  def chunkRanges(ns: String, key: String): Seq[(Option[BsonValue], Option[BsonValue], Seq[String])]

  /** Ordered/unordered bulkWrite, same models the batch write path
    * streams shard-side. */
  def bulkWrite(ns: String, models: Iterator[WriteModel], ordered: Boolean): BulkResult

  /** Declare a (compound) ascending index BEFORE a write job's tasks run
    * — the reference creates declared indexes pre-insert
    * (core/.../output/MongoRecordWriter.java:128-130; index option
    * parsing pig/.../MongoStorageOptions.java:16-110). One
    * `createIndexes` command round-trip; idempotent (a server treats an
    * existing identical index as a no-op).
    */
  def createIndex(ns: String, fields: Seq[String]): Unit

  /** One server-side grouped aggregation —
    * `aggregate([{$match: query}, {$group: {_id: <keys>, ...}}])`,
    * the same server-side `aggregate()` pattern the reference's sample
    * splitter establishes (core/.../splitter/SampleSplitter.java:79-88)
    * applied to the $group stage. ONE round-trip per call; the result
    * streams one doc per group carrying each group value under its
    * column name and each aggregate under its [[GroupAgg.alias]].
    * `groupKeys` may be empty — a filtered GLOBAL aggregate
    * (`_id: null`): one result doc when any doc matches, NONE otherwise
    * (real `$group` emits nothing over empty input — callers needing a
    * zero-count sentinel add it themselves). Aggregates skip
    * null/missing values (mongo $min/$max/$sum semantics, which match
    * Spark's null-ignoring aggregates) and a SUM over an all-null group
    * is NULL (Spark semantics — a real server's `$sum` says 0 there, so
    * driver bindings must correct it via the
    * [[QueryDocs.sumPresenceAlias]] companion); COUNT counts all
    * matched docs in the group.
    */
  def groupAggregate(ns: String, query: BQuery, groupKeys: Seq[String],
      aggs: Seq[GroupAgg],
      unwind: Option[Unwind] = None,
      postQuery: BQuery = BQuery.True,
      /** DERIVED columns (r17, [[graft.query.ComputedCol]]) the group
        * keys/aggregates may reference: materialized by a `$set` stage
        * after the pre-`$match` (whose query never references them —
        * the scan keeps computed-column filters residual). Never
        * combined with an unwind (the capture rule refuses unwound
        * relations). */
      computed: Seq[graft.query.ComputedCol] = Nil): Iterator[BDoc]

  /** One unwound ROW pipeline ([[QueryDocs.unwoundStages]] is the wire
    * rendering): `$match(pre)` → `$unwind` → `$match(post)` → optional
    * `$sort`/`$skip`/`$limit` tail → `$project`, returning per-element
    * DOCUMENTS (the unwound path holds the element). The plain unwound
    * scan uses this when a row-count/-order tail is pushed — those
    * count UNWOUND rows, which find()'s parent-doc knobs cannot.
    * `sortSpec` is (path, descending) pairs over stored values (BSON
    * `$sort` order — callers gate bracket safety); both queries must
    * render fully server-side (rows may be gone after the tail).
    */
  def unwoundRead(ns: String, query: BQuery, unwind: Unwind,
      postQuery: BQuery, sortSpec: Seq[(String, Boolean)],
      skip: Long, limit: Long,
      projection: Option[Seq[String]]): Iterator[BDoc]

  /** One server-executed join — the `$lookup`+`$unwind` pipeline
    * ([[QueryDocs.lookupPipeline]] is the wire rendering): driving docs
    * of `ns` matching `j.leftQuery` feed `j.stages` in order, each stage
    * joining one more collection ([[LookupStage]]), and stream back
    * FLATTENED — one doc per joined row carrying every output field of
    * the last stage at the top level. A LEFT OUTER stage keeps unmatched
    * rows with its right fields missing (they read back as NULL).
    * Null/missing keys never match on either side (SQL equi-join
    * semantics; the right side's pipeline filters them, a null driving
    * key looks up nothing). A [[BQuery.KeyRange]] conjunct in
    * `j.leftQuery` (a split range) is rendered BRACKET-style
    * (`$gte`/`$lt`) inside the pipeline's `$match` — unlike a cursor's
    * min/max bounds this is only exact over uniformly-stored keys, so
    * callers must pass one only under the `assume_uniform_storage`
    * opt-in (the joined scan does).
    */
  def lookupJoin(ns: String, j: LookupJoin): Iterator[BDoc]
}

/** One `$lookup`+`$unwind` stage of a pushed join: `leftProject` maps
  * the rows driving this stage to their output names — for stage 0 the
  * driving collection's DOC fields, for a later stage the previous
  * stage's output names (the renderer flattens each from its joined
  * home) — then `rightNs` docs matching `rightQuery` (projected to
  * `rightProject`) join on the AND of `keys`, (left OUTPUT, right
  * OUTPUT) equalities.
  */
final case class LookupStage(
    leftProject: Seq[(String, String)],
    rightNs: String,
    rightQuery: BQuery,
    rightProject: Seq[(String, String)],
    keys: Seq[(String, String)],
    leftOuter: Boolean,
    /** RANGE conjuncts of the stage's join condition (r17, chained stages
      * r18): `leftOut OP rightOut` over OUTPUT names, rendered into the
      * `$lookup` pipeline's `$expr` alongside the key equalities — the
      * binned interval / as-of join shape (equi-key on the bin, range
      * residual in the pipeline), never all-pairs. The caller gates
      * operand types on `assume_uniform_storage` (aggregation `$lt`/`$gt`
      * compare in BSON TOTAL order — cross-bracket foreign storage would
      * compare by type where Spark's typed comparison returns null) and
      * null-filters the right operands (null/missing sort below every
      * real value in `$expr`; a null driving operand fails the per-var
      * guard, so INNER drops and LEFT OUTER null-extends, matching
      * Spark's null comparison). */
    ranges: Seq[LookupJoin.RangeKey] = Nil,
    /** DERIVED columns (r17, [[graft.query.ComputedCol]]) of the lookup
      * side, materialized by a `$set` FIRST in the sub-pipeline (its
      * `$match` may carry the non-null key prune on a computed field).
      * Stage 0 only: a chained stage refuses computed sides. */
    rightComputed: Seq[graft.query.ComputedCol] = Nil,
    /** Indices into `keys` whose Spark type is DOUBLE: those compare the
      * values Spark reads — `$toDouble` of both operands on the wire,
      * [[LookupJoin.doubleKey]] in the fake — so an Int64 above 2^53
      * joins the double it reads as. Every other key compares exactly. */
    doubleKeys: Set[Int] = Set.empty) {
  require(ranges.forall(r => LookupJoin.RangeOps.contains(r.op)),
    s"unknown range op in $ranges")
  require(ranges.isEmpty || keys.nonEmpty,
    "a range join needs at least one key equality (never all-pairs)")

  /** right OUTPUT name -> right doc field (nested outputs resolve by
    * head, [[LookupJoin.fieldOf]]). */
  def rightField(out: String): String = LookupJoin.fieldOf(rightProject, out)

  /** The plan spelling: flavor, lookup namespace and condition. */
  override def toString: String =
    s"${if (leftOuter) "LEFT OUTER" else "INNER"} $rightNs ON " +
      (keys.map { case (l, r) => s"$l = $r" } ++ ranges.map(_.toString)).mkString(" AND ")
}

/** One pushed join, transport-agnostic: the driving side's query and
  * stage-0 extras, then the lookup stages — a 2-way join has one, each
  * further collection of a 3-way+ chain adds one, and the whole chain is
  * ONE pipeline round-trip. Plain data — serializes into the scan's
  * partitions.
  *
  * Exactly one tail may be set:
  *  - `group`: a server-side `$group` over the FINAL joined output
  *    names (an aggregate pushed through the join — only #groups docs
  *    cross the wire); result docs follow the
  *    [[ServerClient.groupAggregate]] contract (group values under
  *    their output names, aggregates under their aliases, all-null SUM
  *    = NULL).
  *  - `limit`: a `$limit` after the last `$unwind` — a PARTIAL row cap
  *    (per pipeline, Spark re-applies the global one).
  *  - `topN`: a `$sort`+`$limit` tail — the per-pipeline local top-n of
  *    `ORDER BY ... LIMIT n` over the joined rows, (output name,
  *    descending) pairs in precedence order; PARTIAL like `limit`
  *    (each pipeline's local top-n is a superset of its contribution
  *    to the global one, which Spark's TakeOrdered folds).
  *  - `skip`: a `$skip` over the FINAL joined rows (single-pipeline
  *    OFFSET pushdown — globally exact only when the caller plans one
  *    pipeline, which the `splitter=single` gate guarantees).
  */
final case class LookupJoin(
    leftQuery: BQuery,
    stages: Seq[LookupStage],
    group: Option[(Seq[String], Seq[GroupAgg])] = None,
    limit: Option[Long] = None,
    topN: Option[(Seq[(String, Boolean)], Long)] = None,
    skip: Option[Long] = None,
    /** DRIVING-side `$unwind` (r15): rendered between the left `$match`
      * and stage 0's `$project`, so the per-ELEMENT rows feed the
      * `$lookup` — `explode(driving.arr)` then join runs as ONE
      * pipeline. `unwindPost` is the post-unwind element `$match`
      * (must be fully server-renderable; element rows with
      * untranslatable predicates never push this far). Lookup-side
      * arrays never unwind here (element rows are not parent-atomic
      * across the join boundary). */
    unwind: Option[Unwind] = None,
    unwindPost: BQuery = BQuery.True,
    /** DERIVED columns (r17, [[graft.query.ComputedCol]]) of the driving
      * side, materialized via a `$set` after the left `$match` (which
      * never references them). Never combined with an unwind. */
    leftComputed: Seq[graft.query.ComputedCol] = Nil) {
  require(stages.nonEmpty, "a lookup join has at least one stage")
  require(Seq(group.isDefined, limit.isDefined, topN.isDefined,
      skip.isDefined).count(identity) <= 1,
    "a lookup join takes at most one of group/limit/topN/skip")

  /** left OUTPUT name -> driving doc field (stage 0's projection). */
  def leftField(out: String): String = LookupJoin.fieldOf(stages.head.leftProject, out)
}

object ServerClient {
  final case class CollStats(count: Long, avgObjSizeBytes: Long)

  /** The `$unwind` a pipeline carries — [[graft.query.Unwind]], under
    * the name client wrappers spell it with. */
  type Unwind = graft.query.Unwind
}

object LookupJoin {
  /** One range conjunct of a pushed join condition: `leftOut OP
    * rightOut` over the two sides' OUTPUT names ("<", "<=", ">", ">="
    * — the driving side on the left; a mirrored right-outer push swaps
    * sides and flips the op before building this). */
  final case class RangeKey(leftOut: String, op: String, rightOut: String) {
    override def toString: String = s"$leftOut $op $rightOut"
  }

  val RangeOps: Set[String] = Set("<", "<=", ">", ">=")

  /** The hash key of a DOUBLE join operand: the double Spark reads from a
    * numeric storage (an Int64 above 2^53 rounds as `$toDouble` rounds
    * it), with -0.0 equal to 0.0 and every NaN equal to NaN, as Spark's
    * join keys normalize them. A non-numeric storage keys as itself. */
  def doubleKey(v: BsonValue): Any = v match {
    case BInt32(x) => x.toDouble
    case BInt64(x) => x.toDouble
    case BDouble(x) => if (x == 0.0) 0.0 else if (x.isNaN) Double.NaN else x
    case other => other
  }

  /** `left OP right` in BSON total order — the `$expr` comparison the
    * wire pipeline runs, shared by the fake transport so the two agree;
    * null/missing operands never match (callers also pre-filter them,
    * mirroring Spark's null comparison semantics).
    *
    * NaN (DoubleType, the min/max/TopN caveat's range-join arm): a real
    * server's total order places NaN BELOW all numbers where Spark
    * orders NaN ABOVE every double — this comparison follows the
    * SERVER's rule (so the sandbox double and the live transport agree
    * with each other), which means a pushed range join treats a
    * foreign NaN operand as smaller-than-everything where the unpushed
    * Spark join would treat it as larger. Engine writers emit no NaN;
    * foreign NaN-bearing doubles need a pushed NaN-excluding filter or
    * join pushdown off — the same stance as the pushed MIN/MAX.
    */
  def rangeMatches(op: String, left: Option[BsonValue],
      right: Option[BsonValue]): Boolean = (left, right) match {
    case (Some(l), Some(r)) if l != BNull && r != BNull =>
      // r18 string range keys ride the `ascii_columns` declaration —
      // the sandbox evaluator's UTF-16 compare is only exact over
      // ASCII, so a non-ASCII operand here is a CONTRACT VIOLATION:
      // fail loud instead of silently diverging from Spark/live binary
      // order (a live server compares UTF-8 bytes = Spark's order, so
      // the declaration can never corrupt live results)
      def asciiGuard(v: BsonValue): Unit = v match {
        case BString(s) if !s.forall(_ < 0x80) =>
          throw new IllegalArgumentException(
            s"ascii_columns contract violated: non-ASCII string range " +
              s"operand '$s' (the sandbox order is only Spark-exact over " +
              "ASCII; remove the column from ascii_columns or clean the data)")
        case _ => ()
      }
      asciiGuard(l); asciiGuard(r)
      def nan(v: BsonValue): Boolean = v match {
        case BDouble(x) => x.isNaN
        case _ => false
      }
      def numericBracket(v: BsonValue): Boolean = v match {
        case _: BInt32 | _: BInt64 | _: BDouble => true
        case _ => false
      }
      val c =
        if (nan(l) && nan(r)) 0
        else if (nan(l) && numericBracket(r)) -1 // NaN below all numbers
        else if (nan(r) && numericBracket(l)) 1
        else BsonOrdering.compare(l, r) // cross-bracket: bracket order

      op match {
        case "<" => c < 0
        case "<=" => c <= 0
        case ">" => c > 0
        case ">=" => c >= 0
        case other => throw new IllegalArgumentException(s"range op $other")
      }
    case _ => false
  }

  /** Resolve a (possibly NESTED) join-key OUTPUT name to its document
    * field path through a (field → output) projection: an exact output
    * match wins; otherwise the dotted HEAD names the projected column
    * and the tail appends to its field (`meta.k` over a projection
    * `m → meta` resolves to `m.k`). Shared by the wire renderer, the
    * fake transport, and the per-split readers so all three agree.
    */
  def fieldOf(spec: Seq[(String, String)], out: String): String =
    spec.collectFirst { case (f, o) if o == out => f }.getOrElse {
      val i = out.indexOf('.')
      require(i > 0, s"unknown join output '$out' in ${spec.map(_._2)}")
      val head = out.substring(0, i)
      spec.collectFirst { case (f, o) if o == head => f + out.substring(i) }
        .getOrElse(throw new IllegalArgumentException(
          s"unknown join output '$out' in ${spec.map(_._2)}"))
    }
}

/** [[Planners.CollectionStats]] over a live server: the planners
  * (size-based, sample-based, paginating, pruning) run unmodified against
  * either this or the file-backed `FileStats` — planning is the same
  * bounded probe sequence, only the transport differs. Every method is a
  * single bounded server round-trip (no full scans):
  *
  *  - count / avgObjSizeBytes: one collStats
  *  - sampleKeys: one \$sample aggregate
  *  - keyAtSkip: `find(query).sort(key).skip(n).limit(1).projection(key)`
  *    — the server walks the index, one doc crosses the wire
  *  - hasAny: `find(query).limit(1)`
  */
final class ServerStats(client: ServerClient, ns: String, key: String)
    extends Planners.CollectionStats {

  private lazy val stats = client.collStats(ns)

  override def count: Long = stats.count
  override def avgObjSizeBytes: Long = stats.avgObjSizeBytes

  override def sampleKeys(n: Int): Seq[BsonValue] =
    client.sampleKeys(ns, key, n).sorted(BsonOrdering)

  override def keyAtSkip(query: BQuery, skip: Long): Option[BsonValue] =
    client.find(ns, Find(query, projection = Some(Seq(key)),
        sortAscBy = Some(key), skip = skip, limit = 1L))
      .toSeq.headOption.flatMap(_.getPath(key))

  override def hasAny(query: BQuery): Boolean =
    client.find(ns, Find(query, projection = Some(Seq("_id")), limit = 1L)).hasNext
}

/** Server-backed collection handle: split planning via the shared
  * planner strategies, per-split cursor reads, and bulk writes. The
  * executor-side analog: a PartitionReader holds one [[readSplit]]
  * cursor, exactly like the reference's split holds one server cursor.
  */
final class ServerCollection(client: ServerClient, ns: String) {

  def stats(key: String): ServerStats = new ServerStats(client, ns, key)

  /** Plan splits with the same strategy factory the file source uses;
    * `splitVector` boundaries win when the server grants them, sampling
    * otherwise (the reference's splitter-factory fallback chain,
    * core/.../splitter/MongoSplitterFactory.java:49-106).
    */
  def planSplits(key: String, targetSplitBytes: Long = 8L * 1024 * 1024): Seq[Planners.KeySplit] = {
    val chunks = client.chunkRanges(ns, key)
    if (chunks.nonEmpty)
      chunks.map { case (lo, hi, hosts) =>
        Planners.KeySplit(BQuery.KeyRange(key, lo, hi), hosts)
      }
    else client.splitVector(ns, key, targetSplitBytes) match {
      case Some(bounds) => Planners.fromBoundaries(key, bounds.sorted(BsonOrdering))
      case None => Planners.sizeBased(stats(key), key, targetSplitBytes)
    }
  }

  /** One split's cursor: range ∧ residual query, with the scan's
    * projection and per-partition sort pushed to the server.
    */
  def readSplit(split: Planners.KeySplit, residual: BQuery = BQuery.True,
      projection: Option[Seq[String]] = None,
      sortAscBy: Option[String] = None): Iterator[BDoc] =
    client.find(ns, Find(BQuery.and(split.range, residual), projection, sortAscBy))

  def bulkWrite(models: Iterator[WriteModel], ordered: Boolean = true): BulkResult =
    client.bulkWrite(ns, models, ordered)
}

/** Builds a [[ServerClient]] from connector options. Resolved by FQCN on
  * the driver AND inside each partition reader/writer — the connection
  * itself never serializes; every task reconstructs its own client from
  * the options, exactly like the reference rebuilding a `MongoClient`
  * from the input URI inside each mapper's split
  * (core/src/main/java/com/mongodb/hadoop/input/MongoInputSplit.java:243-276).
  * A production binding is one class wrapping the mongo-java-driver
  * (`create` = `MongoClients.create(options("uri"))`).
  */
trait ServerClientFactory {
  def create(options: Map[String, String]): ServerClient

  /** True when this factory binds a LIVE server whose own engine
    * evaluates the wire forms (queries ship verbatim — the server's
    * dialect rules are authoritative). False (default) for sandbox /
    * file-backed doubles, whose option queries the ENGINE matcher
    * evaluates client-side — there the client-dialect gates
    * ([[graft.query.NumericNullEdge]]) apply exactly as on the file
    * transport (ADVICE r16: the fake transport silently used the
    * engine's numeric-null rule where the file transport refused). */
  def liveTransport: Boolean = false
}

/** Sandbox factory: a [[FakeServerClient]] rooted at `server_dir`. Stands
  * in for the driver binding (no driver jar / live server here); every
  * task opens the same file-backed store, so the DSv2 plumbing above it —
  * serializable splits, per-task client construction, cursor streaming —
  * runs the real code path.
  */
final class DirServerFactory extends ServerClientFactory {
  override def create(options: Map[String, String]): ServerClient =
    new FakeServerClient(Some(options.getOrElse("server_dir",
      throw new IllegalArgumentException("graftserver: server_dir option required"))))
}

/** In-memory/test double for [[ServerClient]]: each namespace is backed
  * by a real [[BsonCollection]] under a temp dir (or a caller-provided
  * `rootDir`, shared by many client instances — the executor-side mode of
  * [[DirServerFactory]]), so bulk writes get the store's full
  * update/upsert/replace semantics and `find` evaluates the same
  * [[BQuery.matches]] the per-shard apply uses — the trait-level tests
  * exercise real behavior, only the network is fake. Sampling is
  * DETERMINISTIC (every count/n-th doc in key order) so planner tests
  * are reproducible.
  */
final class FakeServerClient(rootDir: Option[String] = None)
    extends ServerClient {
  private val ownsRoot = rootDir.isEmpty
  private val root = rootDir match {
    case Some(d) =>
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(p)
      p
    case None => java.nio.file.Files.createTempDirectory("graft-fakeserver")
  }
  private val colls = scala.collection.mutable.Map.empty[String, BsonCollection]

  /** Backing-store root, for specs asserting on-store side effects. */
  def rootPath: java.nio.file.Path = root

  /** Delete the backing temp tree; also registered as a JVM shutdown
    * hook so spec instances that never close() don't accrete /tmp
    * garbage across runs. A shared (caller-provided) root is never
    * deleted — its lifetime belongs to the caller.
    */
  override def close(): Unit = if (ownsRoot) {
    import java.nio.file.{Files => F}
    if (F.exists(root)) {
      val stream = F.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => F.deleteIfExists(p))
      finally stream.close()
    }
  }
  if (ownsRoot) Runtime.getRuntime.addShutdownHook(new Thread(() => close()))

  private def coll(ns: String): BsonCollection = colls.synchronized {
    colls.getOrElseUpdate(ns, {
      val dir = root.resolve(ns.replace('.', '_'))
      val c = new BsonCollection(dir.toString)
      c.create(1)
      c
    })
  }

  /** Round-trips observed per method — lets tests assert planning IO is
    * bounded (the server analog of FileStats.bytesTouched). */
  val callCounts: scala.collection.mutable.Map[String, Int] =
    scala.collection.mutable.Map.empty.withDefaultValue(0)
  private def tick(m: String): Unit = callCounts(m) = callCounts(m) + 1

  override def collStats(ns: String): ServerClient.CollStats = {
    tick("collStats")
    // count + avgObjSize from one header skim per shard: the file IS the
    // concatenated encoded docs, so its size is the byte total — a real
    // server answers collStats from metadata, not by re-serializing the
    // collection (the former decode+re-encode pass was O(data) CPU on
    // every split planning)
    val (bytes, count) = coll(ns).sizeStats()
    ServerClient.CollStats(count, if (count == 0) 0L else bytes / count)
  }

  override def find(ns: String, q: Find): Iterator[BDoc] = {
    tick("find")
    // stream unless a sort forces materialization — a cursor read must not
    // hold the collection in memory (the contract [[ServerClient.find]]
    // states), and a scan's per-split cursors would otherwise each
    // materialize the whole store
    //
    // projected decode: when the cursor carries a projection, only the
    // fields the projection/query/sort actually touch are decoded — every
    // other field's bytes are skipped (a real server reads full docs but
    // ships only the projection; the stand-in's analog saves the decode)
    val needed: Option[Set[String]] = q.projection.map(p =>
      p.toSet ++ BQuery.fieldPaths(q.query) ++ q.sortSpec.map(_._1))
    val matching = coll(ns).readAll(needed).filter(q.query.matches)
    val it = FakeServerClient.cursorTail(matching, q.sortSpec, q.skip, q.limit)
    q.projection match {
      // dotted paths re-NEST, exactly like a real server's {"a.b": 1}
      // projection (consumers read projected values by path)
      case Some(fields) => it.map(QueryDocs.projector(fields))
      case None => it
    }
  }

  override def sampleKeys(ns: String, key: String, n: Int): Seq[BsonValue] = {
    tick("sampleKeys")
    val keys = coll(ns).readAll(Some(Set(key))).flatMap(_.getPath(key)).toArray
    if (keys.isEmpty || n <= 0) Seq.empty
    else {
      // stride points of the STABLE sort, without fully sorting the
      // store's keys (r19, guide §5 — this runs on every range-planned
      // read): a partial quicksort recurses only into segments that
      // contain a selected index. The comparison key is (value, input
      // position) — the stable full sort's total order — so the picked
      // boundaries are element-for-element what
      // `keys.toVector.sorted(BsonOrdering)` selected.
      val size = keys.length
      val stride = math.max(1, size / n)
      val wanted = (0 until size by stride).take(n).toArray
      val idx = Array.tabulate(size)(identity)
      def cmpAt(a: Int, b: Int): Int = {
        val c = BsonOrdering.compare(keys(a), keys(b))
        if (c != 0) c else Integer.compare(a, b)
      }
      def swap(a: Int, b: Int): Unit = {
        val t = idx(a); idx(a) = idx(b); idx(b) = t
      }
      def insertion(lo: Int, hi: Int): Unit = {
        var i = lo + 1
        while (i <= hi) {
          val v = idx(i)
          var j = i - 1
          while (j >= lo && cmpAt(idx(j), v) > 0) { idx(j + 1) = idx(j); j -= 1 }
          idx(j + 1) = v
          i += 1
        }
      }
      // sort idx[lo..hi] only where wanted(wl..wh) indices fall inside
      def sel(lo: Int, hi: Int, wl: Int, wh: Int): Unit = {
        if (wl > wh || lo >= hi) return
        if (hi - lo < 32) { insertion(lo, hi); return }
        val mid = lo + (hi - lo) / 2
        if (cmpAt(idx(mid), idx(lo)) < 0) swap(lo, mid)
        if (cmpAt(idx(hi), idx(lo)) < 0) swap(lo, hi)
        if (cmpAt(idx(hi), idx(mid)) < 0) swap(mid, hi)
        val pivot = idx(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (cmpAt(idx(i), pivot) < 0) i += 1
          while (cmpAt(idx(j), pivot) > 0) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        // elements in (j, i) are in final position (total order)
        var wm = wl
        while (wm <= wh && wanted(wm) <= j) wm += 1
        var wn = wm
        while (wn <= wh && wanted(wn) < i) wn += 1
        sel(lo, j, wl, wm - 1)
        sel(i, hi, wn, wh)
      }
      sel(0, size - 1, 0, wanted.length - 1)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        wanted.map(w => keys(idx(w))))
    }
  }

  /** The fake grants splitVector only when asked to (tests cover both
    * arms of the fallback chain). */
  var splitVectorGranted: Boolean = false
  override def splitVector(ns: String, key: String, maxChunkBytes: Long): Option[Seq[BsonValue]] =
    if (!splitVectorGranted) None
    else {
      tick("splitVector")
      val docs = coll(ns).readAll().toVector
        .sortBy(d => d.getPath(key).getOrElse(BNull))(BsonOrdering)
      val bounds = scala.collection.mutable.ArrayBuffer.empty[BsonValue]
      var acc = 0L
      for (d <- docs) {
        acc += BsonCodec.encode(d).length.toLong
        if (acc >= maxChunkBytes) { d.getPath(key).foreach(bounds += _); acc = 0L }
      }
      Some(bounds.toSeq)
    }

  var shardChunks: Map[String, Seq[(Option[BsonValue], Option[BsonValue], Seq[String])]] = Map.empty
  override def chunkRanges(ns: String, key: String): Seq[(Option[BsonValue], Option[BsonValue], Seq[String])] =
    shardChunks.getOrElse(ns, Seq.empty)

  /** The fake's store IS a [[BsonCollection]] — declare the index there
    * (same side file the file source's ensure_index writes), so specs
    * read it back through the store's own `indexes()`. */
  override def createIndex(ns: String, fields: Seq[String]): Unit = {
    tick("createIndex")
    coll(ns).ensureIndex(fields)
  }

  /** Grouped aggregation over the store — what a real server computes
    * from the `$match`+`$group` pipeline, evaluated with the same
    * [[BQuery.matches]] the find path uses. Null/missing values are
    * skipped by min/max/sum (mongo semantics); an empty aggregate is
    * BNull. Sum stays integral while every addend is integral, doubles
    * otherwise (the $sum promotion rule).
    */
  override def groupAggregate(ns: String, query: BQuery, groupKeys: Seq[String],
      aggs: Seq[GroupAgg],
      unwind: Option[Unwind] = None,
      postQuery: BQuery = BQuery.True,
      computed: Seq[graft.query.ComputedCol] = Nil): Iterator[BDoc] = {
    tick("groupAggregate")
    // real-transport renderability mirror (r16) — see lookupJoin
    locally {
      val p = QueryDocs.plan(query); val post = QueryDocs.plan(postQuery)
      require(p.isExact && p.keyBounds.isEmpty,
        s"groupAggregate query not fully server-renderable: $query")
      require(post.isExact && post.keyBounds.isEmpty,
        s"groupAggregate post-unwind query not fully server-renderable: $postQuery")
      require(computed.isEmpty || unwind.isEmpty,
        "computed columns never combine with an unwind (capture rule)")
    }
    // projected decode: only the fields the pipeline touches — queries,
    // group keys, aggregate inputs, the unwind path, computed sources —
    // are materialized; everything else is byte-skipped
    val needed: Set[String] =
      BQuery.fieldPaths(query) ++ BQuery.fieldPaths(postQuery) ++
        groupKeys ++ aggs.collect {
          case GroupAgg.CountCol(c, _) => c
          case GroupAgg.MinOf(c, _) => c
          case GroupAgg.MaxOf(c, _) => c
          case GroupAgg.SumOf(c, _) => c
        } ++ unwind.map(_.path) ++ computed.map(_.field)
    // computed `$set` runs after the pre-$match (which never references
    // the derived fields), mirroring the wire stage order
    val matched = coll(ns).readAll(Some(needed)).filter(query.matches)
      .map(d => graft.query.ComputedCol.injectAll(computed, d))
    FakeServerClient.groupFold(Unwind.expandAll(unwind, postQuery, matched),
      groupKeys, aggs)
  }

  /** The unwound ROW pipeline, evaluated over the store with the same
    * `$unwind` shapes as [[groupAggregate]] and find()'s `$sort`
    * semantics (stored values, BSON cross-type order, compound keys
    * tie-breaking in their own directions). */
  override def unwoundRead(ns: String, query: BQuery, u: Unwind,
      postQuery: BQuery, sortSpec: Seq[(String, Boolean)],
      skip: Long, limit: Long,
      projection: Option[Seq[String]]): Iterator[BDoc] = {
    tick("unwoundRead")
    // real-transport renderability mirror (r16) — see lookupJoin
    locally {
      val p = QueryDocs.plan(query); val post = QueryDocs.plan(postQuery)
      require(p.isExact && p.keyBounds.isEmpty &&
        post.isExact && post.keyBounds.isEmpty,
        s"unwoundRead queries not fully server-renderable: $query / $postQuery")
    }
    // projected decode over the needed fields only (query/unwind/post/
    // sort/projection); a None projection needs the whole doc
    val needed: Option[Set[String]] = projection.map(p =>
      p.toSet ++ BQuery.fieldPaths(query) ++ BQuery.fieldPaths(postQuery) +
        u.path ++ sortSpec.map(_._1))
    val post = coll(ns).readAll(needed).filter(query.matches)
      .flatMap(u.expander(postQuery))
    val it = FakeServerClient.cursorTail(post, sortSpec, skip, limit)
    projection match {
      case Some(fields) => it.map(QueryDocs.projector(fields))
      case None => it
    }
  }

  /** The `$lookup` equi-join, evaluated as a hash join over the store
    * (what a real server computes from [[QueryDocs.lookupPipeline]]),
    * one [[stageJoin]] per stage over the previous stage's flat rows.
    * Key equality is `$expr` `$eq`'s VALUE equality across numeric
    * storages — int32/int64/integral-double of one value match — via a
    * canonical key form; the right side is indexed in memory (the fake
    * is a transport stand-in, not a storage engine — a real server
    * walks the right collection's index per driving doc).
    */
  override def lookupJoin(ns: String, j: LookupJoin): Iterator[BDoc] = {
    tick("lookupJoin")
    // the REAL transport's checks (r16): the fake evaluates BQuery nodes
    // directly, so without them a gate hole (an unrenderable conjunct
    // reaching a pipeline) would pass silently in-sandbox and crash only
    // on a live server
    QueryDocs.checkLookup(ns, j)
    // driving-side $unwind runs between the pre-match and the
    // projection/join — the same per-element expansion the wire
    // pipeline renders ($match → $unwind → $match(post) → $project →
    // $lookup), so element rows feed the join; computed columns
    // materialize after the pre-match, mirroring the $set position
    //
    // projected decode: only the query/projection/unwind/computed fields
    // materialize (output names landing in the trie are harmless — they
    // never match stored fields)
    val leftNeeded: Set[String] =
      BQuery.fieldPaths(j.leftQuery) ++ BQuery.fieldPaths(j.unwindPost) ++
        j.stages.head.leftProject.map(_._1) ++ j.unwind.map(_.path) ++
        j.leftComputed.map(_.field)
    val matched = coll(ns).readAll(Some(leftNeeded)).filter(j.leftQuery.matches)
      .map(d => graft.query.ComputedCol.injectAll(j.leftComputed, d))
    var rows: Iterator[BDoc] =
      j.stages.foldLeft(Unwind.expandAll(j.unwind, j.unwindPost, matched))(stageJoin)
    j.skip.foreach(n => rows = rows.drop(math.min(n, Int.MaxValue.toLong).toInt))
    (j.group, j.limit, j.topN) match {
      case (Some((keys, aggs)), _, _) =>
        FakeServerClient.groupFold(rows, keys, aggs)
      case (_, Some(n), _) =>
        rows.take(math.min(n, Int.MaxValue.toLong).toInt)
      case (_, _, Some((spec, n))) =>
        // $sort over the joined output names (missing right side of a
        // left-outer row sorts as null), then the partial $limit — kept
        // bounded: only n rows live in the heap, not the full join
        FakeServerClient.cursorTail(rows, spec, 0L, n)
      case _ => rows
    }
  }

  /** One lookup stage as a hash join: project the driving rows to their
    * output names, index the right side in memory (the fake is a
    * transport stand-in — a real server walks the right collection's
    * index per driving doc), match on `$expr`-`$eq` VALUE equality
    * across numeric storages via a canonical key form. Range conjuncts
    * are evaluated on the hash-equality hits with
    * [[LookupJoin.rangeMatches]], the same BSON-order comparison the
    * wire pipeline runs; null/missing operands never match, so a LEFT
    * OUTER row whose range operand is null null-extends exactly like
    * Spark. Lookup-side derived columns materialize first, before the
    * right query (which may carry the non-null prune on a computed key).
    */
  private def stageJoin(driving: Iterator[BDoc], st: LookupStage): Iterator[BDoc] = {
    import st.{doubleKeys, keys, leftOuter, ranges, rightComputed, rightProject, rightQuery}
    def exact(v: BsonValue): Any = v match {
      case BInt32(x) => x.toLong
      case BInt64(x) => x
      // integral doubles inside the exact-long window equal their ints
      case BDouble(x) if x == math.rint(x) && math.abs(x) <= 9.007199254740992E15 =>
        x.toLong
      case other => other
    }
    val canons: Array[BsonValue => Any] = keys.indices.map(i =>
      if (doubleKeys.contains(i)) LookupJoin.doubleKey _ else exact _).toArray
    // key outputs may be NESTED under a projected struct column; range
    // operands reference right DOC fields ($expr runs before the right
    // projection), like the key equalities
    val rightKeyFields = keys.map(k => st.rightField(k._2)).toArray
    val nKeys = rightKeyFields.length
    val rangeRightFields = ranges.map(r => st.rightField(r.rightOut)).toArray
    // projected decode of the lookup side: query/projection/key/range/
    // computed fields only
    val rightNeeded: Set[String] =
      BQuery.fieldPaths(rightQuery) ++ rightProject.map(_._1) ++
        rightKeyFields ++ rangeRightFields ++ rightComputed.map(_.field)
    val rangeOps = ranges.map(_.op).toArray
    val rangeLeftOuts = ranges.map(_.leftOut).toArray
    val keyLeftOuts = keys.map(_._1).toArray
    val nRanges = rangeOps.length
    val leftSpec = st.leftProject.toArray
    val rightSpec = rightProject.toArray
    // the (String, BsonValue) output fields of one side of one row,
    // filled once and copied straight into the joined doc — missing
    // source fields are dropped, exactly like the Option-flatMap spelling
    def projectArr(d: BDoc, spec: Array[(String, String)]): Array[(String, BsonValue)] = {
      val buf = new Array[(String, BsonValue)](spec.length)
      var n = 0
      var i = 0
      while (i < spec.length) {
        val s = spec(i)
        val ov = d.getPath(s._1)
        if (ov.isDefined) { buf(n) = (s._2, ov.get); n += 1 }
        i += 1
      }
      if (n == spec.length) buf else java.util.Arrays.copyOf(buf, n)
    }
    // insertion-ordered doc from pre-projected field arrays in ONE pass:
    // the updated-fold is element-for-element `ListMap(kvs: _*)`
    // (duplicate names keep first position / last value in both)
    def buildDoc(a: Array[(String, BsonValue)],
        b: Array[(String, BsonValue)]): BDoc = {
      var m: ListMap[String, BsonValue] = ListMap.empty
      var i = 0
      while (i < a.length) { val e = a(i); m = m.updated(e._1, e._2); i += 1 }
      if (b != null) {
        var j = 0
        while (j < b.length) { val e = b(j); m = m.updated(e._1, e._2); j += 1 }
      }
      BDoc(m)
    }
    // right side, indexed ONCE per stage: projected output fields and
    // range operand values are computed per right DOC here instead of
    // once per JOINED ROW in the probe loop (guide §1.2 per-task work —
    // a right doc matching many driving rows used to re-project per hit)
    final class REntry(val fields: Array[(String, BsonValue)],
        val rangeVals: Array[Option[BsonValue]])
    val index = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[REntry]]()
    locally {
      val rit = coll(st.rightNs).readAll(Some(rightNeeded))
      while (rit.hasNext) {
        val rd = graft.query.ComputedCol.injectAll(rightComputed, rit.next())
        if (rightQuery.matches(rd)) {
          val kv = new Array[Any](nKeys)
          var ok = true
          var i = 0
          while (ok && i < nKeys) {
            rd.getPath(rightKeyFields(i)) match {
              case Some(v) if v != BNull => kv(i) = canons(i)(v)
              case _ => ok = false
            }
            i += 1
          }
          if (ok) {
            val rv = new Array[Option[BsonValue]](nRanges)
            var j = 0
            while (j < nRanges) { rv(j) = rd.getPath(rangeRightFields(j)); j += 1 }
            val key: Any =
              if (nKeys == 1) kv(0)
              else scala.collection.immutable.ArraySeq.unsafeWrapArray(kv)
            var bucket = index.get(key)
            if (bucket == null) {
              bucket = new scala.collection.mutable.ArrayBuffer[REntry](4)
              index.put(key, bucket)
            }
            bucket += new REntry(projectArr(rd, rightSpec), rv)
          }
        }
      }
    }
    driving.flatMap { ld =>
      val lf = projectArr(ld, leftSpec)
      // an OUTPUT name on the projected doc, without building it: the
      // last occurrence wins (= ListMap(lFields: _*).getPath); null =
      // missing, BNull = present-null — both mean "no join" to keys and
      // ranges below, exactly like the Option spelling
      def lookupOut(out: String): BsonValue = {
        val dot = out.indexOf('.')
        val head = if (dot < 0) out else out.substring(0, dot)
        var v: BsonValue = null
        var j = lf.length - 1
        while (j >= 0 && (v eq null)) {
          val e = lf(j); if (e._1 == head) v = e._2; j -= 1
        }
        if (dot < 0 || (v eq null)) v
        else v match {
          case sub: BDoc => sub.getPath(out.substring(dot + 1)).orNull
          case _ => null
        }
      }
      var ok = true
      val kv = new Array[Any](nKeys)
      var i = 0
      while (ok && i < nKeys) {
        val v = lookupOut(keyLeftOuts(i))
        if ((v eq null) || v == BNull) ok = false else kv(i) = canons(i)(v)
        i += 1
      }
      val bucket =
        if (!ok) null
        else index.get(
          if (nKeys == 1) kv(0)
          else scala.collection.immutable.ArraySeq.unsafeWrapArray(kv))
      // left range operands once per DRIVING row (not once per hit)
      var lv: Array[Option[BsonValue]] = null
      if (bucket != null && nRanges > 0) {
        lv = new Array[Option[BsonValue]](nRanges)
        var r = 0
        while (r < nRanges) { lv(r) = Option(lookupOut(rangeLeftOuts(r))); r += 1 }
      }
      var hits: scala.collection.mutable.ArrayBuffer[REntry] = null
      if (bucket != null) {
        if (nRanges == 0) hits = bucket
        else {
          hits = new scala.collection.mutable.ArrayBuffer[REntry](bucket.length)
          var h = 0
          while (h < bucket.length) {
            val re = bucket(h)
            var pass = true
            var r = 0
            while (pass && r < nRanges) {
              pass = LookupJoin.rangeMatches(rangeOps(r), lv(r), re.rangeVals(r))
              r += 1
            }
            if (pass) hits += re
            h += 1
          }
        }
      }
      if (hits == null || hits.isEmpty) {
        if (leftOuter) Iterator.single(buildDoc(lf, null))
        else Iterator.empty
      } else hits.iterator.map(re => buildDoc(lf, re.fields))
    }
  }

  /** A real server serializes concurrent client bulkWrites server-side;
    * the file-backed double serializes in-JVM per namespace directory
    * (sound under local[k], where all "executors" share this JVM — the
    * double is a transport stand-in, not a storage engine).
    *
    * Pure-insert batches APPEND, like a server does — the store's staged
    * read-fold-rewrite apply is all-or-nothing per call, which is both
    * stronger than mongo bulk semantics (documents before an ordered
    * failure stay inserted there) and quadratic when a write job streams
    * hundreds of batches at one collection. Duplicate-key detection uses
    * a JVM-wide per-collection `_id` set — the unique-index stand-in —
    * seeded by one file read and invalidated whenever the staged path
    * (updates/upserts, which can mint ids) runs, or the data file is gone
    * or no longer the size the set was taken at.
    */
  override def bulkWrite(ns: String, models: Iterator[WriteModel], ordered: Boolean): BulkResult = {
    tick("bulkWrite")
    val c = coll(ns)
    val batch = models.toVector
    if (c.shardCount == 1 && batch.forall(_.isInstanceOf[InsertOne])) {
      // encode OUTSIDE the per-collection lock: concurrent writer tasks
      // otherwise serialize their whole CPU cost (Row→BSON bytes) through
      // one lock, leaving only one core busy during a parallel seed write.
      // The lock then covers only the id-uniqueness check and the append.
      val inserts = batch.asInstanceOf[Vector[InsertOne]]
      val encoded = inserts.map(m => (m.doc.get("_id"), BsonCodec.encode(m.doc)))
      FakeServerClient.lockFor(c.dir).synchronized {
        appendInserts(c, encoded, ordered)
      }
    } else FakeServerClient.lockFor(c.dir).synchronized {
      FakeServerClient.knownIds.remove(c.dir)
      c.bulkWrite(batch.iterator, ordered)
    }
  }

  private def appendInserts(c: BsonCollection,
      encoded: Vector[(Option[BsonValue], Array[Byte])],
      ordered: Boolean): BulkResult = {
    import java.nio.file.{Files => F}
    val dataPath = BsonCollection.shardPath(c.dir, 1, 0)
    def fileSize: Long = if (F.exists(dataPath)) F.size(dataPath) else -1L
    // the set is only good for the file it was read from: a collection
    // directory deleted and re-created in this JVM (or a file rewritten
    // behind the set) shows as a missing file or a different size
    val known = FakeServerClient.knownIds.get(c.dir) match {
      case k if k != null && k.fileBytes == fileSize => k
      case _ =>
        val k = new FakeServerClient.KnownIds(fileSize)
        if (k.fileBytes >= 0)
          graft.files.BsonFiles.readAll(dataPath.toString)
            .foreach(d => d.get("_id").foreach(k.ids += _))
        FakeServerClient.knownIds.put(c.dir, k)
        k
    }
    val ids = known.ids
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(dataPath.toString, true), 1 << 20)
    var inserted = 0L
    val errors = Seq.newBuilder[String]
    try {
      encoded.foreach { case (idOpt, bytes) =>
        idOpt match {
          case Some(id) if BsonCollection.idLookups(id).exists(ids.contains) =>
            if (ordered)
              throw new IllegalStateException(s"duplicate key _id=$id on insert")
            else errors += s"duplicate key _id=$id"
          case _ =>
            out.write(bytes)
            idOpt.foreach(ids += _)
            inserted += 1
        }
      }
    } finally {
      out.close()
      known.fileBytes = fileSize
      // the .splits side file (written by staged applies) no longer covers
      // the appended tail — drop it; readers fall back to header walks
      F.deleteIfExists(
        dataPath.resolveSibling("." + dataPath.getFileName + ".splits"))
    }
    BulkResult(inserted, 0, 0, 0, errors.result())
  }
}

object FakeServerClient {
  /** A cursor's tail: `$sort` by `spec` (none when empty), `$skip`, then
    * `$limit` (none when negative). The sort is compound over stored
    * values: later keys break earlier-key ties, each in its own ±1
    * direction (the server's sort-doc semantics); a missing field sorts
    * as null. A bounded sort (skip+limit) keeps only that many docs in a
    * heap ([[graft.source.TopN.stableTopK]]) instead of sorting the whole
    * input — the index-walk cost shape of a real server's sort-with-limit;
    * stability (input order on ties) matches the full stable sort exactly. */
  private[server] def cursorTail(docs: Iterator[BDoc], spec: Seq[(String, Boolean)],
      skip: Long, limit: Long): Iterator[BDoc] = {
    val sorted =
      if (spec.isEmpty) docs
      else {
        val cmp: Ordering[BDoc] = (a, b) => {
          var r = 0
          val it = spec.iterator
          while (r == 0 && it.hasNext) {
            val (k, desc) = it.next()
            val c = BsonOrdering.compare(
              a.getPath(k).getOrElse(BNull), b.getPath(k).getOrElse(BNull))
            r = if (desc) -c else c
          }
          r
        }
        val bound = if (limit >= 0) skip + limit else -1L
        if (bound >= 0 && bound < Int.MaxValue)
          graft.source.TopN.stableTopK(docs, cmp, bound.toInt)
        else docs.toVector.sorted(cmp).iterator
      }
    val kept = sorted.drop(math.min(skip, Int.MaxValue.toLong).toInt)
    if (limit >= 0) kept.take(math.min(limit, Int.MaxValue.toLong).toInt) else kept
  }

  /** What a real server computes from a `$group` stage over `docs` —
    * shared by [[FakeServerClient.groupAggregate]] and the grouped arm
    * of [[FakeServerClient.lookupJoin]]. Zero group keys = the
    * `_id: null` global pipeline: one group when anything matched, NO
    * output doc otherwise. Null/missing values are skipped by
    * min/max/sum (mongo semantics); an empty aggregate is BNull; sum
    * stays integral while every addend is integral ($sum promotion).
    */
  /** Streaming SUM state mirroring the Vector spelling exactly: the long
    * sum wraps like `Vector[Long].sum`; once any non-int value appears
    * the result is the DOUBLE left-fold over every value in encounter
    * order — so the double accumulator runs from the first value (its
    * additions are the identical IEEE sequence the materialized
    * `vs.map(toDouble).sum` performed). */
  private final class SumState {
    var any = false
    var allInt = true
    var lsum = 0L
    var dsum = 0.0
    def add(v: BsonValue): Unit = v match {
      case BInt32(x) => any = true; lsum += x.toLong; dsum += x.toDouble
      case BInt64(x) => any = true; lsum += x; dsum += x.toDouble
      case BDouble(x) => any = true; allInt = false; dsum += x
      case _ => any = true; allInt = false; dsum += 0.0
    }
    def result: BsonValue =
      if (!any) BNull else if (allInt) BInt64(lsum) else BDouble(dsum)
  }

  /** Mutable COUNT state — a plain long cell, so the per-row update never
    * boxes (the materialized spelling's `Vector.size` is a long too). */
  private final class CountState { var n = 0L }

  private[server] def groupFold(matched: IterableOnce[BDoc], groupKeys: Seq[String],
      aggs: Seq[GroupAgg]): Iterator[BDoc] = {
    // ONE streaming pass: per-group constant-size aggregate states instead
    // of materializing every row into per-group vectors and re-walking
    // them once per aggregate — the $group memory shape a real server has
    // (O(#groups), not O(#rows)). Per-row work is precompiled per agg
    // (one closure call instead of a per-row pattern match), and a
    // SINGLE-key group uses the key value itself as the map key (no
    // per-row Seq allocation) — r19, guide §1.2 per-task work.
    val aggsArr = aggs.toArray
    val nAggs = aggsArr.length
    val updaters = new Array[(Array[Any], BDoc) => Unit](nAggs)
    locally {
      var i = 0
      while (i < nAggs) {
        val slot = i
        updaters(i) = aggsArr(i) match {
          case GroupAgg.CountAll(_) => (st, _) =>
            st(slot).asInstanceOf[CountState].n += 1L
          case GroupAgg.CountCol(c, _) => (st, d) =>
            if (d.getPath(c).exists(_ != BNull))
              st(slot).asInstanceOf[CountState].n += 1L
          case GroupAgg.MinOf(c, _) => (st, d) =>
            d.getPath(c) match {
              case Some(v) if v != BNull =>
                val p = st(slot).asInstanceOf[BsonValue]
                if (p == null || BsonOrdering.compare(v, p) < 0) st(slot) = v
              case _ => ()
            }
          case GroupAgg.MaxOf(c, _) => (st, d) =>
            d.getPath(c) match {
              case Some(v) if v != BNull =>
                val p = st(slot).asInstanceOf[BsonValue]
                if (p == null || BsonOrdering.compare(v, p) > 0) st(slot) = v
              case _ => ()
            }
          case GroupAgg.SumOf(c, _) => (st, d) =>
            d.getPath(c) match {
              case Some(v) if v != BNull =>
                var s = st(slot).asInstanceOf[SumState]
                if (s == null) { s = new SumState; st(slot) = s }
                s.add(v)
              case _ => ()
            }
        }
        i += 1
      }
    }
    def newState(): Array[Any] = {
      val st = new Array[Any](nAggs)
      var i = 0
      while (i < nAggs) {
        aggsArr(i) match {
          case _: GroupAgg.CountAll | _: GroupAgg.CountCol =>
            st(i) = new CountState
          case _ => ()
        }
        i += 1
      }
      st
    }
    val singleKey = groupKeys.size == 1
    val key0 = if (singleKey) groupKeys.head else null
    // keyed by the BsonValue itself (single key) or the key-value Seq
    val groups = new java.util.LinkedHashMap[Any, Array[Any]]()
    val it = matched.iterator
    while (it.hasNext) {
      val d = it.next()
      val key: Any =
        if (singleKey) d.getPath(key0).getOrElse(BNull)
        else groupKeys.map(k => d.getPath(k).getOrElse(BNull))
      var st = groups.get(key)
      if (st == null) { st = newState(); groups.put(key, st) }
      var i = 0
      while (i < nAggs) { updaters(i)(st, d); i += 1 }
    }
    import scala.jdk.CollectionConverters._
    groups.entrySet().iterator().asScala.map { e =>
      val st = e.getValue
      val gvs: Seq[BsonValue] =
        if (singleKey) e.getKey.asInstanceOf[BsonValue] :: Nil
        else e.getKey.asInstanceOf[Seq[BsonValue]]
      val fields = aggsArr.toSeq.zipWithIndex.map {
        case (GroupAgg.CountAll(a), i) =>
          a -> BInt64(st(i).asInstanceOf[CountState].n)
        case (GroupAgg.CountCol(_, a), i) =>
          a -> BInt64(st(i).asInstanceOf[CountState].n)
        case (GroupAgg.MinOf(_, a), i) =>
          a -> (if (st(i) == null) BNull else st(i).asInstanceOf[BsonValue])
        case (GroupAgg.MaxOf(_, a), i) =>
          a -> (if (st(i) == null) BNull else st(i).asInstanceOf[BsonValue])
        case (GroupAgg.SumOf(_, a), i) =>
          a -> (if (st(i) == null) BNull else st(i).asInstanceOf[SumState].result)
      }
      BDoc(ListMap(groupKeys.zip(gvs) ++ fields: _*))
    }
  }

  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[server] def lockFor(dir: String): Object =
    writeLocks.computeIfAbsent(dir, _ => new Object)

  /** The `_id`s in a collection's data file, and that file's size when
    * they were last in step with it (-1: no file). */
  private[server] final class KnownIds(var fileBytes: Long) {
    val ids: scala.collection.mutable.HashSet[BsonValue] =
      scala.collection.mutable.HashSet.empty[BsonValue]
  }

  /** Unique-index stand-in: `_id`s present per collection dir, shared
    * JVM-wide so every client instance (one per task) sees one index —
    * valid under local[k] exactly like the write lock above. Read and
    * replaced only under that lock; reseeded from the file whenever its
    * recorded size no longer matches.
    */
  private[server] val knownIds =
    new java.util.concurrent.ConcurrentHashMap[String, KnownIds]()
}
