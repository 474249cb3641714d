package graft.source

import graft.bson._
import graft.files.BsonFiles
import graft.query.{BQuery, BQueryJson, NumericNullEdge, RegexDialect, Unwind}
import graft.store.BsonCollection

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 connector for BSON dump collections: schema inference by
  * sampling (dynamic mode), filter + projection pushdown with residual
  * split, pluggable partition planning, and a batched keyed write path
  * with insert / replace / update / upsert (+multi) modes.
  *
  * Structure mirrors the reference's connector responsibilities
  * (MongoInputFormat / splitters / MongoOutputCommitter) re-expressed on
  * the DSv2 interfaces; storage is the file-backed [[BsonCollection]].
  *
  * Read options: `path` (file, directory tree, or glob), `query`
  * (option-level JSON, AND-composed with pushed filters like
  * mongo.input.query), `splitter` (bytes|single|size|sample|paginating),
  * `split_size`, `key`, `min_docs`, `filter_empty`, `collections`
  * (per-entry overrides of all of the above). Write options: `mode`
  * (insert|replace|update|upsert), `update_op` (set|inc|push|pushAll),
  * `keys`, `multi`, `id_column`, `ensure_index`, `shards` (sharded store
  * layout; see [[graft.store.BsonCollection]]), `bulk_ordered`.
  */
class GraftBsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftbson"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = Option(options.get("collections")) match {
      case Some(json) => MultiCollections.parse(json).flatMap(c => GraftBsonSource.dataFiles(c.path))
      case None => GraftBsonSource.dataFiles(options.get("path"))
    }
    // UNIFORM sampling across the whole corpus, not the first 1000 docs of
    // the first file: the reference samples server-side with $sample
    // (core/.../splitter/SampleSplitter.java:72-77), uniform over the
    // collection. Head-biased sampling mis-infers any field that only
    // appears later (schema drift). Budget is spread over files by size;
    // within a file, docs are decoded at evenly spaced offsets snapped to
    // doc boundaries by the side-file/resync machinery. Compressed files
    // (unseekable) fall back to head sampling of their share.
    val budget = 1000
    val sizes = files.map(f => f -> Files.size(Paths.get(f)))
    val totalBytes = math.max(1L, sizes.map(_._2).sum)
    val sample = Vector.newBuilder[graft.bson.BDoc]
    sizes.foreach { case (f, sz) =>
      val want = math.max(1L, budget.toLong * sz / totalBytes).toInt
      if (BsonFiles.isCompressed(f)) {
        val it = BsonFiles.readAll(f)
        try {
          var k = 0
          while (it.hasNext && k < want) { sample += it.next(); k += 1 }
        } finally it.close()
      } else {
        // ONE boundary pass (side file or sequential header skim), then
        // decodes at evenly spaced known offsets — never a random resync
        // walk per sample (O(samples x docs) on files without a side file)
        val offs = BsonFiles.layout(f).offsets
        if (offs.size >= want) {
          (0 until want)
            .map(k => offs((k.toLong * offs.size / want).toInt.min(offs.size - 1)))
            .distinct
            .foreach(pos => sample += BsonFiles.readDocAt(f, pos))
        } else if (offs.nonEmpty) {
          // side-file boundaries are stride-sampled (not every doc): read a
          // run of consecutive docs from each boundary to fill the budget —
          // still uniform, still sequential
          val per = math.max(1L, want.toLong / offs.size).toInt
          offs.foreach { off =>
            val it = BsonFiles.readRange(f, off, Long.MaxValue)
            try {
              var k = 0
              while (it.hasNext && k < per) { sample += it.next(); k += 1 }
            } finally it.close()
          }
        }
      }
    }
    val inferred = RowCodec.inferSchema(sample.result().iterator,
      mapThreshold = Option(options.get("infer_map_threshold"))
        .map(_.toInt).getOrElse(128))
    if (inferred.isEmpty)
      throw new IllegalArgumentException(
        s"cannot infer schema: no documents under ${options.get("path")}")
    // option-level projection (mongo.input.fields analog,
    // MongoConfigUtil.getFields): restricts the table schema itself, on
    // top of whatever per-query pruning Spark later pushes
    Option(options.get("fields")) match {
      case Some(fields) =>
        val keep = fields.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val pruned = StructType(inferred.filter(f => keep.contains(f.name)))
        if (pruned.isEmpty)
          throw new IllegalArgumentException(
            s"fields option [$fields] matches no inferred column of ${inferred.fieldNames.mkString(",")}")
        pruned
      case None => inferred
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTable(schema, properties.asScala.toMap, FileTransport)
}

object GraftBsonSource {
  /** Name of the `_file` provenance metadata column. */
  val FileMetaCol = "_file"

  private val GlobChars = Set('*', '?', '[', '{')

  private def isDataFile(n: String): Boolean =
    n.endsWith(".bson") ||
      BsonFiles.codecExtensions.exists(e => n.endsWith(".bson" + e))

  /** Hidden-path rule: dot- and underscore-prefixed names are skipped at
    * every tree level (the BSONPathFilter rule, core/.../BSONPathFilter
    * .java:38, atop FileInputFormat's hidden-file convention) — this is
    * also what keeps `.graft-pending` job dirs and `_collmeta.json`
    * invisible to scans.
    */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  private def walkTree(dir: java.nio.file.Path, keep: String => Boolean): Seq[String] = {
    val out = Seq.newBuilder[String]
    def rec(d: java.nio.file.Path): Unit = {
      val stream = Files.list(d)
      try stream.iterator().asScala.toVector.foreach { f =>
        val n = f.getFileName.toString
        if (!hidden(n)) {
          if (Files.isDirectory(f)) rec(f)
          else if (Files.isRegularFile(f) && keep(n)) out += f.toString
        }
      } finally stream.close()
    }
    rec(dir)
    out.result().sorted
  }

  /** BSON data files for a path spec, FileInputFormat-style: a file is
    * itself; a directory is walked RECURSIVELY (real dump layouts nest,
    * `dump/<db>/<collection>.bson`); a spec containing glob characters
    * (star, `?`, `[`, `{` — e.g. a star.bson pattern under `dump/db`)
    * matches against the tree under its deepest fixed prefix. Hidden
    * (dot/underscore) files and directories are skipped in every mode.
    */
  /** Catalog-qualified paths arrive as `file:` URIs (the session catalog
    * qualifies the `path` option on `CREATE TABLE ... USING graftbson`);
    * the store is local/shared-filesystem-backed, so strip the scheme.
    */
  def normalizePath(p: String): String = p.replaceFirst("^file:(//)?", "")

  def dataFiles(rawPath: String): Seq[String] = {
    val path = normalizePath(rawPath)
    if (path.exists(GlobChars.contains)) {
      val idx = path.indexWhere(GlobChars.contains)
      val slash = path.lastIndexOf('/', idx)
      // base = deepest fixed prefix; the PATTERN is the remainder, matched
      // against paths RELATIVIZED to the base — matching the full string
      // would silently miss whenever base is "." (walked paths carry the
      // "./" prefix) or the pattern is relative while the walk is not
      val (base, pattern) =
        if (slash < 0) (".", path)
        else if (slash == 0) ("/", path.substring(1))
        else (path.substring(0, slash), path.substring(slash + 1))
      val basePath = Paths.get(base)
      if (!Files.isDirectory(basePath)) Seq.empty
      else {
        val matcher = java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + pattern)
        // the glob itself decides the extension — no .bson filter on top
        val matched = walkTree(basePath, _ => true)
          .filter(f => matcher.matches(basePath.relativize(Paths.get(f))))
        // a glob can land inside a collection dir mid-torn-promote just
        // like the directory branch — roll forward EVERY (non-hidden)
        // directory under the base, then re-walk so the promoted names
        // are what the scan reads. Recovering only the parents of
        // already-matched files would miss a collection whose crash
        // predates its first visible data file (first-ever commit died
        // before any shard rename): it has a manifest but zero matches
        val recovered = {
          def hiddenUnder(p: java.nio.file.Path): Boolean = {
            val rel = basePath.relativize(p)
            (0 until rel.getNameCount).exists { i =>
              val n = rel.getName(i).toString
              n.startsWith(".") || n.startsWith("_")
            }
          }
          val s = Files.walk(basePath)
          try {
            val it = s.iterator()
            var any = false
            while (it.hasNext) {
              val p = it.next()
              if (Files.isDirectory(p) && !hiddenUnder(p))
                any = graft.store.ShardApply.recoverPromote(p.toString) || any
            }
            any
          } finally s.close()
        }
        if (recovered)
          walkTree(basePath, _ => true)
            .filter(f => matcher.matches(basePath.relativize(Paths.get(f))))
        else matched
      }
    } else {
      val p = Paths.get(path)
      if (Files.isDirectory(p)) {
        // a scan over a collection dir must not read a torn promote a
        // crashed writer left behind — roll it forward first
        graft.store.ShardApply.recoverPromote(path)
        walkTree(p, isDataFile)
      } else if (Files.exists(p)) Seq(path)
      else Seq.empty
    }
  }
}

/** The BSON dump-file transport of the shared scan skeleton
  * ([[GraftScanBuilder]], [[GraftScan]]): the pushed and option-level
  * queries evaluate in the reader with the engine's exact
  * [[BQuery.matches]], so every query renders fully at the source;
  * partitions are byte splits, key ranges (the pure planners over
  * [[FileStats]]) or, for a bare COUNT(*), stored doc counts.
  */
object FileTransport extends Transport {
  override val name = "graftbson"
  override val targetOption = "path"
  override val metaCol: String = GraftBsonSource.FileMetaCol
  override val metaComment = "source dump file of this row"
  override val truncates = true

  override def newScanBuilder(schema: StructType, options: Map[String, String]): ScanBuilder =
    new GraftScanBuilder(schema, options, this)
  override def newWriteBuilder(info: LogicalWriteInfo, options: Map[String, String]): WriteBuilder =
    new GraftWriteBuilder(info.schema(), info.queryId(), options)

  /** The option-level query (mongo.input.query analog; $and composition
    * semantics of HiveMongoInputFormat.java:104-123). Dialect gates
    * (r16): this transport evaluates it — and each `collections` entry's
    * query — CLIENT-side, so a $regex outside the PCRE∩Java common subset
    * and the numeric-segment null edge refuse loudly unless their options
    * opt into the engine dialect (graft.query.Dialect); a live-server
    * scan instead ships them verbatim, server-authoritative. */
  override def optionQuery(options: Map[String, String]): BQuery = {
    val regexMode = options.getOrElse(RegexDialect.OptionKey, "portable")
    def gated(q: BQuery): BQuery = {
      NumericNullEdge.check(q, options.get(NumericNullEdge.OptionKey))
      RegexDialect.forTransport(q, regexMode, serverTransport = false)
    }
    options.get("collections").foreach(json =>
      MultiCollections.parse(json).foreach(c => gated(c.query)))
    options.get("query").map(j => gated(BQueryJson.parse(j))).getOrElse(BQuery.True)
  }

  /** `splitter=single` over exactly one data file (the same single-split
    * caveat the reference's skip has). */
  override def singleCursor(options: Map[String, String]): Boolean =
    !options.contains("collections") &&
      options.get("splitter").contains("single") &&
      options.get("path").exists(p => GraftBsonSource.dataFiles(p).size == 1)

  /** The option-level `sort` is a per-partition PARENT order; a TopN
    * would re-sort under it — refuse rather than reorder the option. */
  override val topNOverridesSort = false
  /** No `$group` to push to: Spark's partial and final aggregates fold
    * over the pruned, filtered scan, faster than a reader-side copy of
    * them; only a bare COUNT(*) reads the stored doc counts. */
  override val foldsAggregates = false

  /** TopN keys compare the values AS SPARK READS them, under Spark's
    * interpreted ordering: the reader's bounded heap
    * ([[GraftPartitionReader.topNSelect]]). */
  override val evaluator: ReadModel.Evaluator = ReadModel.Read

  /** The data files' sizes; no row count without a walk. */
  override def stats(spec: ScanSpec, options: Map[String, String]): (Long, Option[Long]) =
    (allFiles(options).map(f => Files.size(Paths.get(f))).sum, None)

  private def allFiles(options: Map[String, String]): Seq[String] =
    options.get("collections") match {
      case Some(json) => MultiCollections.parse(json).flatMap(c => GraftBsonSource.dataFiles(c.path))
      case None => options.get("path").map(GraftBsonSource.dataFiles).getOrElse(Seq.empty)
    }

  /** The reader sorts a partition's PARENTS ascending in BSON order
    * (null first), before it unwinds them. */
  override val sortSurvivesUnwind = true
  override val runtimeFiltersUnderUnwind = true

  private def pathOf(options: Map[String, String]): String =
    options.getOrElse("path", throw new IllegalArgumentException("path option required"))
  private def splitSizeOf(options: Map[String, String]): Long =
    options.get("split_size").map(_.toLong).getOrElse(8L * 1024 * 1024)

  override def planPartitions(spec: ScanSpec, options: Map[String, String],
      runtimeIn: Map[String, Seq[BsonValue]]): Array[InputPartition] =
    if (spec.grouped.isDefined) {
      // the one pushed aggregate, a bare COUNT(*): each file's stored doc
      // count; an empty collection gets one sentinel partition so the
      // final fold sees a count-0 partial, not zero rows (the q58
      // zero-partition COUNT lesson)
      val files = GraftBsonSource.dataFiles(pathOf(options))
      (if (files.isEmpty) Seq("") else files).map(CountPartition(_)).toArray
    } else planRows(spec, options, runtimeIn)

  /** Row partitions. The per-partition cursor limit is the least of
    * Spark's pushed limit, a TopN's n and the option-level `limit`
    * (mongo.input.limit analog — a cursor limit per split, explicitly
    * not a global row bound); the per-partition cursor `sort` is the
    * `sort` option (cursor.sort parity, MongoInputSplit.java:281 — NOT a
    * global order). Multi-collection mode plans each entry with its own
    * splitter and options, falling back to the scan-level ones
    * (MultiMongoCollectionSplitter.calculateSplits:47-141 /
    * MultiCollectionSplitBuilder semantics), then unions them. */
  private def planRows(spec: ScanSpec, options: Map[String, String],
      runtimeIn: Map[String, Seq[BsonValue]]): Array[InputPartition] = {
    val limit = (spec.rowCap ++ options.get("limit").map(_.toInt)).reduceOption(math.min)
    val sortKey = options.get("sort")
    val defStrategy = options.getOrElse("splitter", "bytes")
    val defSplitSize = splitSizeOf(options)
    val defKey = options.getOrElse("key", "_id")
    val defMinDocs = options.get("min_docs").map(_.toLong).getOrElse(1000L)
    val defFilterEmpty = options.get("filter_empty").exists(_.toBoolean)
    options.get("collections") match {
      case Some(json) =>
        MultiCollections.parse(json).flatMap { c =>
          planCollection(options, GraftBsonSource.dataFiles(c.path),
            c.splitter.getOrElse(defStrategy),
            c.splitSize.getOrElse(defSplitSize),
            c.key.getOrElse(defKey),
            c.minDocs.getOrElse(defMinDocs),
            c.filterEmpty.getOrElse(defFilterEmpty),
            BQuery.and(spec.query, c.query),
            c.limit.orElse(limit),
            c.sort.orElse(sortKey))
        }.toArray
      case None =>
        val rawPath = pathOf(options)
        val files = GraftBsonSource.dataFiles(rawPath)
        // never let a runtime filter narrow a scan that carries a pushed
        // limit/offset (filterAttributes already advertises none)
        val rt = if (limit.isDefined || spec.offset.isDefined) Map.empty[String, Seq[BsonValue]]
          else runtimeIn
        // row-level runtime narrowing: the IN-sets AND-compose into the
        // per-partition query; the split-key values additionally prune
        // whole key-range partitions inside Planners.plan
        planCollection(options, routeToShards(rawPath, files, spec.query, rt),
          defStrategy, defSplitSize, defKey, defMinDocs,
          defFilterEmpty, Pushdown.withRuntimeIn(spec.query, rt), limit, sortKey,
          runtimeKeyValues = rt.get(defKey)).toArray
    }
  }

  /** mongos-parity query routing: a pushed `_id` equality — or a runtime
    * `_id` IN-set from dynamic filtering — can only match inside the
    * owning shards (ShardRouting co-locates every cross-width equal
    * value; a hex string also probes its ObjectId representation, which
    * reads as the same Spark string), so the scan plans exactly those
    * shard files instead of all of them — the read-side mirror of the
    * write path's model routing. */
  private def routeToShards(rawPath: String, files: Seq[String], query: BQuery,
      rt: Map[String, Seq[BsonValue]]): Seq[String] = {
    val dir = GraftBsonSource.normalizePath(rawPath)
    val nShards =
      if (Files.isDirectory(Paths.get(dir))) new graft.store.BsonCollection(dir).shardCount
      else 1
    if (nShards <= 1) files
    else {
      // every stored _id a point value could equal: a read-semantics
      // string probes all string-reading storages (BSON forbids a regex
      // _id, so the probe set is complete); a typed Mongo string also
      // matches symbol storage (same bracket)
      def probesOf(v: BsonValue): Seq[BsonValue] = v match {
        case BString(s) => BQuery.readEqProbes(s)
        case other => Seq(other)
      }
      def owners(probes: Seq[BsonValue]): Set[String] =
        probes.map(p => graft.store.BsonCollection.shardPath(dir, nShards,
          graft.store.ShardRouting.idShard(p, nShards)).toString).toSet
      val eqOwned = graft.store.BsonCollection.idEquality(query)
        .map(v => owners(probesOf(v)))
        .orElse(graft.store.BsonCollection.idReadEquality(query)
          .map(v => owners(probesOf(v))))
      val rtOwned = rt.get("_id").map(vs => vs.flatMap(probesOf)).map(owners)
      Seq(eqOwned, rtOwned).flatten.foldLeft(files)((fs, owned) => fs.filter(owned))
    }
  }

  /** Plan one collection's partitions under a given strategy — shared by
    * the single-collection path and each entry of multi-collection mode
    * (which may override the strategy per collection, matching
    * MultiCollectionSplitBuilder's per-entry splitter/options,
    * core/.../splitter/MultiCollectionSplitBuilder.java:1-148).
    */
  private def planCollection(options: Map[String, String], files: Seq[String],
      strategy: String, splitSize: Long, key: String, minDocs: Long,
      filterEmpty: Boolean, q: BQuery, lim: Option[Int], sort: Option[String],
      runtimeKeyValues: Option[Seq[BsonValue]] = None): Seq[InputPartition] =
    strategy match {
      case "bytes" =>
        files.flatMap { f =>
          BsonFiles.planByteSplits(f, splitSize).map { case (s, e) =>
            GraftInputPartition(f, s, e, q, lim, sort): InputPartition
          }
        }
      case "single" =>
        files.map(f => GraftInputPartition(f, 0L, Long.MaxValue, q, lim, sort): InputPartition)
      case other =>
        // key-range strategies via the pure planners + file-backed stats;
        // chunk/shard maps arrive as option-level JSON (the config.chunks /
        // shard-host metadata a live deployment would read from the
        // server, MongoSplitterFactory.java:54-129)
        val chunks = options.get("chunks").map(ShardMaps.parseChunks).getOrElse(Seq.empty)
        val shardHosts = options.get("shard_hosts").map(ShardMaps.parseHosts).getOrElse(Map.empty)
        files.flatMap { f =>
          Planners.plan(new FileStats(f, key), key, other, q,
            chunks = chunks, shardHosts = shardHosts,
            targetSplitBytes = splitSize, minDocs = minDocs,
            filterEmpty = filterEmpty, runtimeKeyValues = runtimeKeyValues)
            .map { case (pq, locs) =>
              GraftInputPartition(f, 0L, Long.MaxValue, pq, lim, sort, locs): InputPartition
            }
        }
    }

  override def createReader(p: InputPartition, spec: ScanSpec,
      options: Map[String, String]): PartitionReader[InternalRow] = p match {
    case c: CountPartition => new CountPartitionReader(c, spec)
    case r: GraftInputPartition => new GraftPartitionReader(r, spec)
  }

  override def microBatchStream(spec: ScanSpec, options: Map[String, String]): MicroBatchStream =
    new GraftBsonMicroBatchStream(spec, options)
}

object MultiCollections {
  /** One collection of a multi-collection scan, with optional per-entry
    * overrides of the scan-level planning options — the
    * MultiCollectionSplitBuilder surface (per-entry splitter class,
    * query, fields, limit, notimeout;
    * core/.../splitter/MultiCollectionSplitBuilder.java:1-148).
    */
  final case class CollectionConf(path: String, query: BQuery,
      splitter: Option[String] = None, splitSize: Option[Long] = None,
      key: Option[String] = None, minDocs: Option[Long] = None,
      filterEmpty: Option[Boolean] = None, limit: Option[Int] = None,
      sort: Option[String] = None)

  /** Parse [{"path": "...", "query": {...}?, "splitter": "..."?,
    * "split_size": n?, "key": "..."?, "min_docs": n?, "filter_empty": b?,
    * "limit": n?, "sort": "..."?}, ...].
    */
  def parse(json: String): Seq[CollectionConf] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json).asInstanceOf[JArray].arr.map { item =>
      val o = item.asInstanceOf[JObject]
      def str(k: String): Option[String] =
        o.obj.collectFirst { case (`k`, JString(v)) => v }
      def num(k: String): Option[Long] =
        o.obj.collectFirst { case (`k`, JInt(v)) => v.toLong
                             case (`k`, JLong(v)) => v }
      def bool(k: String): Option[Boolean] =
        o.obj.collectFirst { case (`k`, JBool(v)) => v }
      val path = str("path")
        .getOrElse(throw new IllegalArgumentException("collection entry needs a path"))
      val q = o.obj.collectFirst { case ("query", qo: JObject) =>
        BQueryJson.parse(JsonMethods.compact(JsonMethods.render(qo)))
      }.getOrElse(BQuery.True)
      CollectionConf(path, q,
        splitter = str("splitter"), splitSize = num("split_size"),
        key = str("key"), minDocs = num("min_docs"),
        filterEmpty = bool("filter_empty"),
        limit = num("limit").map(_.toInt), sort = str("sort"))
    }
  }
}

/** Option-level shard metadata: `chunks` = [{"min": v?, "max": v?,
  * "shard": "s"}] (missing bound = unbounded), `shard_hosts` =
  * {"shard": ["host", ...]}.
  */
object ShardMaps {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def bound(v: JValue): Option[graft.bson.BsonValue] = v match {
    case JNothing | JNull => None
    case JInt(x) if x.isValidInt => Some(graft.bson.BInt32(x.toInt))
    case JInt(x) => Some(graft.bson.BInt64(x.toLong))
    case JLong(x) => Some(graft.bson.BInt64(x))
    case JDouble(x) => Some(graft.bson.BDouble(x))
    case JString(x) => Some(graft.bson.BString(x))
    case other => throw new IllegalArgumentException(s"unsupported chunk bound $other")
  }

  def parseChunks(json: String): Seq[Planners.Chunk] =
    JsonMethods.parse(json).asInstanceOf[JArray].arr.map { item =>
      val o = item.asInstanceOf[JObject]
      Planners.Chunk(
        bound(o \ "min"), bound(o \ "max"),
        (o \ "shard") match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException("chunk entry needs a shard")
        })
    }

  def parseHosts(json: String): Map[String, Seq[String]] =
    JsonMethods.parse(json).asInstanceOf[JObject].obj.map {
      case (shard, JArray(hosts)) =>
        shard -> hosts.map { case JString(h) => h; case other =>
          throw new IllegalArgumentException(s"bad host $other") }
      case (shard, other) =>
        throw new IllegalArgumentException(s"shard $shard hosts must be an array, got $other")
    }.toMap
}

/** V2 `Predicate` -> (column, IN values) for runtime (dynamic)
  * filtering. Only `IN` / `=` over one column with literal values are
  * used; anything else is ignored — pruning is an optimization, an
  * unparsed predicate just scans more. Literal conversion mirrors
  * [[graft.query.FilterTranslator.toBson]] over Catalyst INTERNAL values
  * (strings arrive as UTF8String, timestamps as microseconds).
  */
object RuntimeFilters {
  import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  def parse(p: Predicate): Option[(String, Seq[BsonValue])] = {
    if (p.name() != "IN" && p.name() != "=") return None
    val kids = p.children()
    if (kids.length < 2) return None
    val col = kids.head match {
      case r: NamedReference => r.fieldNames().mkString(".")
      case _ => return None
    }
    val vs = kids.tail.toSeq.map {
      case l: V2Literal[_] => toBson(l)
      case _ => None
    }
    // one unconvertible value poisons the whole set: a partial IN-list
    // would prune partitions holding the missing value's rows
    if (vs.exists(_.isEmpty)) None else Some(col -> vs.flatten)
  }

  private def toBson(l: V2Literal[_]): Option[BsonValue] = {
    import org.apache.spark.sql.types._
    (l.dataType, l.value.asInstanceOf[Any]) match {
      case (_, null) => None
      case (StringType, v) => Some(BString(v.toString))
      case (IntegerType, v: java.lang.Integer) => Some(BInt32(v))
      case (LongType, v: java.lang.Long) => Some(BInt64(v))
      case (ShortType, v: java.lang.Short) => Some(BInt32(v.toInt))
      case (ByteType, v: java.lang.Byte) => Some(BInt32(v.toInt))
      case (DoubleType, v: java.lang.Double) => Some(BDouble(v))
      case (FloatType, v: java.lang.Float) => Some(BDouble(v.toDouble))
      case (BooleanType, v: java.lang.Boolean) => Some(BBool(v))
      // BDate stores whole milliseconds (translator parity: sub-ms
      // values are never pushed, so they never prune)
      case (TimestampType, v: java.lang.Long) =>
        if (v % 1000L == 0) Some(BDate(v / 1000L)) else None
      case _ => None
    }
  }
}

/** File-backed [[Planners.CollectionStats]] with BOUNDED planning IO — the
  * driver must never materialize the collection to plan it (the reference's
  * planners issue O(#splits) server commands: splitVector / $sample /
  * collstats, not a full scan). Sources of cheap truth, in order:
  *
  *  - the side file (doc-boundary offsets every 64 docs) gives
  *    count and sample positions at zero data IO;
  *  - without it, one header-only walk reads 4 bytes per doc (seeking over
  *    bodies), still a tiny fraction of the file;
  *  - `sampleKeys` decodes exactly n docs at evenly spaced boundaries
  *    (projected to the key field) — the $sample stand-in.
  *
  * Only the paginating strategy's `keyAtSkip`/`hasAny` probes stream the
  * file (projected decode, no materialization) — the same cost class as the
  * reference's skip-probe queries, which also walk matching docs server-side.
  * `bytesTouched` accounts all planning IO so tests can bound it.
  */
object FileStats {
  /** Planner-memory bound for the paginating splitter's sorted key set
    * (~10M keys x ~16 B = a few hundred MB worst case). Beyond it the
    * probe fails loudly with a pointer at the O(1)-memory splitters.
    */
  val MaxPlannerKeys: Int = 10 * 1000 * 1000
}

final class FileStats(path: String, key: String) extends Planners.CollectionStats {
  private val fileLen = Files.size(Paths.get(path))
  private val compressed = BsonFiles.isCompressed(path)

  private var _bytesTouched = 0L
  /** Total bytes of the data file this provider actually read. */
  def bytesTouched: Long = _bytesTouched

  /** The boundary index and doc count ([[BsonFiles.layout]]): the side
    * file plus two bounded header walks (4 bytes per header), or one
    * header walk; a compressed dump is streamed once. */
  private lazy val layout: BsonFiles.Layout = {
    val l = BsonFiles.layout(path)
    _bytesTouched += (if (compressed) fileLen else 4 * l.headersRead)
    l
  }

  override lazy val count: Long = layout.count

  override def avgObjSizeBytes: Long =
    if (count == 0) 0L else math.max(1L, fileLen / count)

  override def sampleKeys(n: Int): Seq[BsonValue] =
    if (n <= 0 || count == 0) Seq.empty
    else if (compressed) {
      val all = streamKeys(BQuery.True).sorted(BsonOrdering)
      val step = math.max(1, all.size / n)
      all.grouped(step).map(_.head).take(n).toSeq
    } else {
      val offs = layout.offsets
      val step = math.max(1, offs.size / n)
      val proj = BsonCodec.Proj.fromPaths(Seq(key))
      offs.grouped(step).map(_.head).take(n).flatMap { pos =>
        val frame = BsonFiles.frameAt(path, pos)
        _bytesTouched += frame.length + 4
        BsonFiles.decode(frame, proj).getPath(key)
      }.toVector.sorted(BsonOrdering)
    }

  /** Streaming projected key scan (paginating/pruning probes only). */
  private def streamKeys(query: BQuery): Vector[BsonValue] = {
    _bytesTouched += fileLen
    val fields = Some(Set(key.split('.').head) ++ BQuery.fieldHeads(query))
    val it = BsonFiles.readRange(path, 0L, Long.MaxValue, fields)
    try it.filter(query.matches).flatMap(_.getPath(key)).toVector
    finally it.close()
  }

  // the paginating splitter probes keyAtSkip O(#splits) times with the
  // SAME query — one scan+sort serves every probe
  private var sortedKeysCache: Option[(BQuery, Vector[BsonValue])] = None

  override def keyAtSkip(query: BQuery, skip: Long): Option[BsonValue] = {
    val matching = sortedKeysCache match {
      case Some((q, ks)) if q == query => ks
      case _ =>
        val ks = streamKeys(query).sorted(BsonOrdering)
        // the reference's paginating probes run server-side on an index;
        // here the sorted key set sits in planner memory. Fail LOUDLY at
        // the documented bound instead of creeping toward a planner OOM —
        // above it, size/sample splitters plan the same file in O(1).
        if (ks.size > FileStats.MaxPlannerKeys)
          throw new IllegalStateException(
            s"paginating splitter needs ${ks.size} in-memory keys for $path " +
              s"(bound ${FileStats.MaxPlannerKeys}); use splitter=size or " +
              "splitter=sample for collections this large")
        sortedKeysCache = Some((query, ks))
        ks
    }
    if (skip < matching.size) Some(matching(skip.toInt)) else None
  }

  override def hasAny(query: BQuery): Boolean = {
    val fields = Some(Set(key.split('.').head) ++ BQuery.fieldHeads(query))
    val it = BsonFiles.readRange(path, 0L, Long.MaxValue, fields)
    try it.exists(query.matches) finally it.close()
  }
}

/** One partition of a plain file scan: the file and its byte range, the
  * per-partition query (a planned key range, runtime IN-sets, a
  * `collections` entry's query), the cursor limit and sort (a
  * `collections` entry may override both), and the locations. */
final case class GraftInputPartition(path: String, start: Long, end: Long,
    query: BQuery, limit: Option[Int] = None,
    sortKey: Option[String] = None,
    locations: Seq[String] = Seq.empty)
    extends InputPartition {
  /** Chunk/shard locality surfaced to Spark's scheduler (the reference's
    * MongoInputSplit.getLocations:125-131 / ShardChunkMongoSplitter:98-119).
    */
  override def preferredLocations(): Array[String] = locations.toArray
}

/** One data file of a bare COUNT(*) ([[ScanSpec.bareCount]]); path ""
  * is the empty-collection sentinel, which counts 0. */
final case class CountPartition(path: String) extends InputPartition

/** A bare COUNT(*) over one file: its stored doc count
  * ([[BsonFiles.countDocs]]: the side file or a header walk) in every
  * COUNT(*) slot of one partial row, with no document body read. */
final class CountPartitionReader(p: CountPartition, spec: ScanSpec)
    extends RowIteratorReader {
  override protected val rows: Iterator[InternalRow] = Iterator.single {
    val n = if (p.path.isEmpty) 0L else BsonFiles.countDocs(p.path)
    InternalRow.fromSeq(Seq.fill(spec.grouped.get.items.size)(n))
  }
  override def close(): Unit = ()
}

/** One file partition's rows: projected decode, the partition query,
  * computed columns, the sample window, the cursor sort, the unwind and
  * the pushed tail, in that order. */
final class GraftPartitionReader(p: GraftInputPartition, spec: ScanSpec)
    extends RowIteratorReader {
  // `_file` provenance: decoded rows splice this partition's path in at
  // the requested position — constant per partition
  private val fileCol =
    new MetaColumn(spec.required, GraftBsonSource.FileMetaCol, spec.meta, p.path)
  private val decodeSchema: StructType = fileCol.decodeSchema
  // projected decode: only required columns, remapped paths and query
  // fields are materialized; everything else is byte-skipped — at EVERY
  // document level (dotted paths prune subdocument interiors too: a
  // pruned nested schema or a dotted column_mapping decodes only the
  // subfields it names, [[graft.bson.BsonCodec.Proj]])
  private val needed: Set[String] =
    GraftPartitionReader.schemaPaths(decodeSchema, spec.mapping) ++
      spec.mapping.values ++
      BQuery.fieldPaths(p.query) ++
      p.sortKey ++
      spec.topN.toSeq.flatMap(_.keys.map(_._1)) ++
      spec.sample.map(_.key) ++
      spec.unwind.map(_.path) ++
      BQuery.fieldPaths(spec.unwindPost) ++
      // COMPUTED columns (r17): the SOURCE fields must decode (the
      // synthetic out names never exist in storage)
      spec.computed.map(_.field)
  // keep the raw handle: with limit pushdown / early task kill the iterator
  // is never drained, so close() must release the file descriptor
  private val raw = BsonFiles.readRange(p.path, p.start, p.end, Some(needed))
  // pushed query first, then the deterministic sample window (the two
  // commute; sampling early keeps the heavier stages below — top-n
  // selection — on the sampled stream only)
  private val matched0 = raw.filter(p.query.matches)
  // COMPUTED columns inject right after the pushed-query match (the
  // file-transport mirror of the server's `$set` position); sample keys
  // and TopN orders on computed fields are refused at the builder, so
  // the remaining stages see the derived fields like stored ones
  private val matched =
    if (spec.computed.isEmpty) matched0
    else matched0.map(d => graft.query.ComputedCol.injectAll(spec.computed, d))
  private val base = spec.sample.map(sp => matched.filter(sp.keep)).getOrElse(matched)
  // per-PARTITION sort (the reference's cursor.sort semantics,
  // MongoInputSplit.java:281 — explicitly NOT a global order; use
  // Spark's own orderBy for that). A pushed TopN instead selects by the
  // READ value with a limit-bounded heap — BsonOrdering's cross-type
  // order would tie distinct longs above 2^53 (double-widened compare)
  // and mis-bracket date storage read as long, and a full sort would
  // materialize the partition when only `limit` rows survive.
  // option-level cursor sort: PARENT order (never set with a pushed
  // top-n — the builder refuses the combination)
  private val sortedParents: Iterator[BDoc] = p.sortKey match {
    case Some(key) if spec.topN.isEmpty =>
      base.toVector.sortBy(d => d.getPath(key).getOrElse(BNull))(BsonOrdering).iterator
    case _ => base
  }
  // option-level PARENT-scoped cursor limit keeps its pre-unwind
  // semantics; pushed tails run post-unwind instead (tailsPostUnwind)
  private val parents: Iterator[BDoc] =
    if (spec.unwind.isDefined && !spec.tailsPostUnwind)
      p.limit.map(sortedParents.take).getOrElse(sortedParents)
    else sortedParents
  // `$unwind` (r14): the shared rule emits one doc per element or map
  // entry and applies the post-unwind match; the pos lands as the int32
  // the pos column decodes
  private val unwoundDocs: Iterator[BDoc] =
    Unwind.expandAll(spec.unwind, spec.unwindPost, parents, narrow = true)
  // pushed tail stage — top-n (READ-value bounded heap), then offset
  // (skip; single-partition plans only), then limit. Counts UNWOUND
  // rows when the unwind is pushed with tails, rows otherwise.
  private val docs: Iterator[BDoc] = {
    val t0 = spec.topN match {
      case Some(t) =>
        GraftPartitionReader.topNSelect(unwoundDocs, t.keys,
          p.limit.getOrElse(Int.MaxValue))
      case None => unwoundDocs
    }
    val t1 = spec.offset.map(t0.drop).getOrElse(t0)
    if (spec.unwind.isEmpty || spec.tailsPostUnwind)
      p.limit.map(t1.take).getOrElse(t1)
    else t1
  }

  override protected val rows: Iterator[InternalRow] =
    docs.map(d => fileCol.splice(RowCodec.toRow(d, decodeSchema, spec.mapping)))

  override def close(): Unit = raw.close()
}

object GraftPartitionReader {
  import org.apache.spark.sql.types._

  /** The dotted doc paths a read schema needs: STRUCT columns contribute
    * their (possibly nested-pruned — Spark's nestedSchemaPruning trims
    * the inner StructType) leaf subpaths, so `SELECT meta.small` decodes
    * only that subfield and byte-skips `meta.big`; arrays, maps and
    * scalars keep their whole subtree. `column_mapping` renames the root
    * to its document home.
    */
  private[source] def schemaPaths(schema: StructType,
      mapping: Map[String, String]): Set[String] = {
    def leaves(prefix: String, dt: DataType): Seq[String] = dt match {
      case st: StructType if st.fields.nonEmpty =>
        st.fields.toSeq.flatMap(f => leaves(prefix + "." + f.name, f.dataType))
      case _ => Seq(prefix)
    }
    schema.fields.toSeq.flatMap { f =>
      leaves(mapping.getOrElse(f.name, f.name), f.dataType)
    }.toSet
  }

  /** Bounded top-n selection under a (possibly compound) order spec
    * ([[TopN.stableTopK]]: O(m log n) time, O(n) memory). Each doc's
    * keys are read once: the value Spark reads ([[RowCodec.toCatalyst]]),
    * compared under Spark's interpreted ordering for its type. Per key:
    * ASC is NULLS FIRST, DESC is NULLS LAST (Spark's defaults — the only
    * orderings pushTopN accepts), and DESC is the exact negation of the
    * nulls-first ascending comparator.
    */
  private[source] def topNSelect(docs: Iterator[BDoc],
      spec: Seq[(String, Boolean, DataType)], n: Int): Iterator[BDoc] = {
    val ords = spec.map(k =>
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(k._3)).toArray
    def keysOf(d: BDoc): Array[Any] = {
      val ks = new Array[Any](spec.length)
      var i = 0
      while (i < spec.length) {
        ks(i) = d.getPath(spec(i)._1).map(RowCodec.toCatalyst(_, spec(i)._3)).orNull
        i += 1
      }
      ks
    }
    val cmp: Ordering[(Array[Any], BDoc)] = (x, y) => {
      val (a, b) = (x._1, y._1)
      var c = 0
      var i = 0
      while (c == 0 && i < spec.length) {
        val c0 =
          if (a(i) == null) { if (b(i) == null) 0 else -1 }
          else if (b(i) == null) 1
          else ords(i).compare(a(i), b(i))
        c = if (spec(i)._2) -c0 else c0
        i += 1
      }
      c
    }
    TopN.stableTopK(docs.map(d => (keysOf(d), d)), cmp, n).map(_._2)
  }
}

// ---------------- write path ----------------

final class GraftWriteBuilder(writeSchema: StructType, queryId: String,
    options: Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(writeSchema, queryId, options, truncateFirst)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!truncateFirst,
        "graftbson streaming write appends per epoch; truncate is a batch concern")
      new GraftStreamingWrite(writeSchema, queryId, options)
    }
  }
}

/** Native Structured Streaming SINK: every micro-batch epoch runs the
  * SAME two-phase staged commit the batch path uses ([[GraftBatchWrite]]
  * with an epoch-scoped job dir), and epoch commit is IDEMPOTENT across
  * replays via a durable marker (`.graft-stream-epochs/<queryId>/e<id>`
  * on the collection path): Spark re-commits the last epoch after a
  * recovery, and the marker turns the replay into a no-op — exactly-once
  * into the collection. The marker is keyed by the write's query id,
  * which Spark sets from `StreamingQuery.id` and keeps across restarts
  * from one checkpoint: a restart still finds its own markers, and a
  * second query (another checkpoint) into the same collection never
  * mistakes its epochs for replays of the first one's. The marker
  * rename is one more entry in the commit's
  * `_promote.json` manifest, so marker and data promote in ONE
  * all-or-nothing transaction: a coordinator crash at any point either
  * rolls the whole epoch (data + marker) forward at the next collection
  * open or promoted nothing — there is no promote→marker window, so
  * plain inserts are exactly-once too. One streaming writer per
  * collection at a time — the same single-coordinator assumption the
  * batch two-phase protocol makes.
  */
final class GraftStreamingWrite(writeSchema: StructType, queryId: String,
    options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val path = GraftBsonSource.normalizePath(options.getOrElse("path",
    throw new IllegalArgumentException("path option required")))
  private val shardCount: Int =
    options.get("shards").map(_.toInt)
      .getOrElse(new BsonCollection(path).shardCount)

  private def marker(epochId: Long): java.nio.file.Path =
    Paths.get(path, ".graft-stream-epochs", queryId, s"e$epochId")
  private def epochQueryId(epochId: Long): String = s"$queryId-e$epochId"
  private def epochJobDir(epochId: Long): java.nio.file.Path =
    Paths.get(path, ".graft-pending", epochQueryId(epochId))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(writeSchema, options, path, queryId,
      shardCount)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // roll any interrupted promote forward BEFORE consulting the marker:
    // a crash mid-promote left the manifest (marker entry included), and
    // checking the marker first would miss it — the replay would then
    // re-apply on top of the roll-forward the batch commit's collection
    // open performs, double-writing the epoch
    graft.store.ShardApply.recoverPromote(path)
    if (Files.exists(marker(epochId))) {
      // replayed epoch: already applied — drop the replay's segments and
      // sweep stale staged-marker files a coordinator crash between
      // staging and promote left behind (the marker is promoted, so any
      // remaining `.e<id>.stage-*` is garbage; a zombie's in-flight
      // promote of a deleted stage is a tolerated NoSuchFile no-op)
      sweepStaleMarkerStages(epochId)
      GraftBatchWrite.deleteRecursively(epochJobDir(epochId))
      return
    }
    // the marker is promoted INSIDE the batch commit's manifest-guarded
    // rename transaction — a coordinator crash either rolls the whole
    // epoch (data + marker) forward at the next open or promoted
    // nothing, so a replayed epoch is a no-op in every crash position:
    // exactly-once into the collection with no promote→marker window
    new GraftBatchWrite(writeSchema, epochQueryId(epochId), options,
      truncateFirst = false, epochMarker = Some(marker(epochId)))
      .commit(messages)
    // our own stage was renamed away by the promote — anything still
    // named `.e<id>.stage-*` is an earlier crashed attempt's leftover
    sweepStaleMarkerStages(epochId)
  }

  /** Delete leftover staged-marker files of THIS epoch (crash window:
    * after `Files.createFile(stagedMarker)`, before its promote rename).
    * Only ever called when the epoch's marker is already promoted, so
    * every survivor is stale by construction.
    */
  private def sweepStaleMarkerStages(epochId: Long): Unit = {
    val dir = marker(epochId).getParent
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.startsWith(s".e$epochId.stage-"))
            Files.deleteIfExists(f)
        }
      } finally s.close()
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftBatchWrite.deleteRecursively(epochJobDir(epochId))
}

final class GraftStreamingWriterFactory(writeSchema: StructType,
    options: Map[String, String], path: String, queryId: String,
    shardCount: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(partitionId, taskId, writeSchema, options,
      Paths.get(path, ".graft-pending", s"$queryId-e$epochId").toString,
      shardCount)
}

final case class GraftCommitMessage(partitionId: Int,
    routed: Map[Int, String], broadcast: Option[String], n: Long)
    extends WriterCommitMessage

/** Two-phase write commit on SHARED storage where the driver only ever
  * coordinates — document bytes never pass through it:
  *
  *  1. each task ROUTES its write-model docs into per-shard temp files
  *     under the job dir (`<path>/.graft-pending/<queryId>/`) on the
  *     shared filesystem the collection lives on — inserts and
  *     `_id`-keyed updates to the owning shard, multi-updates to a
  *     broadcast file (ShardRouting mirrors a sharded server's rules);
  *  2. `DataWriter.commit()` (task side) atomically renames the temp
  *     files to durable segments — only segments of successfully-
  *     committed tasks ever carry the final name;
  *  3. `BatchWrite.commit` (driver) verifies every named segment exists
  *     (fail fast: a missing segment is lost task output), then runs the
  *     APPLY AS A DISTRIBUTED JOB — one task per shard, each merging its
  *     shard's segments in (partitionId, seq) order against its own
  *     shard file (ShardApply.run). The driver holds only segment names,
  *     O(#segments) state, never documents.
  *
  * This is the reference's task-attempt-path protocol
  * (MongoRecordWriter.java:49-120 writes to the Hadoop FileSystem work
  * path; MongoOutputCommitter.commitTask:91-186 replays on task commit),
  * which makes task retries safe for non-idempotent $inc/$push updates:
  * an aborted attempt's temp file is never renamed, so it is never
  * replayed. Where the reference's task commit hands its bulk to a mongod
  * that serializes concurrent writers, here each shard file is touched by
  * exactly ONE apply task, so the commit job needs no locks and scales
  * with the shard count.
  */
final class GraftBatchWrite(writeSchema: StructType, queryId: String,
    options: Map[String, String], truncateFirst: Boolean,
    /** Streaming-sink epoch marker, promoted ATOMICALLY with the shard
      * stages: the marker rename rides the same `_promote.json` manifest
      * as the data renames, so a coordinator crash anywhere in the
      * promote either rolls the WHOLE epoch forward (marker included) at
      * the next collection open or left nothing promoted — there is no
      * window where data promoted but the marker didn't (the r12
      * at-least-once caveat this closes). */
    epochMarker: Option[java.nio.file.Path] = None) extends BatchWrite {

  private val path = GraftBsonSource.normalizePath(options.getOrElse("path",
    throw new IllegalArgumentException("path option required")))
  private val jobDir = Paths.get(path, ".graft-pending", queryId)

  // shard count resolved once, driver-side: explicit `shards` option wins,
  // else the collection's declared layout (legacy collections = 1)
  private val shardCount: Int =
    options.get("shards").map(_.toInt)
      .getOrElse(new BsonCollection(path).shardCount)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(writeSchema, options, jobDir.toString, shardCount)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val coll = new BsonCollection(path)
    if (truncateFirst) coll.truncate()
    // declares the layout; refuses shard-count conflicts with existing data
    coll.create(shardCount)
    options.get("ensure_index").foreach(ix => coll.ensureIndex(ix.split(',').toSeq))
    val ordered = messages.collect { case m: GraftCommitMessage => m }
      .sortBy(_.partitionId)
    // fail fast: a missing segment means lost task output — silently
    // writing the rest would be data loss masquerading as success
    val referenced = ordered.flatMap(m => m.routed.values ++ m.broadcast)
    val missing = referenced.filterNot(s => Files.exists(Paths.get(s)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"committed task segment(s) missing at job commit: " +
          missing.mkString(", "))
    val bulkOrdered = !options.get("bulk_ordered").contains("false")
    val bcastSegs = ordered.collect {
      case m if m.broadcast.isDefined => m.partitionId -> m.broadcast.get
    }.toSeq
    val tasks: Seq[graft.store.ShardTask] = (0 until shardCount).flatMap { k =>
      val routedSegs = ordered.collect {
        case m if m.routed.contains(k) => m.partitionId -> m.routed(k)
      }.toSeq
      if (routedSegs.isEmpty && bcastSegs.isEmpty) None
      else Some(graft.store.ShardTask(
        BsonCollection.shardPath(path, shardCount, k).toString, k,
        routedSegs, bcastSegs, bulkOrdered))
    }
    // the apply runs WHERE the data is big: as a Spark job, one task per
    // shard (each bounded by its shard's size). Outside an active session
    // (unit-level callers) it degrades to a local loop. Two-phase: every
    // task STAGES its shard's new contents against the unchanged base
    // (retry/speculation-safe — attempts never mutate live files and
    // write attempt-unique stage names), then the driver promotes all
    // stages with metadata-only renames only after every shard succeeded.
    val jobTag = queryId.replaceAll("[^A-Za-z0-9_-]", "_")
    val stagedResults: Seq[graft.store.ShardApply.Staged] =
      try {
        org.apache.spark.sql.SparkSession.getActiveSession match {
          case Some(s) if tasks.size > 1 =>
            s.sparkContext.parallelize(tasks, tasks.size)
              .map(t => graft.store.ShardApply.runStaged(t, jobTag)).collect().toSeq
          case _ => tasks.map(t => graft.store.ShardApply.runStaged(t, jobTag))
        }
      } catch {
        case e: Throwable =>
          graft.store.ShardApply.cleanupStages(path, jobTag)
          GraftBatchWrite.deleteRecursively(jobDir)
          throw e
      }
    val result = stagedResults.map(_.result)
      .foldLeft(graft.store.BulkResult.empty)(_ merge _)
    if (result.errors.nonEmpty) {
      // mongo's unordered bulk attempts everything, then THROWS the
      // accumulated errors — a "successful" Spark write must not hide
      // dropped rows; opt out explicitly with ignore_write_errors
      val msg = s"unordered bulk completed with ${result.errors.size} error(s): " +
        result.errors.take(5).mkString("; ")
      if (options.get("ignore_write_errors").exists(_.toBoolean))
        System.err.println(s"[graftbson] $msg")
      else {
        // nothing was promoted: the failed job leaves every shard exactly
        // as it was
        graft.store.ShardApply.cleanupStages(path, jobTag)
        GraftBatchWrite.deleteRecursively(jobDir)
        throw new IllegalStateException(msg)
      }
    }
    // all shards staged successfully: promote (metadata-only renames in
    // shard order, manifest-guarded so a coordinator crash mid-loop rolls
    // forward at next open), then sweep losing speculative attempts' stages.
    // A streaming epoch's marker is staged as one more manifest entry —
    // its rename is part of the same all-or-nothing promote.
    val withMarker = epochMarker match {
      case Some(m) =>
        Files.createDirectories(m.getParent)
        val stagedMarker = m.resolveSibling("." + m.getFileName + s".stage-$jobTag")
        try Files.createFile(stagedMarker)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        stagedResults :+ graft.store.ShardApply.Staged(-1, m.toString,
          stagedMarker.toString, graft.store.BulkResult.empty)
      case None => stagedResults
    }
    graft.store.ShardApply.promoteAll(path, withMarker)
    graft.store.ShardApply.cleanupStages(path, jobTag)
    GraftBatchWrite.deleteRecursively(jobDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftBatchWrite.deleteRecursively(jobDir)
}

object GraftBatchWrite {
  private[source] def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}

final class GraftDataWriterFactory(writeSchema: StructType,
    options: Map[String, String], jobDir: String, shardCount: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(partitionId, taskId, writeSchema, options, jobDir, shardCount)
}

final class GraftDataWriter(partitionId: Int, taskId: Long,
    writeSchema: StructType, options: Map[String, String], jobDir: String,
    shardCount: Int)
    extends DataWriter[InternalRow] {
  import graft.store.{ShardRouting, WriteModels}

  private val conf = WriteModels.WriteConf.fromOptions(options)

  // attempt temp files live in the job dir on the SHARED collection path
  // (never executor-local java.io.tmpdir — the apply tasks must be able to
  // read any committed segment on a real cluster); the `_tmp-` prefix
  // marks them uncommitted until the task-side rename in commit().
  // One file per target shard this task actually touches (lazily opened),
  // plus one broadcast file for multi-update models that every shard
  // replays; shard -1 keys the broadcast file.
  Files.createDirectories(Paths.get(jobDir))
  private val appenders = scala.collection.mutable.LinkedHashMap[Int, BsonFiles.Appender]()
  private var closed = false
  // per-model sequence: lets the apply phase interleave a partition's
  // routed and broadcast models back into original write order
  private var seq = 0L

  private def suffix(k: Int): String =
    if (k < 0) "sall" else f"s$k%05d"
  private def tmpFile(k: Int): java.nio.file.Path =
    Paths.get(jobDir, s"_tmp-seg-p$partitionId-t$taskId-${suffix(k)}.bson")
  private def segFile(k: Int): java.nio.file.Path =
    Paths.get(jobDir, s"seg-p$partitionId-t$taskId-${suffix(k)}.bson")
  private def appender(k: Int): BsonFiles.Appender =
    appenders.getOrElseUpdate(k, new BsonFiles.Appender(tmpFile(k).toString))

  override def write(record: InternalRow): Unit = {
    val model = conf.model(RowCodec.toBson(record, writeSchema))
    seq += 1
    // route through the SAME decision the store's local bulkWrite uses —
    // one routing truth, no writer/apply divergence
    val shard = ShardRouting.route(WriteModels.fromDoc(model), shardCount,
      (partitionId.toLong << 32) + seq)
    appender(shard.getOrElse(-1))
      .append(BDoc(model.fields.updated("__seq", BInt64(seq))))
  }

  /** TASK-side commit: atomically promote every attempt file to its
    * durable segment name (MongoOutputCommitter.commitTask semantics) —
    * only then can the apply phase ever see it.
    */
  override def commit(): WriterCommitMessage = {
    var total = 0L
    appenders.valuesIterator.foreach(a => total += a.close())
    closed = true
    val routed = Map.newBuilder[Int, String]
    var bcast: Option[String] = None
    appenders.keysIterator.foreach { k =>
      val tmp = tmpFile(k)
      val seg = segFile(k)
      Files.deleteIfExists(BsonFiles.sideFile(tmp))
      try Files.move(tmp, seg, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, seg)
      }
      if (k < 0) bcast = Some(seg.toString) else routed += k -> seg.toString
    }
    GraftCommitMessage(partitionId, routed.result(), bcast, total)
  }

  override def abort(): Unit = {
    if (!closed) { appenders.valuesIterator.foreach(_.close()); closed = true }
    appenders.keysIterator.foreach { k =>
      BsonFiles.deleteWithSideFile(tmpFile(k))
    }
  }

  override def close(): Unit =
    if (!closed) { appenders.valuesIterator.foreach(_.close()); closed = true }
}
