package graft.server

import graft.bson._
import graft.query.BQuery
import graft.store.{BulkResult, InsertOne, UpdateOp, WriteModel}

import java.lang.reflect.{InvocationTargetException, Method}

/** [[ServerClient]] over the official `mongodb-driver-sync`, bound by
  * REFLECTION: this sandbox cannot add the driver artifact (offline
  * resolver, fixed dependency set), so the binding resolves
  * `com.mongodb.client.*` / `org.bson.*` by name on first use and fails
  * with a clear message when the driver is absent. The file compiles and
  * is unit-covered without the driver; at runtime it works iff
  * `org.mongodb:mongodb-driver-sync` (4.x+) is on the classpath — drop
  * the jar in, point `client_factory` at [[MongoDriverFactory]] with a
  * `uri` option, and every engine path (split planning, per-split
  * cursors, pushdown, two-phase bulk write) runs against the live
  * server.
  *
  * Document traffic never touches driver codecs: every doc crossing the
  * boundary rides the engine's own [[BsonCodec]] as `org.bson.RawBsonDocument`
  * bytes (the driver treats raw documents as opaque), so read/write
  * semantics are byte-identical to the file-backed engine and the
  * reflection surface stays a dozen methods.
  *
  * Operation mapping (reference semantics cited per method):
  *  - collStats      → `db.runCommand({collStats: coll})`
  *                     (core/.../splitter/MongoSplitterFactory.java:66-83)
  *  - find           → `coll.find(query).projection(p).sort(s).skip(n).limit(n)`
  *                     with KeyRange conjuncts as `min`/`max` cursor
  *                     bounds + index hint, never `$gte`/`$lt`
  *                     (core/.../input/MongoInputSplit.java:272-299)
  *  - sampleKeys     → `coll.aggregate([{$sample},{$project}])`
  *                     (core/.../splitter/SampleSplitter.java:79-88)
  *  - splitVector    → `admin.runCommand({splitVector: ns, ...})`, None on
  *                     refusal (core/.../splitter/StandaloneMongoSplitter.java:94-101)
  *  - chunkRanges    → `config.chunks` + `config.shards` host lookup
  *                     (core/.../splitter/ShardChunkMongoSplitter.java)
  *  - bulkWrite      → `coll.bulkWrite(models, ordered)`
  *                     (core/.../output/MongoOutputCommitter.java:127-183)
  *
  * Queries the server cannot evaluate with the engine's exact semantics
  * (see [[QueryDocs.plan]]) are re-checked client-side on the cursor —
  * the server then also keeps skip/limit/projection duties client-side
  * so residual filtering composes in the same order as the engine's own
  * [[Find]] evaluation.
  */
final class MongoDriverClient(uri: String, allowDiskUse: Boolean = false)
    extends ServerClient {
  import MongoDriverClient.Rf

  private val client = Rf.createClient(uri)

  override def close(): Unit = Rf.close(client)

  private def collection(ns: String): Object = {
    val (db, coll) = QueryDocs.nsParts(ns)
    Rf.getCollection(Rf.getDatabase(client, db), coll)
  }

  override def collStats(ns: String): ServerClient.CollStats = {
    val (db, coll) = QueryDocs.nsParts(ns)
    val res = Rf.runCommand(Rf.getDatabase(client, db), QueryDocs.collStatsCmd(coll))
    ServerClient.CollStats(
      res.get("count").flatMap(QueryDocs.asLong).getOrElse(0L),
      res.get("avgObjSize").flatMap(QueryDocs.asLong).getOrElse(0L))
  }

  override def find(ns: String, q: Find): Iterator[BDoc] = {
    val coll = collection(ns)
    val p = QueryDocs.plan(q.query)
    val it = Rf.find(coll, p.serverQuery)
    p.keyBounds.foreach { case (key, lo, hi) =>
      // min/max walk the index's cross-type order — the KeyRange
      // semantics; modern servers require the hint alongside them
      lo.foreach(v => Rf.fluent(it, "min", BDoc(key -> v)))
      hi.foreach(v => Rf.fluent(it, "max", BDoc(key -> v)))
      Rf.fluent(it, "hint", BDoc(key -> BInt32(1)))
    }
    if (q.sortSpec.nonEmpty)
      Rf.fluent(it, "sort", QueryDocs.sortDoc(q.sortSpec))
    if (p.isExact) {
      // exact server evaluation: push projection/skip/limit too. An
      // EMPTY projection list cannot be expressed server-side ({_id: 0}
      // alone means "everything but _id", not "nothing") — apply it
      // client-side like the residual path does.
      q.projection.filter(_.nonEmpty)
        .foreach(f => Rf.fluent(it, "projection", QueryDocs.projectionDoc(f)))
      if (q.skip > 0) Rf.fluentInt(it, "skip", clampInt(q.skip))
      if (q.limit >= 0) Rf.fluentInt(it, "limit", clampInt(q.limit))
      val base = Rf.cursor(it)
      q.projection match {
        case Some(fields) if fields.isEmpty =>
          base.map(QueryDocs.projector(fields))
        case _ => base
      }
    } else {
      // residual re-check client-side; skip/limit/projection must apply
      // AFTER the residual filter, so they stay client-side as well.
      // The CURSOR still projects (r16): the residual only reads its
      // own field paths, so the wire ships projection ∪ the residual
      // paths' TOP-LEVEL HEAD fields instead of whole documents — at
      // corpus scale a residual-bearing scan (e.g. a regex_dialect=java
      // pattern) keeps column pruning; the exact client projection
      // applies after the re-check. HEADS, not dotted paths: a mongo
      // inclusion projection of `m.a` drops scalar array elements
      // (erasing the MISSING slots `{p: null}` matches) and rejects
      // numeric segments — only a whole top-level field arrives
      // VERBATIM, preserving every structure resolvePath traverses.
      val residual = p.residual.get
      q.projection.filter(_.nonEmpty).foreach { f =>
        val widened = GraftServerSource.pruneProjection(
          (f ++ BQuery.fieldPaths(residual).toSeq.map(_.split('.').head)
            .sorted).distinct)
        Rf.fluent(it, "projection", QueryDocs.projectionDoc(widened))
      }
      var out = Rf.cursor(it).filter(residual.matches)
      out = out.drop(clampInt(q.skip))
      if (q.limit >= 0) out = out.take(clampInt(q.limit))
      q.projection match {
        case Some(fields) => out.map(QueryDocs.projector(fields))
        case None => out
      }
    }
  }

  private def clampInt(x: Long): Int = math.min(x, Int.MaxValue.toLong).toInt

  override def sampleKeys(ns: String, key: String, n: Int): Seq[BsonValue] = {
    if (n <= 0) return Seq.empty
    val coll = collection(ns)
    Rf.cursor(Rf.aggregate(coll, QueryDocs.sampleStages(key, n)))
      .flatMap(_.getPath(key)).toVector
  }

  override def splitVector(ns: String, key: String, maxChunkBytes: Long): Option[Seq[BsonValue]] =
    try {
      val admin = Rf.getDatabase(client, "admin")
      val res = Rf.runCommand(admin, QueryDocs.splitVectorCmd(ns, key, maxChunkBytes))
      res.get("splitKeys") match {
        case Some(BArray(keys)) =>
          Some(keys.flatMap { case d: BDoc => d.getPath(key); case v => Some(v) })
        case _ => Some(Seq.empty)
      }
    } catch {
      // mongos / unprivileged deployments refuse the command — the caller
      // falls back to sampling, the reference's own fallback chain
      case e: RuntimeException if Rf.isCommandFailure(e) => None
    }

  override def chunkRanges(ns: String, key: String): Seq[(Option[BsonValue], Option[BsonValue], Seq[String])] = {
    val config = Rf.getDatabase(client, "config")
    val chunksColl = Rf.getCollection(config, "chunks")
    // pre-5.0 servers key config.chunks by ns string; 5.0+ by collection
    // uuid. The uuid is subtype-4 binary and the engine's BBinary is
    // subtype-blind (re-encoding would write subtype 0 and miss), so the
    // uuid arm filters CLIENT-side on byte equality — config.chunks is
    // cluster metadata, bounded by chunk count, not data size.
    val byNs = Rf.cursor(Rf.find(chunksColl, BDoc("ns" -> BString(ns)))).toVector
    val chunks =
      if (byNs.nonEmpty) byNs
      else {
        val collMeta = Rf.cursor(Rf.find(
          Rf.getCollection(config, "collections"),
          BDoc("_id" -> BString(ns)))).toVector.headOption
        collMeta.flatMap(_.get("uuid")) match {
          case Some(uuid) =>
            Rf.cursor(Rf.find(chunksColl, BDoc.empty))
              .filter(_.get("uuid").contains(uuid)).toVector
          case None => Vector.empty
        }
      }
    if (chunks.isEmpty) return Seq.empty
    val shardHosts: Map[String, Seq[String]] =
      Rf.cursor(Rf.find(Rf.getCollection(config, "shards"), BDoc.empty))
        .flatMap { d =>
          (d.get("_id"), d.get("host")) match {
            case (Some(BString(id)), Some(BString(host))) =>
              Some(id -> QueryDocs.hostList(host))
            case _ => None
          }
        }.toMap
    chunks.map { c =>
      val lo = c.getPath(s"min.$key").filter(_ != BMinKey)
      val hi = c.getPath(s"max.$key").filter(_ != BMaxKey)
      val hosts = c.get("shard") match {
        case Some(BString(sid)) => shardHosts.getOrElse(sid, Seq.empty)
        case _ => Seq.empty
      }
      (lo, hi, hosts)
    }
  }

  /** Grouped aggregation as one server-side `$match`+`$group` pipeline
    * round-trip ([[QueryDocs.groupStages]]). Requires a fully
    * server-renderable query: a residual cannot be re-checked after
    * grouping (rows are gone), so a partially-renderable query here is a
    * caller bug, not a fallback case — the scan builder only pushes
    * grouped aggregates when the whole pushed query renders.
    */
  override def groupAggregate(ns: String, query: BQuery, groupKeys: Seq[String],
      aggs: Seq[GroupAgg],
      unwind: Option[graft.query.Unwind] = None,
      postQuery: BQuery = BQuery.True,
      computed: Seq[graft.query.ComputedCol] = Nil): Iterator[BDoc] = {
    val coll = collection(ns)
    val p = QueryDocs.plan(query)
    require(p.isExact && p.keyBounds.isEmpty,
      s"groupAggregate requires a fully server-renderable query, got $query")
    val post = QueryDocs.plan(postQuery)
    require(post.isExact && post.keyBounds.isEmpty,
      s"groupAggregate requires a fully server-renderable POST-unwind query, got $postQuery")
    val it = Rf.aggregate(coll, QueryDocs.groupStages(p.serverQuery, groupKeys, aggs,
      unwind, post.serverQuery, computed))
    // the one pipeline here that can exceed the server's 100 MB
    // per-stage memory (a high-cardinality $group) — honor the opt-in
    if (allowDiskUse) Rf.allowDiskUse(it, b = true)
    // the server keys the group value(s) as _id (scalar for one key,
    // compound doc for several, null for the global pipeline); re-key
    // under each group column's name per the ServerClient contract —
    // incl. the all-null-SUM → NULL correction via the presence
    // companion (a real server's `$sum` is 0 there)
    Rf.cursor(it).map(d => QueryDocs.regroup(d, groupKeys, aggs))
  }

  /** The unwound ROW pipeline, one aggregate() round-trip
    * ([[QueryDocs.unwoundStages]]). Both queries must render fully —
    * rows may be gone after the `$sort`/`$skip`/`$limit` tail, so a
    * residual here is a caller bug (the scan builder gates on exact
    * rendering before pushing the tail). A large post-match `$sort` can
    * exceed the server's per-stage memory; honor the disk-use opt-in.
    */
  override def unwoundRead(ns: String, query: BQuery, u: graft.query.Unwind,
      postQuery: BQuery, sortSpec: Seq[(String, Boolean)],
      skip: Long, limit: Long,
      projection: Option[Seq[String]]): Iterator[BDoc] = {
    val coll = collection(ns)
    val p = QueryDocs.plan(query)
    require(p.isExact && p.keyBounds.isEmpty,
      s"unwoundRead requires a fully server-renderable query, got $query")
    val post = QueryDocs.plan(postQuery)
    require(post.isExact && post.keyBounds.isEmpty,
      s"unwoundRead requires a fully server-renderable POST-unwind query, got $postQuery")
    val it = Rf.aggregate(coll, QueryDocs.unwoundStages(p.serverQuery, u,
      post.serverQuery, sortSpec, skip, limit, projection))
    if (allowDiskUse) Rf.allowDiskUse(it, b = true)
    Rf.cursor(it)
  }

  /** The `$lookup`+`$unwind` join pipeline
    * ([[QueryDocs.lookupPipeline]]), one aggregate() round-trip per call
    * however many stages it chains; the `__j` subdocument is flattened
    * client-side per the [[ServerClient.lookupJoin]] contract. A
    * KeyRange conjunct (a split range) renders bracket-style
    * (`$gte`/`$lt`) into the `$match` — exact only over uniformly-stored
    * keys, which the joined scan guarantees by gating range splits on
    * `assume_uniform_storage`.
    */
  override def lookupJoin(ns: String, j: LookupJoin): Iterator[BDoc] = {
    val it = Rf.aggregate(collection(ns), QueryDocs.lookupPipeline(ns, j))
    // a $lookup over a large right side can exceed the 100 MB stage cap
    if (allowDiskUse) Rf.allowDiskUse(it, b = true)
    j.group match {
      case Some((keys, aggs)) =>
        // grouped arm: flat $group result docs, re-keyed to the contract
        Rf.cursor(it).map(d => QueryDocs.regroup(d, keys, aggs))
      case None =>
        Rf.cursor(it).map { d =>
          val base = d.fields.toSeq.filterNot(_._1 == QueryDocs.JoinedField)
          val joined = d.get(QueryDocs.JoinedField) match {
            case Some(sub: BDoc) => sub.fields.toSeq
            case _ => Seq.empty
          }
          BDoc((base ++ joined): _*)
        }
    }
  }

  /** `db.runCommand({createIndexes: ...})` — one round-trip; servers
    * no-op an already-existing identical index. */
  override def createIndex(ns: String, fields: Seq[String]): Unit = {
    val (db, coll) = QueryDocs.nsParts(ns)
    val _ = Rf.runCommand(Rf.getDatabase(client, db),
      QueryDocs.createIndexesCmd(coll, fields))
  }

  override def bulkWrite(ns: String, models: Iterator[WriteModel], ordered: Boolean): BulkResult = {
    val coll = collection(ns)
    val jmodels = new java.util.ArrayList[Object]()
    models.foreach {
      case InsertOne(doc) => jmodels.add(Rf.insertOneModel(doc))
      case UpdateOp(m) =>
        val filter = QueryDocs.render(m.query).getOrElse(throw new IllegalArgumentException(
          s"bulkWrite filter not expressible as a server query: ${m.query}"))
        if (m.replace) jmodels.add(Rf.replaceOneModel(filter, m.update, m.upsert))
        else jmodels.add(Rf.updateModel(filter, QueryDocs.updateDoc(m.update), m.upsert, m.multi))
    }
    if (jmodels.isEmpty) return BulkResult(0, 0, 0, 0)
    Rf.bulkWrite(coll, jmodels, ordered)
  }
}

/** Factory binding for connector options:
  * `client_factory=graft.server.MongoDriverFactory`, `uri=mongodb://...`.
  * One client per task, like the reference rebuilding its `MongoClient`
  * from the input URI inside each split (MongoInputSplit.java:243-276).
  */
final class MongoDriverFactory extends ServerClientFactory {
  override def create(options: Map[String, String]): ServerClient =
    new MongoDriverClient(options.getOrElse("uri",
      throw new IllegalArgumentException("graftserver: MongoDriverFactory requires a 'uri' option")),
      allowDiskUse = options.get("allow_disk_use").exists(_.toBoolean))

  /** Real server: wire forms ship verbatim, the server's own
    * numeric-null resolution rule applies (reference parity —
    * MongoInputSplit.java:281's mongo.input.query passthrough). */
  override def liveTransport: Boolean = true
}

object MongoDriverClient {

  /** The whole reflection surface, resolved lazily per-JVM. Every driver
    * object stays `Object`-typed here; documents cross as raw BSON bytes
    * through [[BsonCodec]].
    */
  private[server] object Rf {
    /** Per-classloader resolution table. Resolve via the thread context
      * classloader first: on an executor, a `spark.jars`-delivered driver
      * lands in the task's context classloader, NOT necessarily in the
      * loader that defined this class — plain `Class.forName` would miss
      * it. Falls back to the defining loader (driver JVM / tests with the
      * jar on the app classpath). Resolution is cached PER LOADER, not
      * once per JVM: a single JVM-lifetime cache would let the first
      * thread to touch Rf pin its TCCL's class instances forever, so a
      * later caller under a different loader (holding its own driver
      * copy) would hit ClassCastExceptions on name-matched casts instead
      * of resolving against its own classes.
      */
    private final class Resolved(tccl: ClassLoader) {
      private def cls(name: String): Class[_] = {
        def fromDefiningLoader(): Class[_] =
          try Class.forName(name)
          catch {
            case e: ClassNotFoundException => throw new IllegalStateException(
              "graftserver: MongoDriverFactory requires org.mongodb:mongodb-driver-sync " +
                s"(4.x+) on the classpath — class ${e.getMessage} not found. In this " +
                "sandbox use client_factory=graft.server.DirServerFactory instead.", e)
          }
        try Class.forName(name, true, tccl)
        catch { case _: ClassNotFoundException => fromDefiningLoader() }
      }

      lazy val bsonIface = cls("org.bson.conversions.Bson")
      lazy val rawDocCls = cls("org.bson.RawBsonDocument")
      lazy val rawCtor = rawDocCls.getConstructor(classOf[Array[Byte]])
      lazy val getByteBuffer = rawDocCls.getMethod("getByteBuffer")
      lazy val clientsCls = cls("com.mongodb.client.MongoClients")
      lazy val clientIface = cls("com.mongodb.client.MongoClient")
      lazy val dbIface = cls("com.mongodb.client.MongoDatabase")
      lazy val collIface = cls("com.mongodb.client.MongoCollection")
      lazy val iterableIface = cls("com.mongodb.client.MongoIterable")
      lazy val findIterIface = cls("com.mongodb.client.FindIterable")
      lazy val aggIterIface = cls("com.mongodb.client.AggregateIterable")
      lazy val insertOneCls = cls("com.mongodb.client.model.InsertOneModel")
      lazy val replaceOneCls = cls("com.mongodb.client.model.ReplaceOneModel")
      lazy val updateOneCls = cls("com.mongodb.client.model.UpdateOneModel")
      lazy val updateManyCls = cls("com.mongodb.client.model.UpdateManyModel")
      lazy val replaceOptsCls = cls("com.mongodb.client.model.ReplaceOptions")
      lazy val updateOptsCls = cls("com.mongodb.client.model.UpdateOptions")
      lazy val bulkOptsCls = cls("com.mongodb.client.model.BulkWriteOptions")
    }

    // Keyed by loader; entries are tiny (one Resolved of ~17 Class refs)
    // and the loader population on an executor is small (app loader +
    // task isolation loaders), so strong keys are acceptable here.
    private val perLoader =
      new java.util.concurrent.ConcurrentHashMap[ClassLoader, Resolved]()
    private def R: Resolved = {
      val key = Thread.currentThread.getContextClassLoader match {
        case null => Option(getClass.getClassLoader)
          .getOrElse(ClassLoader.getSystemClassLoader)
        case l => l
      }
      perLoader.computeIfAbsent(key, l => new Resolved(l))
    }

    private def bsonIface = R.bsonIface
    private def rawDocCls = R.rawDocCls
    private def rawCtor = R.rawCtor
    private def getByteBuffer = R.getByteBuffer
    private def clientsCls = R.clientsCls
    private def clientIface = R.clientIface
    private def dbIface = R.dbIface
    private def collIface = R.collIface
    private def iterableIface = R.iterableIface
    private def findIterIface = R.findIterIface
    private def aggIterIface = R.aggIterIface
    private def insertOneCls = R.insertOneCls
    private def replaceOneCls = R.replaceOneCls
    private def updateOneCls = R.updateOneCls
    private def updateManyCls = R.updateManyCls
    private def replaceOptsCls = R.replaceOptsCls
    private def updateOptsCls = R.updateOptsCls
    private def bulkOptsCls = R.bulkOptsCls

    private def toRaw(d: BDoc): Object =
      rawCtor.newInstance(BsonCodec.encode(d)).asInstanceOf[Object]

    private def fromRaw(o: Object): BDoc = {
      val buf = getByteBuffer.invoke(o) // org.bson.ByteBuf
      val nio = buf.getClass.getMethod("asNIO").invoke(buf)
        .asInstanceOf[java.nio.ByteBuffer]
      val bytes = new Array[Byte](nio.remaining())
      nio.get(bytes)
      BsonCodec.decode(bytes)
    }

    private def unwrap[T](body: => T): T =
      try body
      catch { case e: InvocationTargetException =>
        e.getCause match {
          case re: RuntimeException => throw re
          case other => throw new RuntimeException(other)
        }
      }

    def createClient(uri: String): Object = unwrap {
      clientsCls.getMethod("create", classOf[String])
        .invoke(null, uri)
    }

    def close(client: Object): Unit = unwrap {
      clientIface.getMethod("close").invoke(client)
    }

    def getDatabase(client: Object, name: String): Object = unwrap {
      clientIface.getMethod("getDatabase", classOf[String]).invoke(client, name)
    }

    /** Collection handle reading/writing `RawBsonDocument` — all codec
      * work stays in [[BsonCodec]]. */
    def getCollection(db: Object, name: String): Object = unwrap {
      dbIface.getMethod("getCollection", classOf[String], classOf[Class[_]])
        .invoke(db, name, rawDocCls)
    }

    def runCommand(db: Object, cmd: BDoc): BDoc = unwrap {
      fromRaw(dbIface.getMethod("runCommand", bsonIface, classOf[Class[_]])
        .invoke(db, toRaw(cmd), rawDocCls))
    }

    def find(coll: Object, filter: BDoc): Object = unwrap {
      collIface.getMethod("find", bsonIface).invoke(coll, toRaw(filter))
    }

    def aggregate(coll: Object, stages: Seq[BDoc]): Object = unwrap {
      val list = new java.util.ArrayList[Object]()
      stages.foreach(s => list.add(toRaw(s)))
      collIface.getMethod("aggregate", classOf[java.util.List[_]]).invoke(coll, list)
    }

    /** `AggregateIterable.allowDiskUse(true)` — lets a server-side
      * `$group` spill past the 100 MB pipeline-stage memory limit (the
      * deployment knob for high-cardinality pushed groupings). */
    def allowDiskUse(aggIterable: Object, b: Boolean): Unit = unwrap {
      val _ = aggIterIface.getMethod("allowDiskUse", classOf[java.lang.Boolean])
        .invoke(aggIterable, java.lang.Boolean.valueOf(b))
    }

    /** Invoke a fluent FindIterable option taking a Bson (sort,
      * projection, min, max, hint) — returns the iterable, discarded
      * (the driver mutates in place and returns `this`).
      */
    def fluent(it: Object, method: String, doc: BDoc): Unit = unwrap {
      val _ = findIterIface.getMethod(method, bsonIface).invoke(it, toRaw(doc))
    }

    def fluentInt(it: Object, method: String, v: Int): Unit = unwrap {
      val _ = findIterIface.getMethod(method, classOf[Int]).invoke(it, Int.box(v))
    }

    /** Stream a MongoIterable as BDocs — the driver cursor IS a
      * `java.util.Iterator`; never materializes.
      */
    def cursor(iterable: Object): Iterator[BDoc] = unwrap {
      val jit = iterableIface.getMethod("iterator").invoke(iterable)
        .asInstanceOf[java.util.Iterator[Object]]
      new Iterator[BDoc] {
        override def hasNext: Boolean = jit.hasNext
        override def next(): BDoc = fromRaw(jit.next())
      }
    }

    def insertOneModel(doc: BDoc): Object = unwrap {
      insertOneCls.getConstructor(classOf[Object])
        .newInstance(toRaw(doc)).asInstanceOf[Object]
    }

    def replaceOneModel(filter: BDoc, doc: BDoc, upsert: Boolean): Object = unwrap {
      val opts = replaceOptsCls.getDeclaredConstructor().newInstance()
        .asInstanceOf[Object]
      replaceOptsCls.getMethod("upsert", classOf[Boolean]).invoke(opts, Boolean.box(upsert))
      replaceOneCls.getConstructor(bsonIface, classOf[Object], replaceOptsCls)
        .newInstance(toRaw(filter), toRaw(doc), opts).asInstanceOf[Object]
    }

    def updateModel(filter: BDoc, update: BDoc, upsert: Boolean, multi: Boolean): Object = unwrap {
      val opts = updateOptsCls.getDeclaredConstructor().newInstance()
        .asInstanceOf[Object]
      updateOptsCls.getMethod("upsert", classOf[Boolean]).invoke(opts, Boolean.box(upsert))
      val target = if (multi) updateManyCls else updateOneCls
      target.getConstructor(bsonIface, bsonIface, updateOptsCls)
        .newInstance(toRaw(filter), toRaw(update), opts).asInstanceOf[Object]
    }

    def bulkWrite(coll: Object, models: java.util.List[Object], ordered: Boolean): BulkResult = {
      val opts = unwrap {
        val o = bulkOptsCls.getDeclaredConstructor().newInstance().asInstanceOf[Object]
        bulkOptsCls.getMethod("ordered", classOf[Boolean]).invoke(o, Boolean.box(ordered))
        o
      }
      val m = collIface.getMethod("bulkWrite", classOf[java.util.List[_]], bulkOptsCls)
      try {
        toBulkResult(m.invoke(coll, models, opts))
      } catch {
        case e: InvocationTargetException
            if e.getCause != null &&
              e.getCause.getClass.getName == "com.mongodb.MongoBulkWriteException" =>
          // partial result + per-item errors, the unordered-continue shape
          val cause = e.getCause
          val partial = toBulkResult(
            cause.getClass.getMethod("getWriteResult").invoke(cause))
          val errs = cause.getClass.getMethod("getWriteErrors").invoke(cause)
            .asInstanceOf[java.util.List[Object]]
          val msgs = scala.jdk.CollectionConverters.ListHasAsScala(errs).asScala
            .map(we => we.getClass.getMethod("getMessage").invoke(we).toString)
          partial.copy(errors = msgs.toSeq)
        case e: InvocationTargetException => e.getCause match {
          case re: RuntimeException => throw re
          case other => throw new RuntimeException(other)
        }
      }
    }

    private def toBulkResult(r: Object): BulkResult = {
      def count(m: String): Long =
        r.getClass.getMethod(m).invoke(r).asInstanceOf[java.lang.Integer].toLong
      val upserts = r.getClass.getMethod("getUpserts").invoke(r)
        .asInstanceOf[java.util.List[_]].size().toLong
      BulkResult(count("getInsertedCount"), count("getMatchedCount"),
        count("getModifiedCount"), upserts)
    }

    /** Is this a driver command failure (the splitVector-refused arm)?
      * Matched by class-name walk so the check works without the driver
      * types linked.
      */
    def isCommandFailure(e: RuntimeException): Boolean = {
      var c: Class[_] = e.getClass
      while (c != null) {
        if (c.getName == "com.mongodb.MongoCommandException" ||
          c.getName == "com.mongodb.MongoException") return true
        c = c.getSuperclass
      }
      false
    }

    /** Compile-time-invisible classes this binding touches, for the spec
      * that pins the reflection surface. */
    private[server] val surface: Seq[String] = Seq(
      "org.bson.conversions.Bson", "org.bson.RawBsonDocument",
      "com.mongodb.client.MongoClients", "com.mongodb.client.MongoClient",
      "com.mongodb.client.MongoDatabase", "com.mongodb.client.MongoCollection",
      "com.mongodb.client.MongoIterable", "com.mongodb.client.FindIterable",
      "com.mongodb.client.model.InsertOneModel", "com.mongodb.client.model.ReplaceOneModel",
      "com.mongodb.client.model.UpdateOneModel", "com.mongodb.client.model.UpdateManyModel",
      "com.mongodb.client.model.ReplaceOptions", "com.mongodb.client.model.UpdateOptions",
      "com.mongodb.client.model.BulkWriteOptions", "com.mongodb.client.model.WriteModel",
      // touched structurally (casts / name-matched exceptions / result
      // reflection), not via cls():
      "com.mongodb.client.MongoCursor", "com.mongodb.client.AggregateIterable",
      "com.mongodb.MongoException", "com.mongodb.MongoCommandException",
      "com.mongodb.MongoBulkWriteException", "com.mongodb.bulk.BulkWriteResult")
  }
}
