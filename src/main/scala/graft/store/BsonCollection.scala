package graft.store

import graft.bson._
import graft.files.BsonFiles
import graft.query.BQuery

import java.nio.file.{Files, Path, Paths}

/** A file-backed "collection" on shared storage: the sandbox stand-in for
  * a live server, behind which the same writer/reader code would talk to
  * a real backend. Write semantics follow the reference's bulk commit
  * (core/.../output/MongoOutputCommitter.java:91-186).
  *
  * Layout — either legacy single-file or sharded:
  *  - legacy: `<dir>/data.bson` (one shard, full ordering guarantees);
  *  - sharded: `<dir>/_collmeta.json` declaring `shards = S` plus
  *    `<dir>/shard-00000.bson … shard-<S-1>.bson`, documents placed by
  *    `ShardRouting.idShard(_id) mod S`.
  *
  * Sharding is what makes the write path scale: a bulk apply loads and
  * rewrites ONE shard (bounded by shard size), shards apply in parallel
  * on executors at job commit, and no process ever materializes the whole
  * collection. The shard count plays the role of the reference
  * deployment's chunk/shard topology (SURVEY §2.2), fixed per collection
  * so routing is stable across jobs.
  */
final class BsonCollection(val dir: String) {
  // roll forward any promote a crashed coordinator left half-applied —
  // one manifest stat on the happy path (see ShardApply.recoverPromote)
  ShardApply.recoverPromote(dir)

  private def metaPath: Path = Paths.get(dir, BsonCollection.MetaFile)

  /** Declared shard count: meta file if present, else legacy single file. */
  def shardCount: Int =
    if (Files.exists(metaPath)) BsonCollection.parseMeta(Files.readString(metaPath))
    else 1

  def shardPath(k: Int): Path = BsonCollection.shardPath(dir, shardCount, k)

  def shardPaths: Seq[Path] = {
    val s = shardCount
    (0 until s).map(BsonCollection.shardPath(dir, s, _))
  }

  /** Declare a sharded layout (no-op when the same count is already
    * declared; resharding an existing collection in place is refused —
    * routing of existing documents would silently break).
    */
  def create(shards: Int): Unit = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val existing = if (Files.exists(metaPath)) Some(shardCount) else None
    existing match {
      case Some(s) if s != shards =>
        throw new IllegalStateException(
          s"collection at $dir already declared with $s shard(s); " +
            s"cannot re-declare as $shards — truncate first")
      case Some(_) => ()
      case None =>
        if (shards > 1 && exists)
          throw new IllegalStateException(
            s"collection at $dir has existing unsharded data; " +
              "truncate before declaring a sharded layout")
        Files.createDirectories(Paths.get(dir))
        if (shards > 1)
          Files.writeString(metaPath, s"""{"shards": $shards}""")
    }
  }

  def exists: Boolean = shardPaths.exists(Files.exists(_))

  def readAll(): Iterator[BDoc] =
    shardPaths.iterator.filter(Files.exists(_))
      .flatMap(p => BsonFiles.readAll(p.toString))

  /** Projected read: only the listed (dotted) paths are decoded, every
    * other field's bytes are skipped ([[BsonFiles.readRange]] `fields`) —
    * the store-side analog of the file scan's projected decode. None =
    * full decode.
    */
  def readAll(fields: Option[Set[String]]): Iterator[BDoc] =
    if (fields.isEmpty) readAll()
    else shardPaths.iterator.filter(Files.exists(_))
      .flatMap(p => BsonFiles.readRange(p.toString, 0L,
        Files.size(p), fields))

  /** Total stored bytes + doc count ([[BsonFiles.countDocs]]: side file
    * and header walks, per shard; file size IS the sum of encoded doc
    * lengths) — no decode, no re-encode.
    */
  def sizeStats(): (Long, Long) = {
    var bytes = 0L
    var count = 0L
    shardPaths.filter(Files.exists(_)).foreach { p =>
      bytes += Files.size(p)
      count += BsonFiles.countDocs(p.toString)
    }
    (bytes, count)
  }

  def count(): Long = readAll().size.toLong

  /** Delete all data and the shard layout; index declarations survive
    * (truncate-for-overwrite semantics — the rewrite re-declares layout).
    */
  def truncate(): Unit = {
    shardPaths.foreach(BsonFiles.deleteWithSideFile)
    Files.deleteIfExists(metaPath)
  }

  private def indexPath: Path = Paths.get(dir, "indexes.txt")

  /** Declared indexes (ensure-index parity: recorded, used as metadata). */
  def ensureIndex(fields: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val existing = indexes()
    if (!existing.contains(fields)) {
      val all = existing :+ fields
      Files.writeString(indexPath, all.map(_.mkString(",")).mkString("\n"))
    }
  }

  def indexes(): Seq[Seq[String]] =
    if (!Files.exists(indexPath)) Seq.empty
    else Files.readString(indexPath).split('\n').filter(_.nonEmpty).toSeq.map(_.split(',').toSeq)

  // path-dependent aliases: call sites use `coll.InsertOne(...)` /
  // `coll.WriteModel`; the types themselves are package-level so write
  // models serialize independently of any collection handle
  type WriteModel = graft.store.WriteModel
  val InsertOne = graft.store.InsertOne
  val UpdateOp = graft.store.UpdateOp
  type BulkResult = graft.store.BulkResult

  /** Apply a bulk of write models in order and commit atomically.
    *
    * This is the LOCAL convenience entry (streaming sink micro-batches,
    * tests, single-process callers): models are routed in memory and each
    * shard applied serially. The batch write path does NOT come through
    * here — it routes models into per-shard segment files task-side and
    * applies shards in parallel on executors (GraftBatchWrite.commit).
    */
  def bulkWrite(models: Iterator[WriteModel], ordered: Boolean = true): BulkResult = {
    val s = shardCount
    if (s == 1)
      ShardApply.applyModels(shardPath(0), models, ordered)
    else {
      val routed = Array.fill(s)(Vector.newBuilder[WriteModel])
      var anonSeq = 0L
      models.foreach { m =>
        anonSeq += 1
        ShardRouting.route(m, s, anonSeq) match {
          case Some(k) => routed(k) += m
          case None => routed.foreach(_ += m)
        }
      }
      // two-phase: stage EVERY shard's new contents against its unchanged
      // base, promote only after all succeeded — an ordered abort (e.g. a
      // duplicate key) in shard k must not leave shards 0..k-1 durably
      // committed (the single-file path's all-or-nothing behavior)
      val staged = Seq.newBuilder[ShardApply.Staged]
      try {
        (0 until s).foreach { k =>
          val p = BsonCollection.shardPath(dir, s, k)
          val st = ShardApply.newStagePath(p)
          val res = ShardApply.applyToStage(p, st,
            routed(k).result().iterator, ordered, k)
          staged += ShardApply.Staged(k, p.toString, st.toString, res)
        }
      } catch {
        case e: Throwable =>
          staged.result().foreach(st => ShardApply.discardStage(Paths.get(st.stagedFile)))
          throw e
      }
      val all = staged.result()
      ShardApply.promoteAll(dir, all)
      all.map(_.result).foldLeft(BulkResult.empty)(_ merge _)
    }
  }
}

object BsonCollection {
  val MetaFile = "_collmeta.json"

  private[store] def parseMeta(json: String): Int = {
    val m = """"shards"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
    m.map(_.group(1).toInt).getOrElse(1)
  }

  /** Shard k's data file: the single shard of a legacy collection keeps
    * the historical `data.bson` name so existing dumps stay readable.
    */
  def shardPath(dir: String, shardCount: Int, k: Int): Path =
    if (shardCount == 1) Paths.get(dir, "data.bson")
    else Paths.get(dir, f"shard-$k%05d.bson")

  /** The `_id`-equality conjunct of a query, if any. */
  private[graft] def idEquality(q: BQuery): Option[BsonValue] = q match {
    case BQuery.Eq("_id", v) => Some(v)
    case BQuery.And(qs) => qs.iterator.map(idEquality).collectFirst { case Some(v) => v }
    case _ => None
  }

  /** The Spark-read-semantics `_id` equality conjunct (produced by the
    * pushed-filter translator), if any, as a representative value — the
    * caller derives the storage probe set (a read-long equality routes by
    * BInt64: BDate storage hashes identically in ShardRouting.idShard,
    * both by the raw long).
    */
  private[graft] def idReadEquality(q: BQuery): Option[BsonValue] = q match {
    case BQuery.ReadStrCmp("_id", s, BQuery.ReadStrOp.Eq) => Some(BString(s))
    case BQuery.ReadLongCmp("_id", x, BQuery.ReadStrOp.Eq) => Some(BInt64(x))
    case BQuery.And(qs) => qs.iterator.map(idReadEquality).collectFirst { case Some(v) => v }
    case _ => None
  }

  /** Map keys that could hold a doc whose `_id` EQUALS `v` under BSON
    * comparison semantics: numbers compare cross-width (BInt32(5) ==
    * BInt64(5)), so a point lookup, and an insert's uniqueness check (a
    * unique index compares numbers by value), must probe every
    * exactly-equal-valued width; non-numeric ids are exact.
    */
  private[graft] def idLookups(v: BsonValue): Seq[BsonValue] = {
    val variants = v match {
      case BInt32(x) => Seq(BInt64(x.toLong), BDouble(x.toDouble))
      case BInt64(x) =>
        (if (x >= Int.MinValue && x <= Int.MaxValue) Seq(BInt32(x.toInt)) else Nil) ++
          (if (x.toDouble.toLong == x) Seq(BDouble(x.toDouble)) else Nil)
      case BDouble(x) if x.isWhole =>
        (if (x >= Int.MinValue && x <= Int.MaxValue) Seq(BInt32(x.toInt)) else Nil) ++
          (if (x >= Long.MinValue.toDouble && x <= Long.MaxValue.toDouble)
            Seq(BInt64(x.toLong)) else Nil)
      case _ => Nil
    }
    v +: variants
  }
}
