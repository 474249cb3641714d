package graft.store

import graft.bson._
import graft.files.BsonFiles
import graft.query.{UpdateModel, Updates}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** A bulk write model: plain insert or a keyed update/replace/upsert. */
sealed trait WriteModel extends Serializable
final case class InsertOne(doc: BDoc) extends WriteModel
final case class UpdateOp(model: UpdateModel) extends WriteModel

final case class BulkResult(inserted: Long, matched: Long, modified: Long,
    upserted: Long, errors: Seq[String] = Seq.empty) {
  def merge(o: BulkResult): BulkResult =
    BulkResult(inserted + o.inserted, matched + o.matched,
      modified + o.modified, upserted + o.upserted, errors ++ o.errors)
}

object BulkResult { val empty: BulkResult = BulkResult(0, 0, 0, 0) }

/** Shard routing for the sharded store: a model routes to ONE shard when
  * its identity is known (`_id` on an insert, an `_id`-equality conjunct
  * on an update), is broadcast to every shard for multi-updates, and is
  * rejected otherwise — mirroring the real constraint a sharded MongoDB
  * cluster places on writes (updateOne/upsert must carry the shard key;
  * multi-updates are scatter-gathered to all shards).
  */
object ShardRouting {

  /** Route for a model on an `s`-shard store: `Some(k)` = apply on shard
    * k only; `None` = broadcast to every shard. `anonSeed` spreads
    * `_id`-less inserts deterministically.
    */
  def route(m: WriteModel, s: Int, anonSeed: Long): Option[Int] = m match {
    case _ if s == 1 => Some(0)
    case InsertOne(doc) => Some(doc.get("_id") match {
      case Some(id) => idShard(id, s)
      case None => ((anonSeed * 2654435761L >>> 8) % s).toInt
    })
    case UpdateOp(um) => BsonCollection.idEquality(um.query) match {
      case Some(id) => Some(idShard(id, s))
      case None if um.multi && !um.upsert => None
      case None => throw new IllegalArgumentException(
        "updateOne/upsert on a sharded collection requires an _id equality " +
          "in the query (same restriction as a sharded server deployment); " +
          s"got query without routable _id: ${um.query}")
    }
  }

  /** Shard of an `_id` value. Numeric ids are canonicalized first so the
    * cross-width equalities the store honors (BInt32(5) == BInt64(5) ==
    * BDouble(5.0)) land on the same shard; distinct-type collisions are
    * harmless (routing only needs equal values to co-locate).
    */
  def idShard(v: BsonValue, s: Int): Int = {
    val h = v match {
      case BInt32(x) => fnv(longBytes(x.toLong))
      case BInt64(x) => fnv(longBytes(x))
      case BDouble(x) if !x.isNaN && !x.isInfinite && x.isWhole &&
        x >= Long.MinValue.toDouble && x <= Long.MaxValue.toDouble =>
        fnv(longBytes(x.toLong))
      case BDouble(x) => fnv(longBytes(java.lang.Double.doubleToLongBits(x)))
      case BString(x) => fnv(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case BObjectId(hex) => fnv(hex.toLowerCase.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case BDate(ms) => fnv(longBytes(ms))
      case BBool(b) => fnv(Array(if (b) 1.toByte else 0.toByte))
      case other => fnv(BsonCodec.encode(BDoc("k" -> other)))
    }
    ((h % s) + s).toInt % s
  }

  private def longBytes(x: Long): Array[Byte] =
    Array.tabulate(8)(i => ((x >>> (8 * i)) & 0xff).toByte)

  private def fnv(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xff; h *= 0x100000001b3L; i += 1 }
    h & Long.MaxValue
  }
}

/** One shard's apply work at job commit: the shard's base file plus the
  * committed per-partition segment files that route to it (and the
  * broadcast segments every shard replays). Pure data — it is shipped to
  * an executor and run there, so commit never moves document bytes
  * through the driver.
  */
final case class ShardTask(shardFile: String, shard: Int,
    routedSegs: Seq[(Int, String)], broadcastSegs: Seq[(Int, String)],
    ordered: Boolean) extends Serializable

/** The per-file bulk apply: load ONE shard (bounded by shard size, never
  * the whole collection), apply models in deterministic (partitionId,
  * sequence) order, and commit atomically via temp-file + rename. This is
  * the executor-side analog of the reference applying each task's bulk on
  * the server at task commit (core/.../output/MongoOutputCommitter
  * .java:91-186) — here the "server" is a shard file on shared storage
  * that exactly one task owns during the apply phase.
  */
object ShardApply {

  /** One shard's apply outcome: the bulk counters plus the staged (not
    * yet promoted) result file — shipped back to the coordinator, which
    * promotes every stage only after ALL shards succeeded.
    */
  final case class Staged(shard: Int, shardFile: String, stagedFile: String,
      result: BulkResult) extends Serializable

  /** Run one shard's apply TO A STAGE FILE: merge the shard's routed
    * segments with the broadcast segments partition-by-partition
    * (interleaved by the per-model `__seq` written by the task writer, so
    * routed and broadcast models from one partition replay in original
    * order) against the UNMODIFIED base shard, writing the new shard
    * contents under an attempt-unique dot-prefixed name. Retry-safe by
    * construction: a re-executed or speculative attempt reads the same
    * base (nothing is promoted until every shard reports success) and
    * writes its own stage file, so attempts never double-apply
    * non-idempotent models or clobber each other — the coordinator
    * promotes exactly the winning attempt's stage.
    */
  def runStaged(t: ShardTask, jobTag: String): Staged = {
    val routedByPid = t.routedSegs.groupBy(_._1)
    val bcastByPid = t.broadcastSegs.groupBy(_._1)
    val pids = (routedByPid.keySet ++ bcastByPid.keySet).toSeq.sorted
    val models: Iterator[WriteModel] = pids.iterator.flatMap { pid =>
      val r = routedByPid.getOrElse(pid, Nil).sortBy(_._2)
        .iterator.flatMap { case (_, f) => readSeg(f) }
      val b = bcastByPid.getOrElse(pid, Nil).sortBy(_._2)
        .iterator.flatMap { case (_, f) => readSeg(f) }
      mergeBySeq(r.buffered, b.buffered)
        .map { case (_, d) => WriteModels.fromDoc(d) }
    }
    val shardPath = Paths.get(t.shardFile)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"${tc.stageId()}-${tc.taskAttemptId()}")
      .getOrElse("local")
    val staged = shardPath.resolveSibling(
      s".apply-$jobTag-$attempt-${shardPath.getFileName}")
    val res = applyToStage(shardPath, staged, models, t.ordered, t.shard)
    Staged(t.shard, t.shardFile, staged.toString, res)
  }

  /** Promote a staged shard file (and its .splits side file) over the
    * live shard — metadata-only renames, run by the coordinator once
    * every shard's apply has succeeded.
    */
  def promote(st: Staged): Unit = {
    val staged = Paths.get(st.stagedFile)
    val dataPath = Paths.get(st.shardFile)
    val stagedSide = staged.resolveSibling("." + staged.getFileName + ".splits")
    val side = dataPath.resolveSibling("." + dataPath.getFileName + ".splits")
    Files.move(staged, dataPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(stagedSide))
      Files.move(stagedSide, side, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Crash-safe promote of a whole job: write the `_promote.json`
    * manifest (atomic tmp+rename) BEFORE the first shard rename, run
    * every rename, then remove the manifest. A coordinator crash
    * anywhere inside the loop leaves the manifest on shared storage, and
    * [[recoverPromote]] rolls the remaining renames forward at the next
    * collection open — so a promote is all-or-nothing: either no shard
    * was renamed and no manifest exists (pre-crash cleanup removes the
    * stages), or every shard's rename is eventually applied.
    *
    * Tolerates a CONCURRENT recoverer: a reader that opens the
    * collection mid-loop sees the manifest, rolls the remaining renames
    * forward itself, and deletes the manifest — each of this loop's
    * remaining renames then finds its stage file gone. A missing stage
    * means exactly "someone already promoted this shard" (the rename is
    * atomic; there is no third state), so it is swallowed per shard —
    * the commit must not abort after its data reached the live files.
    */
  def promoteAll(collectionDir: String, staged: Seq[Staged]): Unit = {
    if (staged.isEmpty) return
    val manifest = writeManifest(collectionDir, staged)
    staged.foreach { st =>
      try promote(st)
      catch { case _: java.nio.file.NoSuchFileException =>
        // promoted by a concurrent recoverer; its data rename is done,
        // but a side-file rename may have been orphaned between the two
        moveOrphanedSideFile(st.shardFile, st.stagedFile)
      }
    }
    Files.deleteIfExists(manifest)
  }

  /** Complete the side-file half of a promote whose data rename already
    * ran (crash or race between the two renames): move the staged
    * `.splits` into place if it still exists. Shared by the coordinator's
    * race tolerance and the recoverer.
    */
  private def moveOrphanedSideFile(dataFile: String, stageFile: String): Unit = {
    val stage = Paths.get(stageFile)
    val stagedSide = stage.resolveSibling("." + stage.getFileName + ".splits")
    val dataPath = Paths.get(dataFile)
    val side = dataPath.resolveSibling("." + dataPath.getFileName + ".splits")
    if (Files.exists(stagedSide))
      try Files.move(stagedSide, side, StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.NoSuchFileException => () }
  }

  private[graft] def writeManifest(collectionDir: String, staged: Seq[Staged]): Path = {
    val dir = Paths.get(collectionDir)
    val manifest = dir.resolve(PromoteManifest)
    val tmp = dir.resolve("." + PromoteManifest + ".tmp")
    val body = staged.map(st =>
      s"""{"data":"${jesc(st.shardFile)}","stage":"${jesc(st.stagedFile)}"}""")
      .mkString("[", ",\n ", "]")
    // durability, not just atomicity: force the manifest bytes and the
    // directory entry to stable storage BEFORE any shard rename runs, so
    // a power loss mid-promote cannot reorder "some renames persisted"
    // ahead of "the manifest persisted" (which would leave a torn
    // promote with no roll-forward record)
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    try Files.move(tmp, manifest, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, manifest, StandardCopyOption.REPLACE_EXISTING)
    }
    fsyncDir(dir)
    manifest
  }

  /** Best-effort fsync of a directory so a just-completed rename's entry
    * is durable (POSIX requires the parent-dir fsync; some filesystems
    * refuse to open a directory channel — treat that as a no-op).
    */
  private def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** Roll an interrupted promote forward. For each manifest entry: a
    * still-existing stage file means its rename never ran — complete it;
    * a missing stage file means that shard already promoted (the rename
    * is atomic, there is no third state). A staged `.splits` side file
    * surviving alone (crash between the data and side renames) is also
    * moved into place. Idempotent, and safe under concurrent recovery: a
    * lost race on any rename means another recoverer just promoted that
    * shard. Returns true when a manifest was found and processed.
    *
    * CLAIM-then-process with UNIQUE claim names, never read-then-delete:
    * a recoverer atomically renames the record it will process to its
    * OWN `.recovering.<nonce>` file and only ever deletes that file —
    * so no recoverer can delete a record another one is processing.
    * (A fixed `.recovering` name was still racy one level down: a stale
    * recoverer that had read the shared claim could delete it by name
    * AFTER a newer commit's manifest had been claimed into it, erasing
    * that commit's roll-forward record.) A claim abandoned by a crashed
    * — or merely slow — recoverer is taken over the same way: the
    * atomic rename guarantees one owner per record, entries are
    * idempotent under re-processing, and the slow owner's eventual
    * delete of its own (now gone) file is a harmless no-op. A record is
    * deleted only by an owner that completed every entry.
    */
  def recoverPromote(collectionDir: String): Boolean = {
    val dir = Paths.get(collectionDir)
    val manifest = dir.resolve(PromoteManifest)
    var did = false
    // 1. take over abandoned (or in-flight) claims
    val leftovers =
      try {
        val s = Files.list(dir)
        try {
          val it = s.iterator()
          val buf = List.newBuilder[Path]
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.startsWith(RecoveringManifest)) buf += p
          }
          buf.result()
        } finally s.close()
      } catch { case _: java.io.IOException => Nil }
    for (p <- leftovers; own <- claimTo(p, dir))
      did = processManifestFile(own) || did
    // 2. claim the canonical manifest; a lost rename race means another
    //    recoverer owns it — not ours
    if (Files.exists(manifest))
      for (own <- claimTo(manifest, dir))
        did = processManifestFile(own) || did
    did
  }

  /** Atomically take ownership of a promote record under a fresh unique
    * name; None = someone else won the race (or it was already gone).
    */
  private def claimTo(src: Path, dir: Path): Option[Path] = {
    val own = dir.resolve(
      RecoveringManifest + "." + java.util.UUID.randomUUID().toString.take(8))
    try { Files.move(src, own, StandardCopyOption.ATOMIC_MOVE); Some(own) }
    catch {
      case _: java.nio.file.NoSuchFileException => None
      case _: java.nio.file.FileAlreadyExistsException => None
    }
  }

  /** Roll every entry of one manifest file forward, then delete it.
    * Concurrency-safe: entries tolerate lost rename races, and the file
    * is deleted only after ALL entries completed, so a record never
    * disappears before its renames are done.
    */
  private def processManifestFile(f: Path): Boolean = {
    if (!Files.exists(f)) return false
    val body =
      try Files.readString(f)
      catch { case _: java.nio.file.NoSuchFileException => return false }
    Entry.findAllMatchIn(body).foreach { m =>
      val data = junesc(m.group(1))
      val stage = junesc(m.group(2))
      if (Files.exists(Paths.get(stage))) {
        try promote(Staged(-1, data, stage, BulkResult.empty))
        catch { case _: java.nio.file.NoSuchFileException => () }
      } else {
        // data rename done; a crash may still have orphaned the side file
        moveOrphanedSideFile(data, stage)
      }
    }
    Files.deleteIfExists(f)
    true
  }

  val PromoteManifest = "_promote.json"
  val RecoveringManifest = "_promote.json.recovering"

  private val Entry =
    """\{"data":"((?:[^"\\]|\\.)*)","stage":"((?:[^"\\]|\\.)*)"\}""".r

  private def jesc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  private def junesc(s: String): String =
    """\\(.)""".r.replaceAllIn(s,
      m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  /** Delete every stage file of a job (losing speculative attempts,
    * failed applies) under the collection dir.
    */
  def cleanupStages(collectionDir: String, jobTag: String): Unit = {
    val dir = Paths.get(collectionDir)
    if (Files.isDirectory(dir)) {
      val stream = Files.list(dir)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val f = it.next()
          val n = f.getFileName.toString
          if (n.startsWith(s".apply-$jobTag-") ||
              n.startsWith(s"..apply-$jobTag-")) // stage .splits side files
            Files.deleteIfExists(f)
        }
      } finally stream.close()
    }
  }

  private def readSeg(f: String): Iterator[(Long, BDoc)] =
    BsonFiles.readAll(f).map { d =>
      val seq = d.get("__seq") match {
        case Some(BInt64(n)) => n
        case _ => 0L
      }
      (seq, BDoc(d.fields.removed("__seq")))
    }

  /** Merge two (seq, doc) streams ascending by seq (both are written in
    * seq order, so this is a single-pass two-iterator merge).
    */
  private def mergeBySeq(a: BufferedIterator[(Long, BDoc)],
      b: BufferedIterator[(Long, BDoc)]): Iterator[(Long, BDoc)] =
    new Iterator[(Long, BDoc)] {
      override def hasNext: Boolean = a.hasNext || b.hasNext
      override def next(): (Long, BDoc) =
        if (!b.hasNext) a.next()
        else if (!a.hasNext) b.next()
        else if (a.head._1 <= b.head._1) a.next()
        else b.next()
    }

  /** Apply a bulk of write models in order against one shard file and
    * commit atomically (single-caller convenience: stage + promote).
    * `ordered = false` continues past per-model errors (duplicate keys)
    * and reports them in the result — the reference's unordered-bulk
    * semantics (MongoConfigUtil.isBulkOrdered:645-647).
    */
  def applyModels(dataPath: Path, models: Iterator[WriteModel],
      ordered: Boolean, shardTag: Int = 0): BulkResult = {
    val staged = newStagePath(dataPath)
    val res = applyToStage(dataPath, staged, models, ordered, shardTag)
    promote(Staged(shardTag, dataPath.toString, staged.toString, res))
    res
  }

  private val stageCounter = new java.util.concurrent.atomic.AtomicLong()

  /** A process-unique stage-file name next to `dataPath` (counter-based,
    * so concurrent local applies on the same shard never clobber).
    */
  def newStagePath(dataPath: Path): Path =
    dataPath.resolveSibling(
      s".apply-local-${stageCounter.incrementAndGet()}-${dataPath.getFileName}")

  /** Delete a stage file and its .splits side file. */
  def discardStage(staged: Path): Unit = {
    Files.deleteIfExists(staged)
    Files.deleteIfExists(staged.resolveSibling("." + staged.getFileName + ".splits"))
  }

  /** The core apply: read the base shard, fold the models, write the new
    * contents to `staged` (plus its .splits side file) WITHOUT touching
    * the base. On any thrown error the partial stage file is deleted.
    */
  def applyToStage(dataPath: Path, staged: Path, models: Iterator[WriteModel],
      ordered: Boolean, shardTag: Int): BulkResult = try {
    Files.createDirectories(dataPath.getParent)
    // load current shard state: insertion-ordered, keyed by _id where present
    val byId = mutable.LinkedHashMap[BsonValue, BDoc]()
    val anonymous = mutable.ArrayBuffer[BDoc]()
    if (Files.exists(dataPath))
      BsonFiles.readAll(dataPath.toString).foreach { d =>
        d.get("_id") match {
          case Some(id) => byId(id) = d
          case None => anonymous += d
        }
      }
    var inserted = 0L
    var matched = 0L
    var modified = 0L
    var upserted = 0L
    val errors = Seq.newBuilder[String]

    def allDocs: Iterator[BDoc] = byId.valuesIterator ++ anonymous.iterator

    models.foreach {
      case InsertOne(doc) =>
        doc.get("_id") match {
          case Some(id) =>
            if (BsonCollection.idLookups(id).exists(byId.contains)) {
              if (ordered) throw new IllegalStateException(s"duplicate key _id=$id on insert")
              else errors += s"duplicate key _id=$id"
            } else {
              byId(id) = doc
              inserted += 1
            }
          case None =>
            anonymous += doc
            inserted += 1
        }

      case UpdateOp(UpdateModel(query, update, upsert, multi, replace)) =>
        // point-update fast path: an _id-equality conjunct routes through
        // the byId map (O(1)) instead of scanning every doc per model —
        // the write path's keyed update/upsert modes all hit this
        val hits = BsonCollection.idEquality(query) match {
          case Some(id) =>
            BsonCollection.idLookups(id).flatMap(byId.get)
              .filter(query.matches).toVector
          case None => allDocs.filter(query.matches).toVector
        }
        val targets = if (multi) hits else hits.take(1)
        if (targets.isEmpty) {
          if (upsert) {
            val seed = Updates.upsertSeed(query, update)
            val withId = if (seed.get("_id").isEmpty)
              BDoc(ListMap("_id" -> BObjectId(freshObjectId(shardTag))) ++ seed.fields)
            else seed
            byId(withId.get("_id").get) = withId
            upserted += 1
          }
        } else {
          targets.foreach { old =>
            matched += 1
            val next =
              if (replace || !Updates.isModifierUpdate(update)) {
                // replacement preserves the matched doc's _id
                old.get("_id") match {
                  case Some(id) => BDoc(ListMap("_id" -> id) ++ update.fields.removed("_id"))
                  case None => update
                }
              } else Updates.applyModifiers(old, update)
            if (next != old) modified += 1
            old.get("_id") match {
              case Some(id) => byId(id) = next
              case None =>
                val idx = anonymous.indexOf(old)
                if (idx >= 0) anonymous(idx) = next
            }
          }
        }
    }

    BsonFiles.write(staged.toString, allDocs)
    BulkResult(inserted, matched, modified, upserted, errors.result())
  } catch {
    case e: Throwable =>
      discardStage(staged)
      throw e
  }

  private val oidCounter = new java.util.concurrent.atomic.AtomicLong()
  // 5-byte per-process random, the published ObjectId layout's
  // machine/process component: two JVMs generating upsert ids in the same
  // second can never collide (the old shard-index-only discriminator
  // collided across processes)
  private val processRandom: Long =
    new java.security.SecureRandom().nextLong() & 0xffffffffffL

  /** Generated upsert ids follow the ObjectId layout: 4-byte seconds +
    * 5-byte process random + 3-byte counter.
    */
  private def freshObjectId(shard: Int): String = {
    val c = oidCounter.incrementAndGet() & 0xffffffL
    f"${(System.currentTimeMillis() / 1000).toInt}%08x$processRandom%010x$c%06x"
  }
}
