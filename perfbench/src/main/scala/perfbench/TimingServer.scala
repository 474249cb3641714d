package perfbench

import graft.bson.{BDoc, BsonValue}
import graft.query.BQuery
import graft.server.{DirServerFactory, Find, GroupAgg, LookupJoin, ServerClient, ServerClientFactory}
import graft.store.{BulkResult, WriteModel}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-method counters of the server layer: calls, busy time (the call
  * itself plus the time spent draining the iterator it returned) and docs
  * (documents returned, keys sampled, boundaries returned or write models
  * sent, by method).
  */
object ServerCalls {
  val Methods: Seq[String] = Seq("find", "groupAggregate", "lookupJoin",
    "unwoundRead", "sampleKeys", "collStats", "splitVector", "chunkRanges",
    "bulkWrite", "createIndex")

  final class Stat {
    val calls = new AtomicLong()
    val busyNs = new AtomicLong()
    val docs = new AtomicLong()
    def add(ns: Long, n: Long): Unit = {
      calls.incrementAndGet(); busyNs.addAndGet(ns); docs.addAndGet(n)
    }
  }

  val stats: Map[String, Stat] = Methods.map(_ -> new Stat).toMap
  val clientsCreated = new AtomicLong()
  private val open = ConcurrentHashMap.newKeySet[TimedIterator]()

  def reset(): Unit = {
    closeOpen()
    stats.values.foreach { s => s.calls.set(0); s.busyNs.set(0); s.docs.set(0) }
    clientsCreated.set(0)
  }

  /** Account iterators their consumer stopped reading early (a pushed
    * limit, a failed task). Called once an op's tasks are all done. */
  def closeOpen(): Unit = open.forEach(_.finish())

  /** Time a call that returns its whole result. */
  def timed[T](method: String)(count: T => Long)(call: => T): T = {
    val parent = Trace.current
    val t0 = System.nanoTime()
    val r = call
    val t1 = System.nanoTime()
    stats(method).add(t1 - t0, count(r))
    Trace.record(Span(Trace.newId(), parent, s"server.$method", Trace.currentOp, t0, t1))
    r
  }

  /** Time a cursor call: the call, then every hasNext/next on its result. */
  def cursor(method: String)(call: => Iterator[BDoc]): Iterator[BDoc] = {
    val parent = Trace.current
    val op = Trace.currentOp
    val t0 = System.nanoTime()
    val it = call
    val t = new TimedIterator(method, parent, op, t0, System.nanoTime() - t0, it)
    open.add(t)
    t
  }

  final class TimedIterator(method: String, parent: Long, op: String,
      startNs: Long, callNs: Long, inner: Iterator[BDoc]) extends Iterator[BDoc] {
    private var busy = callNs
    private var n = 0L
    private var last = startNs + callNs
    private var done = false

    override def hasNext: Boolean = {
      val t = System.nanoTime()
      val h = inner.hasNext
      last = System.nanoTime()
      busy += last - t
      if (!h) finish()
      h
    }

    override def next(): BDoc = {
      val t = System.nanoTime()
      val d = inner.next()
      last = System.nanoTime()
      busy += last - t
      n += 1
      d
    }

    def finish(): Unit = synchronized {
      if (!done) {
        done = true
        open.remove(this)
        stats(method).add(busy, n)
        Trace.record(Span(Trace.newId(), parent, s"server.$method", op, startNs, last))
      }
    }
  }
}

/** A [[ServerClient]] that times every call into `inner` and changes
  * nothing else: same arguments, same results, same close.
  */
final class TimingServerClient(inner: ServerClient) extends ServerClient with AutoCloseable {
  import ServerCalls.{cursor, timed}

  override def collStats(ns: String): ServerClient.CollStats =
    timed("collStats")((_: ServerClient.CollStats) => 0L)(inner.collStats(ns))

  override def find(ns: String, q: Find): Iterator[BDoc] =
    cursor("find")(inner.find(ns, q))

  override def sampleKeys(ns: String, key: String, n: Int): Seq[BsonValue] =
    timed("sampleKeys")((r: Seq[BsonValue]) => r.size.toLong)(inner.sampleKeys(ns, key, n))

  override def splitVector(ns: String, key: String, maxChunkBytes: Long): Option[Seq[BsonValue]] =
    timed("splitVector")((r: Option[Seq[BsonValue]]) => r.map(_.size.toLong).getOrElse(0L))(
      inner.splitVector(ns, key, maxChunkBytes))

  override def chunkRanges(ns: String, key: String): Seq[(Option[BsonValue], Option[BsonValue], Seq[String])] =
    timed("chunkRanges")(
      (r: Seq[(Option[BsonValue], Option[BsonValue], Seq[String])]) => r.size.toLong)(
      inner.chunkRanges(ns, key))

  override def bulkWrite(ns: String, models: Iterator[WriteModel], ordered: Boolean): BulkResult = {
    val batch = models.toVector
    timed("bulkWrite")((_: BulkResult) => batch.size.toLong)(
      inner.bulkWrite(ns, batch.iterator, ordered))
  }

  override def createIndex(ns: String, fields: Seq[String]): Unit =
    timed("createIndex")((_: Unit) => 0L)(inner.createIndex(ns, fields))

  override def groupAggregate(ns: String, query: BQuery, groupKeys: Seq[String],
      aggs: Seq[GroupAgg], unwind: Option[ServerClient.Unwind], postQuery: BQuery,
      computed: Seq[graft.query.ComputedCol]): Iterator[BDoc] =
    cursor("groupAggregate")(
      inner.groupAggregate(ns, query, groupKeys, aggs, unwind, postQuery, computed))

  override def unwoundRead(ns: String, query: BQuery, unwind: ServerClient.Unwind,
      postQuery: BQuery, sortSpec: Seq[(String, Boolean)], skip: Long, limit: Long,
      projection: Option[Seq[String]]): Iterator[BDoc] =
    cursor("unwoundRead")(
      inner.unwoundRead(ns, query, unwind, postQuery, sortSpec, skip, limit, projection))

  override def lookupJoin(ns: String, j: LookupJoin): Iterator[BDoc] =
    cursor("lookupJoin")(inner.lookupJoin(ns, j))

  override def close(): Unit = inner match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** `client_factory` for traced runs: [[DirServerFactory]]'s clients,
  * wrapped in [[TimingServerClient]]. */
final class TimingServerFactory extends ServerClientFactory {
  private val inner = new DirServerFactory
  override def create(options: Map[String, String]): ServerClient = {
    ServerCalls.clientsCreated.incrementAndGet()
    new TimingServerClient(inner.create(options))
  }
  override def liveTransport: Boolean = inner.liveTransport
}
