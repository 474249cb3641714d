package graft.server

import graft.bson._
import graft.query.BQuery
import graft.source.{GraftReaderFactory, ScanSpec}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** Structured Streaming READ source over the server transport: an
  * append-only TAILING scan by a monotonically-increasing numeric key —
  * the micro-batch spelling of the tailable-cursor / oplog-follow
  * ingest a live pipeline runs to feed training data continuously.
  * (The reference is batch-only; this is catalog surplus built on
  * Spark's own streaming contract.)
  *
  * ==Contract==
  *  - `stream_key` (default `_id`) must be numeric (int32/int64 stored;
  *    compared under the cross-type [[BQuery.KeyRange]] order, so mixed
  *    int32/int64 storage is fine) and strictly increasing for NEW
  *    documents: a doc inserted with a key at or below the committed
  *    offset is never seen — the standard tailing contract (ObjectIds
  *    satisfy it approximately; an insert-time sequence exactly).
  *    Documents with a missing/non-numeric key are never streamed.
  *  - Offsets are per-namespace high-water marks (the last INCLUDED
  *    key), checkpoint-serialized as a flat JSON object. Batches read
  *    `(start, end]` per namespace, so restarts neither lose nor repeat
  *    documents.
  *  - `stream_start` = `earliest` (default: everything already in the
  *    collection forms the first batch) or `latest` (only documents
  *    arriving after the query starts).
  *  - `max_docs_per_batch` bounds a micro-batch via admission control
  *    ([[SupportsAdmissionControl]]): the capped end offset is found by
  *    ONE `skip(cap).limit(1)` probe cursor per namespace — the key of
  *    the first EXCLUDED doc, minus one — so a cold start over a huge
  *    collection drains in bounded batches instead of one giant one.
  *    Distinct keys guarantee per-batch progress of at least one doc.
  *  - Pushed filters ride the per-batch cursor query exactly as in the
  *    batch scan; pushed limit/offset/top-n/aggregates are refused
  *    ([[graft.source.GraftScan.toMicroBatchStream]] guards — their
  *    row-count semantics don't compose with an unbounded stream); rows
  *    read through the shared [[GraftReaderFactory]], and `_ns` names
  *    each row's namespace.
  */
final class GraftServerMicroBatchStream(spec: ScanSpec, options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val key = options.getOrElse("stream_key", "_id")
  private val nss = GraftServerSource.nsList(options)

  // ---- offsets ----------------------------------------------------------

  /** Sentinel meaning "nothing consumed yet" (every real key exceeds it;
    * a key of Long.MinValue itself is out of contract). */
  private val Floor = Long.MinValue

  private def toMap(o: Offset): Map[String, Long] =
    o.asInstanceOf[ServerStreamOffset].high

  override def initialOffset(): Offset = {
    val high = options.get("stream_start") match {
      case Some("latest") =>
        GraftServerSource.withClient(options) { (client, _) =>
          nss.map(ns => ns -> maxKey(client, ns, Floor).getOrElse(Floor)).toMap
        }
      case None | Some("earliest") => nss.map(_ -> Floor).toMap
      case Some(other) => throw new IllegalArgumentException(
        s"stream_start must be earliest|latest, got $other")
    }
    ServerStreamOffset(high)
  }

  override def deserializeOffset(json: String): Offset =
    ServerStreamOffset.fromJson(json)

  // ---- probes -----------------------------------------------------------

  private def keyAfter(after: Long): BQuery =
    BQuery.KeyRange(key,
      Some(BInt64(if (after == Long.MaxValue) after else after + 1)), None)

  private def numericKey(d: BDoc, ns: String): Long =
    d.getPath(key).flatMap(QueryDocs.asLong).getOrElse(
      throw new IllegalArgumentException(
        s"graftserver stream: $ns.$key must be numeric to tail, " +
          s"got ${d.getPath(key)}"))

  /** Highest key strictly above `after`, via one sorted limit-1 probe
    * (the index walk a MAX runs) — None when no new docs exist.
    */
  private def maxKey(client: ServerClient, ns: String, after: Long): Option[Long] =
    client.find(ns, Find(keyAfter(after), projection = Some(Seq(key)),
        sortAscBy = Some(key), limit = 1L, sortDescending = true))
      .toSeq.headOption.map(numericKey(_, ns))

  /** End offset admitting at most `cap` docs above `after`: the key of
    * the doc at ascending position `cap` (the first excluded one) minus
    * one; when fewer than `cap` docs exist, the plain max.
    */
  private def cappedEnd(client: ServerClient, ns: String, after: Long,
      cap: Int): Option[Long] =
    client.find(ns, Find(keyAfter(after), projection = Some(Seq(key)),
        sortAscBy = Some(key), skip = cap.toLong, limit = 1L))
      .toSeq.headOption match {
      case Some(d) => Some(numericKey(d, ns) - 1)
      case None => maxKey(client, ns, after)
    }

  // ---- admission control ------------------------------------------------

  /** Trigger.AvailableNow target: the high-water mark captured at query
    * start. Implementing [[SupportsTriggerAvailableNow]] ourselves (vs
    * Spark's default wrapper, which collapses everything into ONE batch)
    * keeps `max_docs_per_batch` honored: batches stay capped and the
    * query ends once the captured target is reached.
    */
  @volatile private var availableNowTarget: Map[String, Long] = null

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = GraftServerSource.withClient(options) { (client, _) =>
      nss.map(ns => ns -> maxKey(client, ns, Floor).getOrElse(Floor)).toMap
    }

  override def getDefaultReadLimit: ReadLimit =
    options.get("max_docs_per_batch") match {
      case Some(n) => ReadLimit.maxRows(n.toLong)
      case None => ReadLimit.allAvailable()
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = toMap(start)
    val cap: Option[Int] = limit match {
      case m: ReadMaxRows =>
        Some(math.max(1L, m.maxRows() / nss.size).min(Int.MaxValue).toInt)
      case _ => None
    }
    val high = GraftServerSource.withClient(options) { (client, _) =>
      nss.map { ns =>
        val after = s.getOrElse(ns, Floor)
        var end = (cap match {
          case Some(c) => cappedEnd(client, ns, after, c)
          case None => maxKey(client, ns, after)
        }).getOrElse(after)
        // under Trigger.AvailableNow, never pass the captured target
        if (availableNowTarget != null)
          end = math.max(after, math.min(end, availableNowTarget.getOrElse(ns, after)))
        ns -> end
      }.toMap
    }
    ServerStreamOffset(high)
  }

  // ---- batch planning ---------------------------------------------------

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (toMap(start), toMap(end))
    nss.flatMap { ns =>
      val (lo, hi) = (s.getOrElse(ns, Floor), e.getOrElse(ns, Floor))
      if (hi <= lo) None
      else Some(GraftServerPartition(ns, BQuery.KeyRange(key,
        Some(BInt64(lo + 1)),
        if (hi == Long.MaxValue) None else Some(BInt64(hi + 1))),
        Seq.empty, spec.query): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new GraftReaderFactory(spec, options, ServerTransport)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Per-namespace high-water marks (last included key). JSON shape is a
  * flat object `{"db.coll": 123, ...}`, stable-ordered for checkpoint
  * diffability.
  */
final case class ServerStreamOffset(high: Map[String, Long]) extends Offset {
  override def json: String =
    high.toSeq.sortBy(_._1)
      .map { case (ns, v) => "\"" + ns + "\":" + v }
      .mkString("{", ",", "}")
}

object ServerStreamOffset {
  private val Entry = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r

  def fromJson(json: String): ServerStreamOffset =
    ServerStreamOffset(
      Entry.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong).toMap)
}
