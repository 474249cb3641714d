package graft.source

import graft.files.BsonFiles
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** Structured Streaming READ over a BSON dump directory: new dump FILES
  * landing under `path` stream in as micro-batches — the ingest shape
  * of a landing zone where date-stamped dumps (`dump-2026-08-15.bson`)
  * are dropped periodically. The file-source analog of the server
  * transport's key-tailing stream.
  *
  * ==Contract==
  *  - A file is immutable once visible (the engine's own dump writer
  *    publishes by atomic rename; external producers must do the same)
  *    and every NEW file's path must sort lexicographically AFTER all
  *    processed files' paths — date-stamped or sequence-numbered names
  *    satisfy this. Files that sort at or below the committed
  *    high-water path are never picked up.
  *  - The offset is that single high-water PATH (bounded checkpoint
  *    state — no seen-file log to compact).
  *  - Batches read `(start, end]` by path order; each file is
  *    byte-split exactly like the batch scan (same `split_size`), so a
  *    batch over one huge dump still gets full split parallelism, and
  *    pushed filters ride each split's reader (the shared
  *    [[GraftReaderFactory]] over the scan's [[ScanSpec]]; `_file`
  *    names each row's dump file).
  *  - `max_files_per_batch` bounds a micro-batch (admission control via
  *    [[ReadMaxFiles]], the same limit class Spark's own file stream
  *    uses); Trigger.AvailableNow is implemented natively so caps hold
  *    and the query terminates at the start-time target.
  */
final class GraftBsonMicroBatchStream(spec: ScanSpec, options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val path = options.getOrElse("path",
    throw new IllegalArgumentException("path option required"))

  /** Sorts before every real path. */
  private val Floor = ""

  private def sortedFiles(): Seq[String] =
    GraftBsonSource.dataFiles(path).sorted

  private def toMark(o: Offset): String =
    o.asInstanceOf[FileTailOffset].maxPath

  override def initialOffset(): Offset =
    options.get("stream_start") match {
      case Some("latest") => FileTailOffset(sortedFiles().lastOption.getOrElse(Floor))
      case None | Some("earliest") => FileTailOffset(Floor)
      case Some(other) => throw new IllegalArgumentException(
        s"stream_start must be earliest|latest, got $other")
    }

  override def deserializeOffset(json: String): Offset =
    FileTailOffset.fromJson(json)

  // ---- admission control + AvailableNow target --------------------------

  @volatile private var availableNowTarget: String = null

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = sortedFiles().lastOption.getOrElse(Floor)

  override def getDefaultReadLimit: ReadLimit =
    options.get("max_files_per_batch") match {
      case Some(n) => ReadLimit.maxFiles(n.toInt)
      case None => ReadLimit.allAvailable()
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val mark = toMark(start)
    var fresh = sortedFiles().filter(_ > mark)
    if (availableNowTarget != null)
      fresh = fresh.filter(_ <= availableNowTarget)
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    FileTailOffset(admitted.lastOption.getOrElse(mark))
  }

  // ---- batch planning ---------------------------------------------------

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (lo, hi) = (toMark(start), toMark(end))
    val splitSize = options.get("split_size").map(_.toLong)
      .getOrElse(8L * 1024 * 1024)
    sortedFiles().filter(f => f > lo && f <= hi).flatMap { f =>
      BsonFiles.planByteSplits(f, splitSize).map { case (s, e) =>
        GraftInputPartition(f, s, e, spec.query): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new GraftReaderFactory(spec, options, FileTransport)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The single high-water path (last included file). */
final case class FileTailOffset(maxPath: String) extends Offset {
  override def json: String =
    "{\"maxPath\":\"" + maxPath.replace("\\", "\\\\").replace("\"", "\\\"") + "\"}"
}

object FileTailOffset {
  private val Entry = "\\{\\s*\"maxPath\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"\\s*\\}".r

  def fromJson(json: String): FileTailOffset = json match {
    case Entry(v) =>
      FileTailOffset(v.replace("\\\"", "\"").replace("\\\\", "\\"))
    case _ => throw new IllegalArgumentException(s"bad file-tail offset: $json")
  }
}
