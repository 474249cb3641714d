package graft.files

import graft.bson.{BDoc, BsonCodec}

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPOutputStream

/** BSON dump-file IO: sequential doc writer with an optional `.splits`
  * side file of doc-boundary offsets, and a reader that can open at an
  * arbitrary byte offset and resync to the next document boundary.
  *
  * Behavior modeled on the reference's BSON split machinery
  * (core/.../splitter/BSONSplitter.java:222-437 — boundary snapping,
  * side-file cache; core/.../input/BSONFileRecordReader.java:95-223 —
  * positioned reads), re-expressed as plain JVM IO for Spark partitions.
  */
object BsonFiles {

  val MaxDocSize: Int = 16 * 1024 * 1024 // BSON spec document cap
  val MinDocSize: Int = 5

  /** A dump whose framing is broken at `offset`: a length header outside
    * [MinDocSize, MaxDocSize], a document running past the end of its
    * file, or a header or body cut short at the end (a torn tail). */
  final class CorruptBsonException(val path: String, val offset: Long, detail: String)
      extends java.io.IOException(s"corrupt BSON doc header at $offset in $path ($detail)")

  /** The one reader of a dump's framing: a buffered stream at a document
    * boundary that reads each 4-byte length header, checks it, and then
    * hands the frame (header included) out or skips it. An uncompressed
    * file's documents must end inside it (its size is re-read once before
    * such a document fails, so a read racing an append sees the appended
    * document whole); a compressed stream has no known length
    * (`Long.MaxValue`).
    */
  final class Frames private[BsonFiles] (path: String, in: java.io.InputStream,
      start: Long, channel: java.nio.channels.FileChannel) extends AutoCloseable {
    private val head = new Array[Byte](4)
    private var at = start
    private var headers = 0L
    private var size = if (channel == null) Long.MaxValue else channel.size()

    /** Offset of the next frame. */
    def pos: Long = at
    /** Length of the file, `Long.MaxValue` for a compressed stream. */
    def length: Long = size
    /** Headers read so far (= frames returned or skipped). */
    def headersRead: Long = headers
    override def close(): Unit = in.close()

    private def corrupt(detail: String) = new CorruptBsonException(path, at, detail)

    private def fill(b: Array[Byte], off: Int, n: Int): Int =
      try in.readNBytes(b, off, n)
      catch { case e: java.io.EOFException => throw corrupt(s"torn tail: ${e.getMessage}") }

    /** The next frame's checked length, its header consumed; -1 at the end. */
    private def header(): Int = {
      if (at >= size) return -1
      val got = fill(head, 0, 4)
      if (got == 0 && channel == null) return -1
      if (got < 4) throw corrupt(s"torn tail: $got of 4 header bytes")
      headers += 1
      val len = (head(0) & 0xff) | ((head(1) & 0xff) << 8) |
        ((head(2) & 0xff) << 16) | ((head(3) & 0xff) << 24)
      if (len < MinDocSize || len > MaxDocSize) throw corrupt(s"len=$len")
      if (at + len > size) {
        if (channel != null) size = channel.size()
        if (at + len > size) throw corrupt(s"len=$len runs past the end of the file at $size")
      }
      len
    }

    /** The next document's bytes, length header included; null at the end. */
    def nextFrame(): Array[Byte] = {
      val len = header()
      if (len < 0) return null
      val frame = new Array[Byte](len)
      System.arraycopy(head, 0, frame, 0, 4)
      if (fill(frame, 4, len - 4) < len - 4)
        throw corrupt(s"torn tail: document of $len bytes cut short")
      at += len
      frame
    }

    /** Skip the next document; false at the end. */
    def skipFrame(): Boolean = {
      val len = header()
      if (len < 0) return false
      try in.skipNBytes(len - 4)
      catch { case _: java.io.EOFException => throw corrupt(s"torn tail: document of $len bytes cut short") }
      at += len
      true
    }
  }

  /** Frames of `path` from the boundary `from`. A compressed dump is one
    * stream, read from its start only. */
  private[files] def frames(path: String, from: Long, buffer: Int = 1 << 20): Frames =
    if (isCompressed(path)) {
      require(from == 0L, s"compressed BSON is unsplittable, got start=$from")
      new Frames(path, codecStream(path, new BufferedInputStream(
        Files.newInputStream(Paths.get(path)), buffer)), 0L, null)
    } else {
      val fin = new FileInputStream(path)
      fin.getChannel.position(from)
      new Frames(path, new BufferedInputStream(fin, buffer), from, fin.getChannel)
    }

  /** Decode one frame, byte-skipping what `proj` leaves out. */
  private[graft] def decode(frame: Array[Byte], proj: BsonCodec.Proj): BDoc =
    BsonCodec.readDocProjected(ByteBuffer.wrap(frame).order(ByteOrder.LITTLE_ENDIAN), proj)

  /** Incremental dump writer: append docs one at a time with bounded
    * memory (the write path must never buffer a partition's worth of rows
    * — reference: MongoRecordWriter streams to its temp file,
    * core/.../output/MongoRecordWriter.java:49-120). `close()` finalizes
    * the side file; a `.gz` path is written gzipped, with no side file.
    */
  final class Appender(path: String, splitsEvery: Int = 64) {
    private val compressed = isCompressed(path)
    require(!compressed || path.endsWith(".gz"), s"only gzip dumps are written, got $path")
    private val out: OutputStream = {
      val file = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
      if (compressed) new GZIPOutputStream(file, 1 << 16) else file
    }
    private val offsets = Vector.newBuilder[Long]
    private var pos = 0L
    private var n = 0L

    def append(d: BDoc): Unit = appendFrame(BsonCodec.encode(d))

    /** Append one encoded document, length header included, as is. */
    def appendFrame(frame: Array[Byte]): Unit = {
      if (!compressed && n % splitsEvery == 0) offsets += pos
      out.write(frame)
      pos += frame.length
      n += 1
    }

    def count: Long = n

    def close(): Long = {
      out.close()
      if (!compressed) writeSplitsFile(path, offsets.result())
      n
    }
  }

  /** Write docs to `path`; returns the doc count. The side file
    * ([[sideFile]]) stores one offset per `splitsEvery` docs.
    */
  def write(path: String, docs: Iterator[BDoc], splitsEvery: Int = 64): Long = {
    val app = new Appender(path, splitsEvery)
    try docs.foreach(app.append)
    finally app.close()
    app.count
  }

  /** The side file of a data file: `.{name}.splits` next to it. */
  def sideFile(path: Path): Path =
    path.resolveSibling("." + path.getFileName + SideSuffix)

  private val SideSuffix = ".splits"

  /** The data file name a side file's `name` belongs to; any other name
    * is returned as it is. */
  def dataFileName(name: String): String =
    if (name.startsWith(".") && name.endsWith(SideSuffix))
      name.substring(1, name.length - SideSuffix.length)
    else name

  /** Delete a data file and its side file. */
  def deleteWithSideFile(path: Path): Unit = {
    Files.deleteIfExists(path)
    Files.deleteIfExists(sideFile(path))
  }

  private def writeSplitsFile(path: String, offsets: Vector[Long]): Unit = {
    val buf = ByteBuffer.allocate(offsets.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    offsets.foreach(buf.putLong)
    Files.write(sideFile(Paths.get(path)), buf.array())
  }

  def readSplitsFile(path: String): Option[Vector[Long]] = {
    val sp = sideFile(Paths.get(path))
    if (!Files.exists(sp)) None
    else {
      val bytes = Files.readAllBytes(sp)
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val out = Vector.newBuilder[Long]
      while (buf.remaining() >= 8) out += buf.getLong
      Some(out.result())
    }
  }

  /** What a dump's framing tells without decoding a body: the start of
    * every `stride`-th document (empty for a compressed dump, which has
    * no random access), the document count, and how many headers were
    * read to learn them. */
  final case class Layout(stride: Int, offsets: Vector[Long], count: Long, headersRead: Long)

  /** The dump's [[Layout]]. With a side file: its offsets, the stride
    * found by walking the first segment (a writer's `splitsEvery` is not
    * recorded), and the tail walked from the last offset — two bounded
    * header walks. Without one: one header walk over the whole file,
    * stride 1. Bodies are skipped, never decoded.
    */
  def layout(path: String): Layout =
    (if (isCompressed(path)) None else readSplitsFile(path).filter(_.nonEmpty)) match {
      case Some(offs) =>
        val tail = walk(path, offs.last, Long.MaxValue).headersRead
        val stride = if (offs.size == 1) tail else walk(path, offs(0), offs(1)).headersRead
        Layout(stride.toInt, offs, (offs.size - 1) * stride + tail,
          if (offs.size == 1) tail else stride + tail)
      case None =>
        val starts = if (isCompressed(path)) null else Vector.newBuilder[Long]
        val n = walk(path, 0L, Long.MaxValue, starts).headersRead
        Layout(1, if (starts == null) Vector.empty else starts.result(), n, n)
    }

  /** Number of documents in a dump ([[layout]]): the stats source for
    * collStats-style sizing and a bare COUNT(*). */
  def countDocs(path: String): Long = layout(path).count

  /** Skip documents from the boundary `from` while they start before
    * `until`, adding each start to `starts` when given; returns the
    * closed reader (its `pos` and `headersRead`). */
  private def walk(path: String, from: Long, until: Long,
      starts: scala.collection.mutable.Builder[Long, Vector[Long]] = null): Frames = {
    val f = frames(path, from)
    try {
      var more = true
      while (more && f.pos < until) {
        val at = f.pos
        more = f.skipFrame()
        if (more && starts != null) starts += at
      }
      f
    } finally f.close()
  }

  /** The frame of the single document starting at a KNOWN boundary offset
    * (no resync walk — callers pass an offset from [[layout]]). */
  def frameAt(path: String, offset: Long): Array[Byte] = {
    val f = frames(path, offset, 1 << 13)
    try {
      val frame = f.nextFrame()
      if (frame == null) throw new CorruptBsonException(path, offset, "no document at this offset")
      frame
    } finally f.close()
  }

  /** Decode the single document starting at a KNOWN boundary offset. */
  def readDocAt(path: String, offset: Long): BDoc =
    decode(frameAt(path, offset), BsonCodec.Proj.All)

  /** First document boundary at or after `target`: a header walk from the
    * last side-file offset before it, else from the start of the file.
    */
  def startingPosition(path: String, target: Long): Long = {
    val fileLen = Files.size(Paths.get(path))
    if (target <= 0) 0L
    else if (target >= fileLen) fileLen
    else {
      val from = readSplitsFile(path).flatMap(_.takeWhile(_ < target).lastOption)
      walk(path, from.getOrElse(0L), target).pos
    }
  }

  /** Doc iterator that owns an OS resource: callers that may stop early
    * (limit pushdown, task kill) must call `close()` — exhaustion also
    * closes, so fully-drained iterators need no extra handling.
    */
  trait CloseableDocIterator extends Iterator[BDoc] with AutoCloseable

  /** Iterate docs whose START offset lies in [start, end). The reader may
    * read past `end` to finish the last document (standard split rule).
    * With `fields` set, non-listed fields are byte-skipped during decode
    * (projection pushdown into the decoder); entries may be DOTTED paths
    * — `"a.small"` decodes only that subfield of subdocument `a`, the
    * sibling subfields' bytes are never materialized
    * ([[BsonCodec.Proj]]). A compressed dump is UNSPLITTABLE — one split
    * from 0 covering the whole stream, `end` ignored (the reference's
    * rule, BSONFileInputFormat.java:56-64,106-113).
    */
  def readRange(path: String, start: Long, end: Long,
      fields: Option[Set[String]] = None): CloseableDocIterator = {
    // one trie per iterator, not per document
    val proj = fields.fold[BsonCodec.Proj](BsonCodec.Proj.All)(BsonCodec.Proj.fromPaths)
    val compressed = isCompressed(path)
    // split reads are SEQUENTIAL: one positioned stream + a 1 MiB buffer
    val in = frames(path, if (compressed) start else startingPosition(path, start))
    val limit = if (compressed) Long.MaxValue else math.min(end, in.length)
    new CloseableDocIterator {
      private var frame: Array[Byte] = null
      private var closed = false
      override def close(): Unit = if (!closed) { in.close(); closed = true }
      override def hasNext: Boolean = {
        if (frame == null && !closed && in.pos < limit) frame = in.nextFrame()
        if (frame == null) close()
        frame != null
      }
      override def next(): BDoc = {
        if (!hasNext) throw new NoSuchElementException(s"no document at ${in.pos} in $path")
        val f = frame
        frame = null
        decode(f, proj)
      }
    }
  }

  def readAll(path: String): CloseableDocIterator = readRange(path, 0L, Long.MaxValue)

  /** Compression codecs by file extension — the CompressionCodecFactory
    * analog (reference: BSONFileInputFormat.java:56-64 detects any
    * configured Hadoop codec). All are JVM-local decoders: gzip/deflate
    * from the JDK, bzip2/snappy/lz4/xz from commons-compress, zstd via
    * zstd-jni — every codec a standard Spark distribution ships.
    */
  val codecExtensions: Seq[String] =
    Seq(".gz", ".bz2", ".snappy", ".lz4", ".zst", ".zstd", ".xz", ".deflate")

  def isCompressed(path: String): Boolean =
    codecExtensions.exists(path.endsWith)

  private def codecStream(path: String, raw: java.io.InputStream): java.io.InputStream = {
    import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
    import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream
    import org.apache.commons.compress.compressors.snappy.FramedSnappyCompressorInputStream
    import org.apache.commons.compress.compressors.xz.XZCompressorInputStream
    import org.apache.commons.compress.compressors.zstandard.ZstdCompressorInputStream
    if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
    else if (path.endsWith(".bz2")) new BZip2CompressorInputStream(raw, true)
    else if (path.endsWith(".snappy")) new FramedSnappyCompressorInputStream(raw)
    else if (path.endsWith(".lz4")) new FramedLZ4CompressorInputStream(raw, true)
    else if (path.endsWith(".zst") || path.endsWith(".zstd")) new ZstdCompressorInputStream(raw)
    else if (path.endsWith(".xz")) new XZCompressorInputStream(raw, true)
    else if (path.endsWith(".deflate")) new java.util.zip.InflaterInputStream(raw)
    else throw new IllegalArgumentException(s"no codec for $path")
  }

  /** Byte-range splits at `targetSize`, ends snapped later by the reader's
    * boundary resync (split rule: a doc belongs to the split containing
    * its first byte).
    */
  def planByteSplits(path: String, targetSize: Long): Seq[(Long, Long)] = {
    val len = Files.size(Paths.get(path))
    if (len == 0) Seq.empty
    else if (isCompressed(path)) Seq((0L, Long.MaxValue)) // unsplittable
    else {
      val n = math.max(1L, (len + targetSize - 1) / targetSize)
      (0L until n).map(i => (i * targetSize, math.min((i + 1) * targetSize, len)))
    }
  }
}
