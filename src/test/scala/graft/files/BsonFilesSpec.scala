package graft.files

import graft.SparkSpec
import graft.bson._
import graft.source.FileStats
import graft.store.BsonCollection

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

class BsonFilesSpec extends SparkSpec {

  private def mkDocs(n: Int): Seq[BDoc] =
    (0 until n).map(i => BDoc(
      "_id" -> BInt64(i.toLong),
      "name" -> BString(s"doc-$i-" + ("x" * (i % 37))),
      "v" -> BDouble(i * 0.5)))

  private def tempFile(): String =
    Files.createTempFile("bsonfiles", ".bson").toString

  test("write + readAll round-trips; splits side file written") {
    val path = tempFile()
    val docs = mkDocs(500)
    assert(BsonFiles.write(path, docs.iterator) == 500)
    assert(BsonFiles.readAll(path).toSeq == docs)
    assert(BsonFiles.readSplitsFile(path).exists(_.nonEmpty))
  }

  test("byte splits cover every doc exactly once (boundary resync via side file)") {
    val path = tempFile()
    val docs = mkDocs(1000)
    BsonFiles.write(path, docs.iterator)
    for (splitSize <- Seq(256L, 1024L, 4096L, 1 << 20)) {
      val splits = BsonFiles.planByteSplits(path, splitSize)
      val all = splits.flatMap { case (s, e) => BsonFiles.readRange(path, s, e) }
      assert(all == docs, s"splitSize=$splitSize lost or duplicated docs")
    }
  }

  test("boundary resync works WITHOUT the side file (scan-and-validate)") {
    val path = tempFile()
    val docs = mkDocs(300)
    BsonFiles.write(path, docs.iterator)
    val p = Paths.get(path)
    Files.delete(p.resolveSibling("." + p.getFileName + ".splits"))
    val splits = BsonFiles.planByteSplits(path, 512L)
    val all = splits.flatMap { case (s, e) => BsonFiles.readRange(path, s, e) }
    assert(all == docs)
  }

  test("startingPosition lands exactly on doc boundaries") {
    val path = tempFile()
    val docs = mkDocs(50)
    BsonFiles.write(path, docs.iterator, splitsEvery = 8)
    val bounds = boundaries(docs)
    val side = BsonFiles.sideFile(Paths.get(path))
    for (withSide <- Seq(true, false)) {
      if (!withSide) Files.delete(side)
      for (target <- 0L to bounds.last) {
        val pos = BsonFiles.startingPosition(path, target)
        assert(pos === bounds.find(_ >= target).get,
          s"resync at $target (side file: $withSide) gave $pos")
      }
    }
  }

  /** Every doc start of `docs` written back to back, and the file's end. */
  private def boundaries(docs: Seq[BDoc]): Vector[Long] =
    docs.scanLeft(0L)(_ + BsonCodec.encode(_).length).toVector

  private def gzip(raw: Array[Byte], path: String): String = {
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(path)))
    try gz.write(raw) finally gz.close()
    path
  }

  test("every entry point agrees on well-formed dumps") {
    val cases: Seq[(String, Int, Option[Int])] = Seq( // (name, docs, side-file stride)
      ("stride 1", 300, Some(1)), ("stride 64", 300, Some(64)), ("stride 128", 300, Some(128)),
      ("no side file", 300, None), ("empty", 0, Some(64)), ("one doc", 1, Some(64)),
      ("gzip", 300, None))
    cases.foreach { case (name, n, stride) =>
      val dir = Files.createTempDirectory("graft-frames")
      val data = dir.resolve("data.bson")
      val docs = mkDocs(n)
      BsonFiles.write(data.toString, docs.iterator, splitsEvery = stride.getOrElse(64))
      // the writer's output is the encoded docs back to back
      assert(Files.readAllBytes(data) ===
        docs.flatMap(d => BsonCodec.encode(d).toSeq).toArray, name)
      val path =
        if (name == "gzip") gzip(Files.readAllBytes(data), data.toString + ".gz")
        else { if (stride.isEmpty) Files.delete(BsonFiles.sideFile(data)); data.toString }
      val counts = Seq(
        "countDocs" -> BsonFiles.countDocs(path),
        "FileStats.count" -> new FileStats(path, "_id").count,
        "readAll" -> BsonFiles.readAll(path).size.toLong) ++
        (if (name == "gzip") Nil
         else Seq("sizeStats" -> new BsonCollection(dir.toString).sizeStats()._2))
      counts.foreach { case (entry, c) => assert(c === n.toLong, s"$name: $entry") }
      if (name != "gzip") {
        val layout = BsonFiles.layout(path)
        val bounds = boundaries(docs).dropRight(1)
        val every = stride.getOrElse(1)
        assert(layout.offsets === bounds.grouped(every).map(_.head).toVector, name)
        if (n > every) assert(layout.stride === every, name)
      }
    }
  }

  /** Three 12-byte docs, then `tail` bytes; the side file covers the docs. */
  private def damaged(tail: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("graft-damaged")
    val data = dir.resolve("data.bson")
    BsonFiles.write(data.toString, (0 until 3).iterator.map(i => BDoc("a" -> BInt32(i))))
    assert(Files.size(data) === 36L)
    Files.write(data, tail, StandardOpenOption.APPEND)
    data
  }

  private def le(x: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(x).array()

  /** `body` fails with the named error at offset 36 of `path`, itself or
    * as a cause (a Spark job failure wraps its task's error). */
  private def failsAt36(path: Path, entry: String)(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val prefix = s"corrupt BSON doc header at 36 in $path"
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(prefix))),
      s"$entry: expected '$prefix', got $e")
  }

  private def everyEntryFails(data: Path): Unit = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT")
    failsAt36(data, "readAll")(BsonFiles.readAll(data.toString).toVector)
    failsAt36(data, "graftbson scan")(
      spark.read.format("graftbson").schema(schema).load(data.getParent.toString).collect())
    failsAt36(data, "countDocs")(BsonFiles.countDocs(data.toString))
    failsAt36(data, "FileStats.count")(new FileStats(data.toString, "_id").count)
    failsAt36(data, "sizeStats")(new BsonCollection(data.getParent.toString).sizeStats())
  }

  test("a corrupt length header is a named error, never an allocation of its length") {
    for (len <- Seq(Int.MaxValue - 15, 0); withSide <- Seq(true, false)) {
      val data = damaged(le(len) ++ Array.fill[Byte](8)(1))
      if (!withSide) Files.delete(BsonFiles.sideFile(data))
      everyEntryFails(data)
    }
  }

  test("a torn tail is a named error at every entry point, gzip included") {
    for (withSide <- Seq(true, false)) {
      val data = damaged(Array[Byte](7, 0))
      if (!withSide) Files.delete(BsonFiles.sideFile(data))
      everyEntryFails(data)
      failsAt36(data, "layout")(BsonFiles.layout(data.toString))
    }
    // a gzip stream whose fourth doc is cut short
    val data = damaged(BsonCodec.encode(BDoc("a" -> BInt32(3))).take(9))
    val gz = gzip(Files.readAllBytes(data), data.toString + ".gz")
    Files.delete(data)
    val gzPath = Paths.get(gz)
    failsAt36(gzPath, "readAll")(BsonFiles.readAll(gz).toVector)
    failsAt36(gzPath, "FileStats.count")(new FileStats(gz, "_id").count)
    failsAt36(gzPath, "countDocs")(BsonFiles.countDocs(gz))
  }

  test("BsonSplitTool copies frames: parts concatenate (or decompress) to the input") {
    val in = tempFile()
    BsonFiles.write(in, mkDocs(700).iterator)
    val raw = Files.readAllBytes(Paths.get(in))
    for (gz <- Seq(false, true)) {
      val out = Files.createTempDirectory("graft-split")
      val n = BsonSplitTool.run(in, out.toString, targetSplitBytes = 4096, gzip = gz)
      assert(n > 1)
      val name = Paths.get(in).getFileName.toString.stripSuffix(".bson")
      val parts = (0 until n).map { k =>
        val p = out.resolve(f"$name-part-$k%05d.bson" + (if (gz) ".gz" else ""))
        if (!gz) Files.readAllBytes(p)
        else {
          val z = new java.util.zip.GZIPInputStream(Files.newInputStream(p))
          try z.readAllBytes() finally z.close()
        }
      }
      assert(parts.forall(_.length <= 4096), "a part holds at most targetSplitBytes")
      assert(parts.flatMap(_.toSeq).toArray === raw, s"gzip=$gz")
    }
  }
  test("compressed dumps read sequentially; compressed = unsplittable") {
    val path = tempFile()
    val docs = mkDocs(400)
    BsonFiles.write(path, docs.iterator)
    // gzip it
    val gzPath = path + ".gz"
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(gzPath)))
    try gz.write(Files.readAllBytes(Paths.get(path))) finally gz.close()
    assert(BsonFiles.readAll(gzPath).toSeq == docs)
    assert(BsonFiles.planByteSplits(gzPath, 1024) == Seq((0L, Long.MaxValue)))
    intercept[IllegalArgumentException] {
      BsonFiles.readRange(gzPath, 100L, 200L)
    }
  }

  test("non-gzip codecs: bz2 / zstd / snappy / lz4 dumps round-trip, unsplittable") {
    import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
    import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream
    import org.apache.commons.compress.compressors.snappy.FramedSnappyCompressorOutputStream
    import org.apache.commons.compress.compressors.zstandard.ZstdCompressorOutputStream
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-codec").toString
    val docs = (1 to 200).map(i => BDoc("_id" -> BInt32(i), "s" -> BString("x" * i)))
    val plain = s"$dir/plain.bson"
    BsonFiles.write(plain, docs.iterator)
    val raw = Files.readAllBytes(Paths.get(plain))
    def emit(ext: String, wrap: java.io.OutputStream => java.io.OutputStream): String = {
      val out = s"$dir/dump.bson$ext"
      val os = wrap(Files.newOutputStream(Paths.get(out)))
      os.write(raw); os.close(); out
    }
    val files = Seq(
      emit(".bz2", new BZip2CompressorOutputStream(_)),
      emit(".zst", new ZstdCompressorOutputStream(_)),
      emit(".snappy", new FramedSnappyCompressorOutputStream(_)),
      emit(".lz4", new FramedLZ4CompressorOutputStream(_)))
    files.foreach { f =>
      assert(BsonFiles.isCompressed(f), f)
      val got = BsonFiles.readAll(f).toSeq
      assert(got === docs, s"round-trip mismatch for $f")
      assert(BsonFiles.planByteSplits(f, 1024L) === Seq((0L, Long.MaxValue)),
        s"compressed file must be one unsplittable split: $f")
    }
    // a dumped directory mixing codecs is picked up by the source listing
    Files.delete(Paths.get(plain))
    Files.deleteIfExists(Paths.get(s"$dir/.plain.bson.splits"))
    assert(graft.source.GraftBsonSource.dataFiles(dir).size === 4)
  }
}
