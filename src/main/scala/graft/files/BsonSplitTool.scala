package graft.files

import java.nio.file.{Files, Paths}

/** Standalone pre-split tool: cut a BSON dump into per-split files at doc
  * boundaries, optionally gzip-compressing each — the CLI surface of the
  * reference's BSONSplitter Tool (core/.../splitter/BSONSplitter.run:477-585).
  * Documents are copied as their checked frames, one at a time, never
  * decoded.
  *
  * Usage: BsonSplitTool <input.bson> <outDir> [targetSplitBytes] [gzip]
  */
object BsonSplitTool {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BsonSplitTool <input.bson> <outDir> [splitBytes] [gzip]")
    val input = args(0)
    val outDir = args(1)
    val target = if (args.length > 2) args(2).toLong else 8L * 1024 * 1024
    val gzip = args.length > 3 && args(3) == "gzip"
    val n = run(input, outDir, target, gzip)
    println(s"wrote $n split files to $outDir")
  }

  def run(input: String, outDir: String, targetSplitBytes: Long, gzip: Boolean): Int = {
    Files.createDirectories(Paths.get(outDir))
    val name = Paths.get(input).getFileName.toString.stripSuffix(".bson")
    var parts = 0
    var part: BsonFiles.Appender = null
    var bytes = 0L
    val in = BsonFiles.frames(input, 0L)
    try {
      var frame = in.nextFrame()
      while (frame != null) {
        if (part != null && bytes + frame.length > targetSplitBytes) { part.close(); part = null }
        if (part == null) {
          part = new BsonFiles.Appender(
            f"$outDir/$name-part-$parts%05d.bson" + (if (gzip) ".gz" else ""))
          parts += 1
          bytes = 0L
        }
        part.appendFrame(frame)
        bytes += frame.length
        frame = in.nextFrame()
      }
    } finally {
      in.close()
      if (part != null) part.close()
    }
    parts
  }
}
