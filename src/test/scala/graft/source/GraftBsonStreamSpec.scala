package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.BsonFiles
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

/** The file-landing streaming read ([[GraftBsonMicroBatchStream]]):
  * new dump files stream in by lexicographic path order with a single
  * high-water-path offset — earliest/latest starts, restart
  * exactly-once from the checkpoint, `max_files_per_batch` admission
  * control, split parallelism within a batch, filter pushdown into the
  * batch readers, and offset JSON round-trip (incl. escaping).
  */
class GraftBsonStreamSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-bson-stream").toString

  private def writeDump(dir: String, name: String, rows: Seq[(Long, String)]): Unit =
    BsonFiles.write(s"$dir/$name",
      rows.iterator.map { case (k, s) =>
        BDoc("_id" -> BInt64(k), "s" -> BString(s))
      })

  private def drain(dir: String, ckpt: String,
      extra: Map[String, String] = Map.empty,
      batchFiles: Option[scala.collection.mutable.Buffer[Long]] = None,
      filterS: Option[String] = None): Seq[Long] = {
    import spark.implicits._
    val keys = scala.collection.mutable.Buffer.empty[Long]
    var reader = spark.readStream.format("graftbson")
      .options(extra).option("path", dir)
      .schema("_id LONG, s STRING")
      .load()
    filterS.foreach(v => reader = reader.filter($"s" === v))
    val q = reader.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = df.collect().map(_.getLong(0))
        keys.synchronized { keys ++= ks }
        batchFiles.foreach(buf =>
          if (ks.nonEmpty) buf.synchronized { buf += ks.length.toLong })
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    keys.toSeq
  }

  test("earliest start drains existing dumps; restart picks up only newer-sorting files") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDump(dir, "dump-001.bson", Seq((1L, "a"), (2L, "b")))
    writeDump(dir, "dump-002.bson", Seq((3L, "c")))
    assert(drain(dir, ckpt).sorted == Seq(1L, 2L, 3L))
    writeDump(dir, "dump-003.bson", Seq((4L, "d")))
    assert(drain(dir, ckpt) == Seq(4L),
      "restart must resume past the committed high-water path")
  }

  test("stream_start=latest skips pre-existing dumps") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDump(dir, "dump-001.bson", Seq((1L, "old")))
    assert(drain(dir, ckpt, Map("stream_start" -> "latest")).isEmpty)
    writeDump(dir, "dump-002.bson", Seq((2L, "new")))
    assert(drain(dir, ckpt, Map("stream_start" -> "latest")) == Seq(2L))
  }

  test("max_files_per_batch bounds each micro-batch") {
    val dir = freshDir()
    val ckpt = freshDir()
    (1 to 5).foreach(i => writeDump(dir, f"dump-$i%03d.bson", Seq((i.toLong, s"d$i"))))
    val sizes = scala.collection.mutable.Buffer.empty[Long]
    val keys = drain(dir, ckpt, Map("max_files_per_batch" -> "2"), Some(sizes))
    assert(keys.sorted == (1L to 5L), s"every doc exactly once: $keys")
    assert(sizes.forall(_ <= 2L), s"batch over cap (1 doc/file): $sizes")
    assert(sizes.length >= 3, s"cap=2 over 5 files needs >=3 batches: $sizes")
  }

  test("a batch over one big dump gets byte-split parallelism") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDump(dir, "dump-001.bson",
      (1L to 2000L).map(i => (i, "x" * 100)))
    var parts = 0
    val q = spark.readStream.format("graftbson")
      .option("path", dir).option("split_size", "16384")
      .schema("_id LONG, s STRING")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        parts = math.max(parts, df.rdd.getNumPartitions)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(parts > 1, s"one dump must still split, got $parts partition(s)")
  }

  test("filters ride the per-batch split readers") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDump(dir, "dump-001.bson",
      Seq((1L, "keep"), (2L, "drop"), (3L, "keep")))
    assert(drain(dir, ckpt, filterS = Some("keep")).sorted == Seq(1L, 3L))
  }

  test("the _file metadata column streams with each row's dump file") {
    import spark.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    writeDump(dir, "dump-001.bson", Seq((1L, "a"), (2L, "b")))
    writeDump(dir, "dump-002.bson", Seq((3L, "c")))
    val q = spark.readStream.format("graftbson").option("path", dir)
      .schema("_id LONG, s STRING")
      .load()
      .select($"_id", $"_file")
      .writeStream.format("memory").queryName("filemeta")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("filemeta").as[(Long, String)].collect()
      .map { case (k, f) => k -> new java.io.File(f).getName }.sorted.toSeq
    assert(got == Seq(1L -> "dump-001.bson", 2L -> "dump-001.bson", 3L -> "dump-002.bson"))
  }

  test("offset JSON round-trips, including quotes and backslashes in paths") {
    val o = FileTailOffset("""/tmp/we"ird\path/dump-1.bson""")
    assert(FileTailOffset.fromJson(o.json) == o)
    assert(FileTailOffset.fromJson(FileTailOffset("").json) == FileTailOffset(""))
  }

  test("native streaming SINK: per-epoch two-phase commit into the collection") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = freshDir()
    val ckpt = freshDir()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("_id", "s")
      .writeStream.format("graftbson")
      .option("path", dir).option("shards", "2")
      .option("checkpointLocation", ckpt)
      .start()
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    in.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("graftbson")
      .schema("_id LONG, s STRING").load(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // epoch markers recorded under the query's id; pending dirs swept
    assert(Files.list(java.nio.file.Paths.get(dir, ".graft-stream-epochs",
      q.id.toString)).count() >= 2)

    // restart with the same checkpoint: nothing replays into the store
    val q2 = in.toDF().toDF("_id", "s")
      .writeStream.format("graftbson")
      .option("path", dir).option("checkpointLocation", ckpt)
      .start()
    in.addData((4L, "d"))
    q2.processAllAvailable()
    q2.stop()
    val after = spark.read.format("graftbson")
      .schema("_id LONG, s STRING").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(1L, 2L, 3L, 4L), s"got $after")
  }

  test("native streaming SINK: a replayed epoch commit is a durable no-op") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val schema = StructType(Seq(StructField("_id", LongType),
      StructField("s", StringType)))
    val opts = Map("path" -> dir, "shards" -> "1")
    val sw = new GraftStreamingWrite(schema, "unit-q", opts)
    val factory = sw.createStreamingWriterFactory(null)
    def writeEpoch(epoch: Long, rows: Seq[(Long, String)]): Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val w = factory.createWriter(0, 0L, epoch)
      rows.foreach { case (k, v) =>
        w.write(org.apache.spark.sql.catalyst.InternalRow(
          k, org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      }
      Array(w.commit())
    }
    sw.commit(7L, writeEpoch(7L, Seq((1L, "x"), (2L, "y"))))
    // Spark replays the last epoch after recovery: same id, fresh
    // segments — the marker must turn it into a no-op, not a dup apply
    sw.commit(7L, writeEpoch(7L, Seq((1L, "x"), (2L, "y"))))
    val got = spark.read.format("graftbson")
      .schema("_id LONG, s STRING").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L), s"replay must not re-apply: $got")
    // and the replay's pending dir is swept
    assert(!Files.exists(java.nio.file.Paths.get(dir, ".graft-pending", "unit-q-e7")))
  }

  test("streaming SINK: marker rides the promote manifest — crash mid-promote rolls forward, replay no-ops") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val schema = StructType(Seq(StructField("_id", LongType)))
    val opts = Map("path" -> dir, "shards" -> "1")
    val sw = new GraftStreamingWrite(schema, "crash-q", opts)
    val factory = sw.createStreamingWriterFactory(null)
    def writeEpoch(epoch: Long, keys: Seq[Long]): Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val w = factory.createWriter(0, 0L, epoch)
      keys.foreach(k => w.write(org.apache.spark.sql.catalyst.InternalRow(k)))
      Array(w.commit())
    }
    sw.commit(1L, writeEpoch(1L, Seq(1L, 2L)))

    // simulate a coordinator crash DURING epoch 2's promote: the staged
    // shard file, the staged marker, and the _promote.json manifest are
    // on disk, but NO rename ran yet (the exact window the r12 ADVICE
    // flagged — pre-fix, the marker was created after promotion, so a
    // crash here replayed the epoch's rows into the store a second time)
    val shard = graft.store.BsonCollection.shardPath(dir, 1, 0)
    val staged = shard.resolveSibling(".apply-crash-" + shard.getFileName)
    val newDoc = graft.bson.BsonCodec.encode(
      graft.bson.BDoc("_id" -> graft.bson.BInt64(3L)))
    Files.write(staged, Files.readAllBytes(shard) ++ newDoc)
    val marker = java.nio.file.Paths.get(dir, ".graft-stream-epochs", "crash-q", "e2")
    val stagedMarker = marker.resolveSibling(".e2.stage-crash")
    Files.createDirectories(marker.getParent)
    Files.createFile(stagedMarker)
    graft.store.ShardApply.writeManifest(dir, Seq(
      graft.store.ShardApply.Staged(0, shard.toString, staged.toString,
        graft.store.BulkResult.empty),
      graft.store.ShardApply.Staged(-1, marker.toString, stagedMarker.toString,
        graft.store.BulkResult.empty)))

    // Spark replays epoch 2 after the "crash": the commit must roll the
    // interrupted promote forward (data AND marker in one transaction),
    // see the marker, and drop the replay — never re-apply
    sw.commit(2L, writeEpoch(2L, Seq(3L)))
    assert(Files.exists(marker), "roll-forward must create the epoch marker")
    assert(!Files.exists(staged) && !Files.exists(stagedMarker))
    val got = spark.read.format("graftbson")
      .schema("_id LONG").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      s"epoch 2 must land exactly once across the crash: $got")
  }

  test("streaming SINK: stale staged-marker files are swept at replay and at commit (r14)") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val schema = StructType(Seq(StructField("_id", LongType)))
    val opts = Map("path" -> dir, "shards" -> "1")
    val sw = new GraftStreamingWrite(schema, "leak-q", opts)
    val factory = sw.createStreamingWriterFactory(null)
    def writeEpoch(epoch: Long, keys: Seq[Long]): Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val w = factory.createWriter(0, 0L, epoch)
      keys.foreach(k => w.write(org.apache.spark.sql.catalyst.InternalRow(k)))
      Array(w.commit())
    }
    // a coordinator crash BETWEEN Files.createFile(stagedMarker) and
    // promoteAll leaves an orphaned empty stage file and no manifest —
    // pre-r14, nothing ever deleted it (cleanupStages sweeps only
    // .apply-* names in the collection dir, not the epoch-marker dir)
    val epochDir = java.nio.file.Paths.get(dir, ".graft-stream-epochs", "leak-q")
    Files.createDirectories(epochDir)
    val orphan1 = epochDir.resolve(".e1.stage-deadbeef")
    Files.createFile(orphan1)
    // fresh attempt of epoch 1 commits normally → its own stage promotes,
    // the crashed attempt's orphan is swept after the commit
    sw.commit(1L, writeEpoch(1L, Seq(1L)))
    assert(Files.exists(epochDir.resolve("e1")))
    assert(!Files.exists(orphan1),
      "commit must sweep the crashed attempt's staged-marker leftovers")
    // replay path sweeps too: orphan for an ALREADY-promoted epoch
    val orphan2 = epochDir.resolve(".e1.stage-cafebabe")
    Files.createFile(orphan2)
    sw.commit(1L, writeEpoch(1L, Seq(1L)))
    assert(!Files.exists(orphan2),
      "a replayed epoch must sweep stale staged markers for its id")
    val got = spark.read.format("graftbson")
      .schema("_id LONG").load(dir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"sweeps must not affect the data: $got")
  }

  test("streaming SINK: a second query into the same collection keeps its own epochs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = freshDir()
    def run(ckpt: String, batches: Seq[Seq[(Long, String)]]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("_id", "s")
        .writeStream.format("graftbson")
        .option("path", dir).option("checkpointLocation", ckpt)
        .start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
    }
    // query A writes epochs 0 and 1; query B (another checkpoint) starts
    // at epoch 0 again — a marker keyed by epoch alone took B's epoch 0
    // for a replay of A's and dropped it
    run(freshDir(), Seq(Seq((1L, "a")), Seq((2L, "b"))))
    run(freshDir(), Seq(Seq((3L, "c"))))
    val got = spark.read.format("graftbson")
      .schema("_id LONG, s STRING").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"got $got")
  }
}
