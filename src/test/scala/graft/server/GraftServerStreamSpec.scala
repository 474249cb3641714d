package graft.server

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

/** The streaming TAILING read over the server transport
  * ([[GraftServerMicroBatchStream]]): earliest/latest starts, exactly-
  * once batch boundaries across restarts from the checkpoint, admission
  * control via `max_docs_per_batch`, multi-namespace union, filter
  * pushdown riding the per-batch cursors, and offset JSON round-trip.
  */
class GraftServerStreamSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-server-stream").toString

  private def serverOpts(dir: String, ns: String): Map[String, String] =
    Map("server_dir" -> dir, "ns" -> ns)

  private def writeDocs(dir: String, ns: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "s").write.format("graftserver")
      .options(serverOpts(dir, ns)).option("id_column", "k")
      .mode("append").save()
  }

  /** Drain the stream with AvailableNow through a foreachBatch sink
    * (checkpoint-recoverable, unlike the memory sink); returns the _id
    * keys read, and optionally records non-empty batch sizes.
    */
  private def drain(dir: String, ns: String, ckpt: String,
      extra: Map[String, String] = Map.empty,
      batchSizes: Option[scala.collection.mutable.Buffer[Long]] = None): Seq[Long] = {
    val keys = scala.collection.mutable.Buffer.empty[Long]
    val q = spark.readStream.format("graftserver")
      .options(serverOpts(dir, ns) ++ extra)
      .schema("_id LONG, s STRING")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = df.collect().map(_.getLong(0))
        keys.synchronized { keys ++= ks }
        batchSizes.foreach(buf =>
          if (ks.nonEmpty) buf.synchronized { buf += ks.length.toLong })
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    keys.toSeq
  }

  test("earliest start drains the existing collection; restart reads only new docs") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDocs(dir, "db.tail", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val first = drain(dir, "db.tail", ckpt).sorted
    assert(first == Seq(1L, 2L, 3L))
    // append two more docs, restart from the SAME checkpoint: the
    // committed high-water mark means exactly the new docs arrive
    writeDocs(dir, "db.tail", Seq((4L, "d"), (5L, "e")))
    val second = drain(dir, "db.tail", ckpt).sorted
    assert(second == Seq(4L, 5L),
      s"restart must resume past the committed offset, got $second")
  }

  test("stream_start=latest skips pre-existing docs") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDocs(dir, "db.lat", Seq((1L, "old"), (2L, "old")))
    assert(drain(dir, "db.lat", ckpt, Map("stream_start" -> "latest")).isEmpty,
      "latest start must see nothing yet")
    writeDocs(dir, "db.lat", Seq((3L, "new")))
    assert(drain(dir, "db.lat", ckpt, Map("stream_start" -> "latest")) == Seq(3L))
  }

  test("max_docs_per_batch bounds every micro-batch via admission control") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDocs(dir, "db.cap", (1L to 7L).map(i => (i, s"d$i")))
    val sizes = scala.collection.mutable.Buffer.empty[Long]
    drain(dir, "db.cap", ckpt, Map("max_docs_per_batch" -> "3"), Some(sizes))
    assert(sizes.forall(_ <= 3L), s"batch over cap: $sizes")
    assert(sizes.sum == 7L, s"every doc exactly once: $sizes")
    assert(sizes.length >= 3, s"cap=3 over 7 docs needs >=3 batches: $sizes")
  }

  test("multi-namespace union tails both collections with independent offsets") {
    val dir = freshDir()
    val ckpt = freshDir()
    writeDocs(dir, "db.a", Seq((1L, "a1"), (2L, "a2")))
    writeDocs(dir, "db.b", Seq((10L, "b1")))
    assert(drain(dir, "db.a,db.b", ckpt).sorted == Seq(1L, 2L, 10L))
    writeDocs(dir, "db.b", Seq((11L, "b2")))
    assert(drain(dir, "db.a,db.b", ckpt) == Seq(11L), "only db.b advanced")
  }

  test("filters ride the per-batch cursor query") {
    import spark.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    writeDocs(dir, "db.f", Seq((1L, "keep"), (2L, "drop"), (3L, "keep")))
    val q = spark.readStream.format("graftserver")
      .options(serverOpts(dir, "db.f"))
      .schema("_id LONG, s STRING")
      .load()
      .filter($"s" === "keep")
      .writeStream.format("memory").queryName("filt")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("filt").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("the _ns metadata column streams with each row's namespace") {
    import spark.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    writeDocs(dir, "db.m1", Seq((1L, "a"), (2L, "b")))
    writeDocs(dir, "db.m2", Seq((3L, "c")))
    val q = spark.readStream.format("graftserver")
      .options(serverOpts(dir, "db.m1,db.m2"))
      .schema("_id LONG, s STRING")
      .load()
      .select($"_id", $"_ns")
      .writeStream.format("memory").queryName("nsmeta")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("nsmeta").as[(Long, String)].collect().sorted.toSeq ==
      Seq(1L -> "db.m1", 2L -> "db.m1", 3L -> "db.m2"))
  }

  test("offset JSON round-trips, including namespaces with dots") {
    val o = ServerStreamOffset(Map("db.coll" -> 42L, "db2.c" -> -1L))
    assert(ServerStreamOffset.fromJson(o.json) == o)
    assert(o.json == "{\"db.coll\":42,\"db2.c\":-1}")
  }

  test("a non-numeric stream key fails loudly, not silently") {
    import spark.implicits._
    val dir = freshDir()
    val ckpt = freshDir()
    Seq(("x1", 1L)).toDF("sk", "v").write.format("graftserver")
      .options(serverOpts(dir, "db.bad")).option("id_column", "sk")
      .mode("append").save()
    val q = spark.readStream.format("graftserver")
      .options(serverOpts(dir, "db.bad"))
      .schema("_id STRING, v LONG")
      .load()
      .writeStream.format("memory").queryName("bad")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("must be numeric")),
      s"got ${messages(e)}")
  }

  test("native streaming SINK: epochs bulkWrite as they run; keyed upsert absorbs a replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = freshDir()
    val ckpt = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.sink")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "s")
      .writeStream.format("graftserver").options(opts)
      .option("mode", "upsert").option("keys", "_id")
      .option("id_column", "k")
      .option("checkpointLocation", ckpt)
      .start()
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    in.addData((2L, "B"), (3L, "c")) // upsert: key 2 overwritten
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("graftserver").options(opts)
      .schema("_id LONG, s STRING").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")), s"got $got")
    // a replayed epoch under keyed upsert is idempotent: re-run the last
    // batch's rows through a fresh writer — the store is unchanged
    val sw = new GraftServerStreamingWrite(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))),
      opts + ("mode" -> "upsert", "keys" -> "_id", "id_column" -> "k"))
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 1L)
    Seq((2L, "B"), (3L, "c")).foreach { case (k, v) =>
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        k, org.apache.spark.unsafe.types.UTF8String.fromString(v)))
    }
    sw.commit(1L, Array(w.commit()))
    val after = spark.read.format("graftserver").options(opts)
      .schema("_id LONG, s STRING").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(after == got, s"keyed replay must be idempotent: $after")
  }
}
