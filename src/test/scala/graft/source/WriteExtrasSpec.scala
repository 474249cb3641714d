package graft.source

import graft.SparkSpec
import graft.bson._
import graft.store.BsonCollection

import java.nio.file.Files

/** Write-side column remapping and the time-bucketed streaming sink
  * (the BucketedMongoDBSink analog).
  */
class WriteExtrasSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-wx").toString

  test("write-side column_mapping renames columns into (dotted) doc fields") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, 10, "a"), (2, 20, "b")).toDF("_id", "score", "tag")
      .write.format("graftbson")
      .option("column_mapping", """{"score": "meta.score", "tag": "label"}""")
      .mode("append").save(dir)
    val docs = new BsonCollection(dir).readAll().toSeq.sortBy(_.get("_id").toString)
    assert(docs.head.getPath("meta.score").contains(BInt32(10)))
    assert(docs.head.get("label").contains(BString("a")))
    assert(docs.head.get("score").isEmpty && docs.head.get("tag").isEmpty)
    // round-trip: the read-side mapping inverts it
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_id", IntegerType), StructField("score", IntegerType)))
    val back = spark.read.format("graftbson").schema(schema)
      .option("column_mapping", """{"score": "meta.score"}""").load(dir)
    assert(back.agg(org.apache.spark.sql.functions.sum("score")).head.getLong(0) === 30)
  }

  test("a chained or swapped write-side column_mapping keeps every value") {
    import spark.implicits._
    for (mapping <- Seq("""{"a": "b", "b": "c"}""", """{"a": "b", "b": "a"}""")) {
      val dir = freshDir()
      Seq((1, "A", "B")).toDF("_id", "a", "b").write.format("graftbson")
        .option("column_mapping", mapping).mode("append").save(dir)
      val back = spark.read.format("graftbson").schema("_id INT, a STRING, b STRING")
        .option("column_mapping", mapping).load(dir)
      assert(back.select($"a", $"b").as[(String, String)].collect().toSeq ==
        Seq(("A", "B")), mapping)
    }
  }

  test("write-side mapping applies before key extraction (keys in doc space)") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, 5)).toDF("k", "v")
      .write.format("graftbson")
      .option("column_mapping", """{"k": "_id"}""")
      .mode("append").save(dir)
    Seq((1, 7)).toDF("k", "v")
      .write.format("graftbson")
      .option("column_mapping", """{"k": "_id"}""")
      .option("mode", "upsert").option("update_op", "inc").option("keys", "_id")
      .mode("append").save(dir)
    val docs = new BsonCollection(dir).readAll().toSeq
    assert(docs.size === 1, "upsert must have matched the remapped _id")
    assert(docs.head.get("v").contains(BInt32(12)))
  }

  test("bucketed streaming sink routes micro-batch rows to per-bucket collections") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val base = freshDir()
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("_id", "ts")
    val q = graft.streaming.GraftStreaming.startBucketedCollectionSink(
      df, base, "ts", bucketFormat = "yyyy-MM-dd")
    input.addData(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-01 23:59:59")),
      (3L, java.sql.Timestamp.valueOf("2024-03-02 00:00:01")))
    q.processAllAvailable()
    input.addData((4L, java.sql.Timestamp.valueOf("2024-03-02 12:00:00")))
    q.processAllAvailable()
    q.stop()
    def ids(bucket: String): Seq[Long] =
      new BsonCollection(s"$base/$bucket").readAll()
        .flatMap(_.get("_id")).collect { case BInt64(v) => v }.toSeq.sorted
    assert(ids("2024-03-01") === Seq(1L, 2L))
    assert(ids("2024-03-02") === Seq(3L, 4L))
  }
}
