package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.BsonFiles

import java.nio.file.Files

/** Skip/offset pushdown (the mongo.input.skip analog): accepted ONLY on a
  * provably single-partition scan — Spark deletes an accepted OFFSET from
  * the plan, so a multi-partition acceptance would silently skip N rows
  * PER partition.
  */
class OffsetPushdownSpec extends SparkSpec {

  private def fixture(n: Int): String = {
    val dir = Files.createTempDirectory("graft-off").toString
    BsonFiles.write(s"$dir/data.bson",
      (0 until n).iterator.map(i => BDoc("_id" -> BInt32(i), "v" -> BInt32(i * 2))))
    dir
  }

  test("builder accepts offset only for splitter=single with one file") {
    val dir = fixture(10)
    val single = new GraftScanBuilder(null,
      Map("path" -> dir, "splitter" -> "single"), FileTransport)
    assert(single.pushOffset(3))

    val multi = new GraftScanBuilder(null, Map("path" -> dir), FileTransport) // default: byte splits
    assert(!multi.pushOffset(3))

    val collections = new GraftScanBuilder(null,
      Map("path" -> dir, "splitter" -> "single",
        "collections" -> s"""[{"path": "$dir"}]"""), FileTransport)
    assert(!collections.pushOffset(3))
  }

  test("reader applies offset before limit, after the per-partition sort") {
    val dir = fixture(100)
    val p = GraftInputPartition(s"$dir/data.bson", 0L, Long.MaxValue,
      graft.query.BQuery.True, limit = Some(5), sortKey = Some("_id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.IntegerType)))
    val r = new GraftPartitionReader(p, ScanSpec(schema, offset = Some(10)))
    val got = Iterator.continually(r).takeWhile(_.next()).map(_.get().getInt(0)).toList
    r.close()
    assert(got === (10 until 15).toList)
  }

  test("offset through the dataframe API returns exact rows (single partition)") {
    val dir = fixture(50)
    val df = spark.read.format("graftbson")
      .option("splitter", "single").option("sort", "_id").load(dir)
    val got = df.offset(40).collect().map(_.getAs[Int]("_id")).sorted
    assert(got.toSeq === (40 until 50).toSeq)
  }
}
