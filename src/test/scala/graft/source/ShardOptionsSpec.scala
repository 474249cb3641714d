package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.BsonFiles

import java.nio.file.Files

/** Chunk/shard planning through the DSv2 OPTION surface: a deployment
  * hands the source its chunk map + shard hosts as JSON, partitions come
  * back range-scoped with locality — the full ShardChunkMongoSplitter
  * path end-to-end, not just the Planners unit API.
  */
class ShardOptionsSpec extends SparkSpec {

  private def fixture(): String = {
    val dir = Files.createTempDirectory("graft-shard").toString
    BsonFiles.write(s"$dir/data.bson",
      (0 until 300).iterator.map(i => BDoc("_id" -> BInt32(i), "v" -> BInt32(i))))
    dir
  }

  private val chunksJson =
    """[{"max": 100, "shard": "s0"},
      | {"min": 100, "max": 200, "shard": "s1"},
      | {"min": 200, "shard": "s2"}]""".stripMargin
  private val hostsJson =
    """{"s0": ["h0a", "h0b"], "s1": ["h1"], "s2": ["h2"]}"""

  test("chunks option plans one ranged partition per chunk with locality") {
    val dir = fixture()
    val scan = new GraftScan(ScanSpec(null),
      Map("path" -> dir, "splitter" -> "chunks",
        "chunks" -> chunksJson, "shard_hosts" -> hostsJson), FileTransport)
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftInputPartition])
    assert(parts.length === 3)
    assert(parts.map(_.preferredLocations().toSeq).toSeq ===
      Seq(Seq("h0a", "h0b"), Seq("h1"), Seq("h2")))
    // ranges compose into the per-partition query: counts partition the data
    val dirFile = s"$dir/data.bson"
    val counts = parts.map(p =>
      BsonFiles.readAll(dirFile).count(p.query.matches))
    assert(counts.toSeq === Seq(100, 200 - 100, 300 - 200))
  }

  test("chunked scan reads exactly the full collection through the dataframe API") {
    val dir = fixture()
    val df = spark.read.format("graftbson")
      .option("splitter", "chunks")
      .option("chunks", chunksJson).option("shard_hosts", hostsJson)
      .load(dir)
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 300)
    assert(df.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
      === (0 until 300).sum.toLong)
  }

  test("shard splitter: one unbounded partition per shard, hosts surfaced") {
    val dir = fixture()
    val scan = new GraftScan(ScanSpec(null),
      Map("path" -> dir, "splitter" -> "shard", "shard_hosts" -> hostsJson), FileTransport)
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftInputPartition])
    assert(parts.length === 3)
    assert(parts.flatMap(_.preferredLocations()).toSet === Set("h0a", "h0b", "h1", "h2"))
  }
}
