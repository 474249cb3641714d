package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.BsonFiles
import graft.query.BQuery
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Runtime (dynamic) filtering: Spark hands the scan the join-key values
  * observed on the other side of a join; the scan answers with fewer
  * partitions (key-range pruning, shard routing) and narrowed rows. The
  * interface contract is exercised directly — the same calls
  * BatchScanExec makes — plus an end-to-end join equivalence check.
  */
class RuntimeFilterSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-rtf").toString

  private def inPredicate(col: String, vs: Seq[Any], dt: DataType): Predicate =
    new Predicate("IN",
      (Expressions.column(col) +: vs.map(v => Bridge.v2Literal(v, dt))).toArray)

  private def scanFor(dir: String, opts: Map[String, String]): GraftScan = {
    val schema = StructType(Seq(
      StructField("_id", LongType), StructField("v", IntegerType)))
    new GraftScan(ScanSpec(schema), opts + ("path" -> dir), FileTransport)
  }

  test("key-range partitions prune to the runtime IN-set") {
    val dir = freshDir()
    val docs = (0 until 4000).map(i =>
      BDoc("_id" -> BInt64(i.toLong), "v" -> BInt32(i % 7)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    val scan = scanFor(dir, Map("splitter" -> "sample", "split_size" -> "8192"))
    val before = scan.planInputPartitions().length
    assert(before > 4, s"need several key-range partitions, got $before")
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("_id"))

    scan.filter(Array(inPredicate("_id", Seq(5L, 6L), LongType)))
    val after = scan.planInputPartitions().length
    assert(after < before, s"no pruning: $before -> $after")
    assert(after >= 1)

    // narrowed rows: every kept partition's query now carries the IN-set
    val part = scan.planInputPartitions().head.asInstanceOf[GraftInputPartition]
    assert(part.query.matches(BDoc("_id" -> BInt64(5L), "v" -> BInt32(5))))
    assert(!part.query.matches(BDoc("_id" -> BInt64(999L), "v" -> BInt32(5))))
  }

  test("sharded collections route a runtime _id IN-set to owning shards") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 400L).map(i => (i, s"u$i")).toDF("_id", "name")
      .write.format("graftbson").option("shards", "8")
      .mode("append").save(dir)
    val schema = StructType(Seq(
      StructField("_id", LongType), StructField("name", StringType)))
    val scan = new GraftScan(ScanSpec(schema), Map("path" -> dir), FileTransport)
    val before = scan.planInputPartitions().length
    assert(before >= 8, s"expected >=8 shard partitions, got $before")
    scan.filter(Array(inPredicate("_id", Seq(17L, 18L), LongType)))
    val after = scan.planInputPartitions().length
    assert(after <= 2, s"two ids must route to at most two shards, got $after")
  }

  test("a hex-string runtime value keeps partitions holding its ObjectId form") {
    // ObjectId storage READS as its hex string: pruning by a string value
    // must keep the oid-bracket partition that holds the matching doc
    val hex = "0123456789abcdef01234567"
    val r = BQuery.KeyRange("_id",
      Some(BObjectId("0" * 24)), Some(BObjectId("f" * 24)))
    assert(Planners.rangeMayHoldReadEq(r, BString(hex)))
    assert(!r.containsValue(BString(hex)),
      "string bracket sorts outside the oid bounds; only the probe keeps it")
    // and a plain string range keeps plain string values
    val rs = BQuery.KeyRange("k", Some(BString("a")), Some(BString("m")))
    assert(Planners.rangeMayHoldReadEq(rs, BString("ab")))
    assert(!Planners.rangeMayHoldReadEq(rs, BString("z")))
  }

  test("unparseable predicates and pushed limit/offset disable narrowing") {
    val dir = freshDir()
    val docs = (0 until 2000).map(i =>
      BDoc("_id" -> BInt64(i.toLong), "v" -> BInt32(i % 7)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    val scan = scanFor(dir, Map("splitter" -> "sample", "split_size" -> "8192"))
    val before = scan.planInputPartitions().length
    // a predicate shape we do not understand must not prune anything
    scan.filter(Array(new Predicate("ALWAYS_TRUE", Array.empty)))
    assert(scan.planInputPartitions().length == before)

    val limited = new GraftScan(
      ScanSpec(StructType(Seq(StructField("_id", LongType), StructField("v", IntegerType))),
        limit = Some(10)),
      Map("path" -> dir, "splitter" -> "sample", "split_size" -> "8192"), FileTransport)
    assert(limited.filterAttributes().isEmpty,
      "pushed limit counts unfiltered rows; runtime narrowing must be off")
    limited.filter(Array(inPredicate("_id", Seq(5L), LongType)))
    assert(limited.planInputPartitions().length == before,
      "runtime values must be ignored under a pushed limit")
  }

  test("end-to-end: Spark injects dynamic pruning into the scan and results are exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    (0L until 3000L).map(i => (i, (i % 11).toInt)).toDF("_id", "v")
      .write.format("graftbson").option("shards", "6")
      .mode("append").save(dir)
    // a SELECTIVE dim-side filter is what PartitionPruning keys on
    val dim = spark.range(0, 3000).toDF("k").filter($"k" % 1666 === 51)
    val fact = spark.read.format("graftbson").load(dir)
    val joined = fact.join(dim, fact("_id") === dim("k")).select($"_id", $"v")
    val rows = joined.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows == Set((51L, 7), (1717L, 1)), s"got $rows")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"expected Spark to hand the scan a dynamic-pruning runtime filter; plan:\n$plan")
  }
}
