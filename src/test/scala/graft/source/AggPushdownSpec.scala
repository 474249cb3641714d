package graft.source

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Scan-level aggregate pushdown (SupportsPushDownAggregates) on
  * graftbson: only a bare COUNT(*) pushes. It reads each file's stored
  * doc count — the collstats analog — and must read ZERO document bodies
  * (proved here by corrupting a body and counting anyway). Every other
  * aggregate folds in Spark's partial and final aggregates over the
  * pruned, filter-pushed scan, and must agree with the same aggregate
  * over an in-memory DataFrame.
  */
class AggPushdownSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-aggpush").toString

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def pushedAgg(df: org.apache.spark.sql.DataFrame): Boolean =
    plan(df).contains("PushedGroupedAggregate")

  /** Whether the scan answers a bare COUNT(*) from stored doc counts. */
  private def bareCount(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.exists {
      case g: GraftScan => g.spec.bareCount
      case _ => false
    }

  test("count/min/max fold in Spark (only a bare COUNT(*) pushes) and match a row-scan aggregate") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 10L, 2.5), (2L, -3L, 9.0), (3L, 7L, -1.5), (4L, 0L, 4.25))
      .toDF("_id", "k", "v")
      .write.format("graftbson").option("shards", "3").mode("append").save(dir)
    val df = spark.read.format("graftbson").load(dir)
      .agg(count(lit(1)).as("n"), min($"k").as("mn"), max($"k").as("mx"),
        max($"v").as("mv"))
    assert(!pushedAgg(df), s"only a bare COUNT(*) pushes:\n${plan(df)}")
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ===
      ((4L, -3L, 10L, 9.0)))
  }

  test("COUNT(*)-only pushdown reads no document bodies") {
    import spark.implicits._
    val dir = freshDir()
    (1 to 200).map(i => (i.toLong, s"payload-$i")).toDF("_id", "s")
      .write.format("graftbson").mode("append").save(dir)
    // corrupt bytes INSIDE the first document's body (past the 4-byte
    // length header): any body decode now sees garbage type tags, but the
    // header walk / .splits count never looks there
    val data = Paths.get(dir, "data.bson")
    val ch = java.nio.channels.FileChannel.open(data, StandardOpenOption.WRITE)
    try ch.write(java.nio.ByteBuffer.wrap(Array.fill[Byte](8)(-1)), 6)
    finally ch.close()
    // explicit schema: inference itself samples documents (and would trip
    // on the corruption) — with it, the count-only path plans and runs
    // without a single body decode
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val df = spark.read.format("graftbson").schema(schema).load(dir)
      .agg(count(lit(1)).as("n"))
    assert(plan(df).contains("PushedGroupedAggregate: GLOBAL [count(*)]"))
    assert(bareCount(df))
    assert(df.head.getLong(0) === 200L,
      "pushed COUNT(*) must come from headers/side file, not body decode")
    // sanity: a real row scan over the same corrupted file DOES fail
    intercept[Throwable] {
      spark.read.format("graftbson").schema(schema).load(dir).collect()
    }
  }

  test("filters, group-by, and option queries refuse the stored count; Spark counts the rows") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 5L), (2L, 6L)).toDF("_id", "k")
      .write.format("graftbson").mode("append").save(dir)
    // the zero-IO stored count must refuse all three — side-file counts
    // ignore filters (the stored count would read 2) — and Spark counts
    // the filtered scan's rows instead
    val filtered = spark.read.format("graftbson").load(dir)
      .filter($"k" > 5L).agg(count(lit(1)).as("n"))
    assert(!bareCount(filtered))
    assert(!pushedAgg(filtered), plan(filtered))
    assert(filtered.head.getLong(0) === 1L)
    val grouped = spark.read.format("graftbson").load(dir)
      .groupBy($"k").agg(count(lit(1)).as("n"))
    assert(!bareCount(grouped))
    assert(!pushedAgg(grouped), plan(grouped))
    assert(grouped.count() === 2L)
    val optionQ = spark.read.format("graftbson")
      .option("query", """{"k": 5}""").load(dir).agg(count(lit(1)).as("n"))
    assert(!bareCount(optionQ))
    assert(!pushedAgg(optionQ), plan(optionQ))
    assert(optionQ.head.getLong(0) === 1L)
  }

  // ---- grouped and filtered-global aggregates fold in Spark

  test("grouped aggregate folds in Spark and matches a plain scan") {
    import spark.implicits._
    val dir = freshDir()
    val src = Seq[(Long, java.lang.Long, String, java.lang.Double)](
      (1L, 10L, "a", 1.5), (2L, 10L, "b", 2.5), (3L, 10L, null, 4.0),
      (4L, 20L, "a", null), (5L, null, "a", 8.0), (6L, null, null, -1.0))
      .toDF("_id", "g", "s", "v")
    src.write.format("graftbson").option("shards", "3").mode("append").save(dir)
    val df = spark.read.format("graftbson")
      .schema("_id LONG, g LONG, s STRING, v DOUBLE").load(dir)
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"v").as("nv"), min($"s").as("mns"),
        max($"v").as("mxv"), sum($"v").as("sv"), avg($"v").as("av"))
    assert(!pushedAgg(df), plan(df))
    val got = df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
      r.toSeq.drop(1)).toMap
    val expect = src.groupBy($"g")
      .agg(count(lit(1)), count($"v"), min($"s"), max($"v"), sum($"v"), avg($"v"))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        r.toSeq.drop(1)).toMap
    assert(got === expect)
    assert(got.contains(None), "the NULL group must survive")
  }

  test("SELECT DISTINCT folds in Spark, with and without a pushed filter") {
    import spark.implicits._
    val dir = freshDir()
    val src = Seq[(Long, java.lang.Long, String)](
      (1L, 10L, "a"), (2L, 10L, "b"), (3L, 20L, "a"),
      (4L, null, "a"), (5L, 20L, null), (6L, null, null))
      .toDF("_id", "g", "s")
    src.write.format("graftbson").option("shards", "3").mode("append").save(dir)
    val one = spark.read.format("graftbson")
      .schema("_id LONG, g LONG, s STRING").load(dir)
      .select($"g").distinct()
    assert(!pushedAgg(one), plan(one))
    assert(one.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
      == Set(Some(10L), Some(20L), None))
    // compound distinct, with a pushed filter underneath
    val two = spark.read.format("graftbson")
      .schema("_id LONG, g LONG, s STRING").load(dir)
      .filter($"_id" < 6L)
      .select($"g", $"s").distinct()
    assert(!pushedAgg(two), plan(two))
    assert(two.count() == 5L, "(10,a) (10,b) (20,a) (null,a) (20,null)")
  }

  test("grouped COUNT by key decodes ONLY the key column (corrupted subdoc proves it)") {
    import spark.implicits._
    val dir = freshDir()
    (1 to 100).map(i => (i.toLong, (i % 3).toLong, (i.toLong, s"pay-$i")))
      .toDF("_id", "g", "d")
      .write.format("graftbson").mode("append").save(dir)
    // corrupt the INTERIOR of every subdocument 'd' (first inner element's
    // type tag -> 0x7F, an invalid BSON tag): the projected byte-skip
    // jumps the subdoc via its length header and never sees the garbage,
    // while any decode of d dies on the unknown tag
    val data = Paths.get(dir, "data.bson")
    val bytes = Files.readAllBytes(data)
    var i = 0
    var hits = 0
    while (i < bytes.length - 7) {
      // element header: tag 0x03 (embedded doc), name "d\0", then the
      // subdoc's 4-byte length, then the first inner element's tag
      if (bytes(i) == 0x03 && bytes(i + 1) == 'd'.toByte && bytes(i + 2) == 0) {
        bytes(i + 7) = 0x7F
        hits += 1
      }
      i += 1
    }
    assert(hits === 100, s"corruption marker found $hits times")
    Files.write(data, bytes)
    val schema = "_id LONG, g LONG, d STRUCT<_1: LONG, _2: STRING>"
    // Spark's aggregate prunes the scan to `g`, so the reader's projected
    // decode skips `d`
    val df = spark.read.format("graftbson").schema(schema).load(dir)
      .groupBy($"g").agg(count(lit(1)).as("n"))
    assert(!pushedAgg(df), plan(df))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 33L, 1L -> 34L, 2L -> 33L),
      "grouped COUNT must byte-skip the corrupted non-key column")
    // sanity: actually reading d DOES hit the corruption
    intercept[Throwable] {
      spark.read.format("graftbson").schema(schema).load(dir)
        .select($"d").collect()
    }
  }

  test("filtered GLOBAL aggregate over an empty match folds COUNT to 0") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 5L)).toDF("_id", "k")
      .write.format("graftbson").mode("append").save(dir)
    val df = spark.read.format("graftbson")
      .schema("_id LONG, k LONG").load(dir)
      .filter($"k" > 100L)
      .agg(count(lit(1)).as("n"), sum($"k").as("s"), min($"k").as("mn"))
    assert(!pushedAgg(df), plan(df))
    val r = df.head
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1) && r.isNullAt(2))
    // and over an empty COLLECTION (deleted data): same contract via the
    // sentinel partition
    val dir2 = freshDir()
    val df2 = spark.read.format("graftbson")
      .schema("_id LONG, k LONG").load(dir2)
      .agg(count(lit(1)).as("n"))
    // (no filter: the stored count covers this; the filter hands the
    // count to Spark)
    val df3 = spark.read.format("graftbson")
      .schema("_id LONG, k LONG").load(dir2)
      .filter($"k" > 0L).agg(count(lit(1)).as("n"))
    assert(bareCount(df2), plan(df2))
    assert(!pushedAgg(df3), plan(df3))
    assert(df2.head.getLong(0) === 0L)
    assert(df3.head.getLong(0) === 0L)
  }

  test("global aggregate over a sort-option table plans (no stale ordering claim)") {
    import spark.implicits._
    val dir = freshDir()
    Seq((3L, 30L), (1L, 10L), (2L, 20L)).toDF("_id", "k")
      .write.format("graftbson").mode("append").save(dir)
    // with an aggregate pushed, readSchema() is the agg schema — the scan
    // must stop reporting the `sort` column or Spark fails to resolve the
    // SortOrder against the scan output at planning time; a bare COUNT(*)
    // is the one aggregate that still pushes here
    val bare = spark.read.format("graftbson").option("sort", "k").load(dir)
      .agg(count(lit(1)).as("n"))
    assert(bareCount(bare), plan(bare))
    assert(bare.head.getLong(0) === 3L)
    val df = spark.read.format("graftbson").option("sort", "k").load(dir)
      .agg(count(lit(1)).as("n"), max($"k").as("mx"))
    assert(!pushedAgg(df), plan(df))
    val r = df.head
    assert((r.getLong(0), r.getLong(1)) === ((3L, 30L)))
    // the ordering claim itself still works when no aggregate is pushed
    val sorted = spark.read.format("graftbson").option("sort", "k").load(dir)
      .sortWithinPartitions($"k")
    assert(sorted.select($"k").as[Long].collect().toSeq === Seq(10L, 20L, 30L))
  }

  test("global MIN/MAX over BOOLEAN and TIMESTAMP take the projected global pass") {
    import spark.implicits._
    val dir = freshDir()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq((1L, Option(true), ts("2024-03-01 10:00:00.123")),
      (2L, Option(false), ts("2023-12-31 23:59:59.999")),
      (3L, None, ts("2024-07-15 00:00:00")))
    rows.toDF("_id", "b", "t").write.format("graftbson").mode("append").save(dir)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(min($"b"), max($"b"), min($"t"), max($"t"))
    val pushed = agg(spark.read.format("graftbson")
      .schema("_id LONG, b BOOLEAN, t TIMESTAMP").load(dir))
    assert(!pushedAgg(pushed), plan(pushed))
    assert(pushed.head === agg(rows.toDF("_id", "b", "t")).head)
  }

  test("min/max skip missing fields exactly like a row scan") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, Some(4L)), (2L, None), (3L, Some(-9L)))
      .toDF("_id", "k")
      .write.format("graftbson").mode("append").save(dir)
    val pushed = spark.read.format("graftbson").load(dir)
      .agg(min($"k").as("mn"), max($"k").as("mx"), count(lit(1)).as("n")).head
    assert((pushed.getLong(0), pushed.getLong(1), pushed.getLong(2)) ===
      ((-9L, 4L, 3L)))
  }

  test("only a bare COUNT(*) pushes: grouped, global, DISTINCT and filtered counts fold in Spark") {
    import spark.implicits._
    val dir = freshDir()
    val src = Seq[(Long, java.lang.Long, String, java.lang.Double)](
      (1L, 10L, "a", 1.5), (2L, 10L, "b", 2.5), (3L, 20L, null, 4.0),
      (4L, null, "a", null), (5L, 20L, "c", -8.0))
      .toDF("_id", "g", "s", "v")
    src.write.format("graftbson").option("shards", "2").mode("append").save(dir)
    val read = () => spark.read.format("graftbson")
      .schema("_id LONG, g LONG, s STRING, v DOUBLE").load(dir)
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "grouped" -> (_.groupBy($"g").agg(count(lit(1)), sum($"v"), min($"s"), max($"v"))),
      "global" -> (_.agg(count(lit(1)), count($"s"), min($"g"), max($"v"), sum($"g"))),
      "distinct" -> (_.select($"g", $"s").distinct()),
      "filtered count" -> (_.filter($"v" > 0.0).agg(count(lit(1)))))
    shapes.foreach { case (name, shape) =>
      val df = shape(read())
      assert(!pushedAgg(df), s"$name:\n${plan(df)}")
      assert(df.collect().map(_.toString).sorted.toSeq ===
        shape(src).collect().map(_.toString).sorted.toSeq, name)
    }
    val bare = read().agg(count(lit(1)))
    assert(plan(bare).contains("PushedGroupedAggregate: GLOBAL [count(*)]"), plan(bare))
    assert(bareCount(bare))
    assert(bare.head.getLong(0) === 5L)
  }
}
