package graft.source

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** TopN (ORDER BY k LIMIT n) pushdown: per-partition sorted top-n at the
  * cursor, folded exactly by Spark's global sort+limit (partial-push
  * contract) — the reference's per-split `cursor.sort().limit()`.
  */
class TopNPushdownSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-topn").toString

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("orderBy(asc).limit pushes and returns the exact global top-n") {
    import spark.implicits._
    val dir = freshDir()
    // values deliberately scattered so every shard holds some of the top
    (0L until 5000L).map(i => (i, ((i * 2654435761L) % 9973L).toDouble))
      .toDF("_id", "v")
      .write.format("graftbson").option("shards", "4").mode("append").save(dir)
    val df = spark.read.format("graftbson").load(dir)
    val q = df.orderBy($"v").limit(7).select($"_id", $"v")
    assert(planOf(q).contains("PushedTopN: ORDER BY v ASC LIMIT 7"), planOf(q))

    val expected = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._2).take(7).toSeq
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("descending and string orders push; option-sort orders refuse") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 500L).map(i => (i, s"s${i % 97}", (i % 13).toInt))
      .toDF("_id", "s", "v")
      .write.format("graftbson").option("shards", "3").mode("append").save(dir)
    val df = spark.read.format("graftbson").load(dir)

    // DESC selects by the read value with nulls last — Spark's default
    val desc = df.orderBy($"v".desc, $"_id".desc).limit(5)
    assert(planOf(desc).contains("PushedTopN: ORDER BY v DESC, _id DESC LIMIT 5"),
      planOf(desc))
    assert(desc.collect().map(_.getLong(0)).toSeq ===
      (0L until 500L).map(i => (i, (i % 13).toInt))
        .sortBy { case (id, v) => (-v, -id) }.take(5).map(_._1))

    // string order: the heap compares the strings Spark reads, so a
    // string key pushes alone and in a compound order
    val str = df.orderBy($"s", $"_id").limit(5)
    assert(planOf(str).contains("PushedTopN: ORDER BY s ASC, _id ASC LIMIT 5"), planOf(str))
    assert(str.collect().map(_.getLong(0)).toSeq ===
      (0L until 500L).map(i => (i, s"s${i % 97}")).sortBy(_.swap).take(5).map(_._1))
    val mixed = df.orderBy($"v", $"s", $"_id").limit(5)
    assert(planOf(mixed).contains("PushedTopN: ORDER BY v ASC, s ASC, _id ASC LIMIT 5"),
      planOf(mixed))
    assert(mixed.collect().map(_.getLong(0)).toSeq ===
      (0L until 500L).map(i => (i, (i % 13).toInt, s"s${i % 97}"))
        .sortBy { case (id, v, s) => (v, s, id) }.take(5).map(_._1))

    val optSorted = spark.read.format("graftbson").option("sort", "v").load(dir)
      .orderBy($"v").limit(5)
    assert(!planOf(optSorted).contains("PushedTopN"),
      "an option-level cursor sort must not be clobbered")
    assert(optSorted.count() == 5)
  }

  test("compound order with ties: the tie-break key decides, nulls per direction") {
    import graft.bson._
    import graft.files.BsonFiles
    val dir = freshDir()
    val docs = Seq(
      BDoc("_id" -> BInt64(1L), "a" -> BInt64(10L), "b" -> BInt64(3L)),
      BDoc("_id" -> BInt64(2L), "a" -> BInt64(10L), "b" -> BInt64(1L)),
      BDoc("_id" -> BInt64(3L), "a" -> BInt64(10L)), // missing b
      BDoc("_id" -> BInt64(4L), "a" -> BInt64(20L), "b" -> BInt64(9L)),
      BDoc("_id" -> BInt64(5L), "a" -> BInt64(5L), "b" -> BInt64(7L)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    import spark.implicits._
    val df = spark.read.format("graftbson").load(dir)
    // a DESC (nulls last), b ASC (nulls first): a=20 first; within a=10
    // the missing-b row leads
    val q = df.orderBy($"a".desc, $"b".asc).limit(4).select($"_id")
    assert(planOf(q).contains("PushedTopN: ORDER BY a DESC, b ASC LIMIT 4"), planOf(q))
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(4L, 3L, 2L, 1L))
  }

  test("string TopN over mixed String/ObjectId/Symbol storage keeps Spark's order") {
    import graft.bson._
    import graft.files.BsonFiles
    val dir = freshDir()
    // one STRING column over three storages, each read as a string: BSON
    // orders them by bracket, Spark by the strings read — and by code
    // point, so the supplementary character sorts above U+FFFD
    val docs = Seq(
      BDoc("_id" -> BInt64(1L), "s" -> BString("m")),
      BDoc("_id" -> BInt64(2L), "s" -> BObjectId("000000000000000000000001")),
      BDoc("_id" -> BInt64(3L), "s" -> BSymbol("zeta")),
      BDoc("_id" -> BInt64(4L), "s" -> BString("ffff")),
      BDoc("_id" -> BInt64(5L)), // missing: null
      BDoc("_id" -> BInt64(6L), "s" -> BSymbol("a")),
      BDoc("_id" -> BInt64(7L), "s" -> BObjectId("ffffffffffffffffffffffff")),
      BDoc("_id" -> BInt64(8L), "s" -> BString("\uD83D\uDE00")),
      BDoc("_id" -> BInt64(9L), "s" -> BString("\uFFFD")))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    import spark.implicits._
    val df = spark.read.format("graftbson").schema("_id LONG, s STRING").load(dir)
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq), df.schema)
    for (o <- Seq($"s".asc, $"s".desc)) {
      val q = df.orderBy(o).limit(6)
      assert(planOf(q).contains("PushedTopN: ORDER BY s"), planOf(q))
      assert(q.collect().toSeq == local.orderBy(o).limit(6).collect().toSeq, o.toString)
    }
  }

  test("longs above 2^53 keep exact order (no double-widened compare)") {
    import graft.bson._
    import graft.files.BsonFiles
    val dir = freshDir()
    // distinct longs that COMPARE EQUAL as doubles — the BSON cross-type
    // order widens longs to double, so selecting with it could keep the
    // wrong row; the pushed top-n must select by the exact read value
    val big = 1L << 53
    val docs = Seq(
      BDoc("_id" -> BInt64(1L), "v" -> BInt64(big + 1L)),
      BDoc("_id" -> BInt64(2L), "v" -> BInt64(big)),
      BDoc("_id" -> BInt64(3L), "v" -> BInt64(big + 3L)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    import spark.implicits._
    val df = spark.read.format("graftbson").load(dir)
    val q = df.orderBy($"v").limit(1).select($"_id", $"v")
    assert(planOf(q).contains("PushedTopN"), planOf(q))
    val row = q.head()
    assert((row.getLong(0), row.getLong(1)) == (2L, big), row.toString)
  }

  test("nulls-first semantics: missing keys come first, matching Spark") {
    import graft.bson._
    import graft.files.BsonFiles
    val dir = freshDir()
    val docs = Seq(
      BDoc("_id" -> BInt64(1L), "v" -> BInt64(5L)),
      BDoc("_id" -> BInt64(2L)), // missing v -> null, sorts first
      BDoc("_id" -> BInt64(3L), "v" -> BInt64(1L)),
      BDoc("_id" -> BInt64(4L), "v" -> BInt64(9L)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    import spark.implicits._
    val df = spark.read.format("graftbson").load(dir)
    val q = df.orderBy($"v").limit(2).select($"_id")
    assert(planOf(q).contains("PushedTopN"), planOf(q))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }
}
