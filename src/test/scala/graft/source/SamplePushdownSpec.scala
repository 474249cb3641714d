package graft.source

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** TABLESAMPLE / df.sample pushdown (SupportsPushDownTableSample): the
  * DETERMINISTIC keyed Bernoulli of [[SamplePush]] — keep a doc iff the
  * 60-bit md5 prefix of `"<seed>:<key>"` lands in
  * `[floor(lower·2^60), floor(upper·2^60))`. Pins: the plan carries
  * `PushedSample` and loses Spark's Sample node; the kept set equals the
  * portable SQL spelling of the same predicate (the identity the DuckDB
  * oracle of q132 relies on); repeated runs agree (Spark's own Sample is
  * per-partition-seeded and would NOT survive a repartition, the pushed
  * form does); row-count-sensitive pushdowns and the pushed sample
  * mutually refuse; the grouped-aggregate partials compose (file source);
  * the server arm applies the same window client-side over its cursors.
  */
class SamplePushdownSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-sample").toString

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The portable SQL spelling of the engine predicate — bit-identical
    * to Md5Util.prefix60 over "<seed>:<key>" (same identity the oracle
    * SQL uses). */
  private def keepExpr(key: org.apache.spark.sql.Column, seed: Long,
      lower: Double, upper: Double): org.apache.spark.sql.Column = {
    val h = conv(substring(md5(concat(lit(seed.toString + ":"),
      key.cast("string"))), 1, 15), 16, 10).cast("long")
    h >= math.floor(lower * SamplePush.Unit60).toLong &&
      h < math.floor(upper * SamplePush.Unit60).toLong
  }

  test("file source: df.sample pushes, equals the portable predicate, repeats") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 4000L).map(i => (i, (i % 17).toInt))
      .toDF("_id", "v")
      .write.format("graftbson").option("shards", "3").mode("append").save(dir)
    val df = spark.read.format("graftbson").option("sample_key", "_id").load(dir)

    val s = df.sample(withReplacement = false, 0.35, seed = 42L)
    assert(planOf(s).contains("PushedSample: SAMPLE(_id, [0.0, 0.35), seed=42)"),
      planOf(s))
    assert(!planOf(s).contains("Sample ("), "the Sample node must be consumed")

    val got = s.collect().map(_.getLong(0)).sorted.toSeq
    val expected = df.filter(keepExpr($"_id", 42L, 0.0, 0.35))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < 4000, s"degenerate sample: ${got.size}")
    // determinism across runs/plans: a FRESH read with the same seed
    // keeps the same rows (Spark's own Sample is per-partition-seeded
    // and makes no such promise across partitionings)
    val again = spark.read.format("graftbson").option("sample_key", "_id")
      .load(dir).sample(withReplacement = false, 0.35, 42L)
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == got)
  }

  test("string keys render raw; null/missing keys never sample in") {
    import graft.bson._
    import graft.files.BsonFiles
    val dir = freshDir()
    val docs = Seq(
      BDoc("_id" -> BInt64(1L), "k" -> BString("alpha")),
      BDoc("_id" -> BInt64(2L), "k" -> BString("beta")),
      BDoc("_id" -> BInt64(3L), "k" -> BNull),
      BDoc("_id" -> BInt64(4L)), // missing k
      BDoc("_id" -> BInt64(5L), "k" -> BString("gamma")),
      BDoc("_id" -> BInt64(6L), "k" -> BString("delta")))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    val df = spark.read.format("graftbson")
      .schema("_id LONG, k STRING").option("sample_key", "k").load(dir)
    // a [0,1) window keeps EVERY keyed row and still drops null/missing
    val all = df.sample(withReplacement = false, 1.0, 7L)
    assert(planOf(all).contains("PushedSample"))
    assert(all.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L, 6L))
    // parity with the portable spelling at a real fraction
    val s = df.sample(withReplacement = false, 0.5, 7L)
    val expected = df.filter(keepExpr(col("k"), 7L, 0.0, 0.5))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(s.collect().map(_.getLong(0)).sorted.toSeq == expected)
  }

  test("SamplePush windows are disjoint and exhaustive (the randomSplit contract)") {
    import graft.bson._
    val lo = SamplePush("k", 0.0, 0.3, 99L)
    val hi = SamplePush("k", 0.3, 1.0, 99L)
    val docs = (0 until 1000).map(i => BDoc("k" -> BInt64(i.toLong)))
    val inLo = docs.count(lo.keep)
    val inHi = docs.count(hi.keep)
    assert(docs.forall(d => lo.keep(d) != hi.keep(d)),
      "windows must partition the keyed universe")
    assert(inLo + inHi == 1000)
    assert(inLo > 200 && inLo < 400, s"0.3 window kept $inLo of 1000")
  }

  test("conflicts refuse in both directions (file source)") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 800L).map(i => (i, (i % 5).toInt)).toDF("_id", "v")
      .write.format("graftbson").mode("append").save(dir)

    // no sample_key option -> not pushed; Spark's own Sample node runs
    val unkeyed = spark.read.format("graftbson").load(dir)
      .sample(withReplacement = false, 0.5, 1L)
    assert(!planOf(unkeyed).contains("PushedSample"))
    assert(planOf(unkeyed).contains("Sample"))

    val keyed = spark.read.format("graftbson").option("sample_key", "_id").load(dir)
    // sample pushed first -> a later top-n refuses, Spark sorts the
    // sampled stream itself (value parity against the portable spelling)
    val topn = keyed.sample(withReplacement = false, 0.4, 5L)
      .orderBy($"_id".desc).limit(3)
    assert(planOf(topn).contains("PushedSample") &&
      !planOf(topn).contains("PushedTopN"), planOf(topn))
    val expectTop = keyed.filter(keepExpr($"_id", 5L, 0.0, 0.4))
      .collect().map(_.getLong(0)).sorted.reverse.take(3).toSeq
    assert(topn.collect().map(_.getLong(0)).toSeq == expectTop)

    // an option-level per-partition cursor limit refuses the sample
    val optLimited = spark.read.format("graftbson")
      .option("sample_key", "_id").option("limit", "10").load(dir)
      .sample(withReplacement = false, 0.5, 1L)
    assert(!planOf(optLimited).contains("PushedSample"))
  }

  test("grouped aggregate folds in Spark over the pushed SAMPLED stream (file source)") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 3000L).map(i => (i, (i % 7).toInt, i.toDouble / 8.0))
      .toDF("_id", "g", "x")
      .write.format("graftbson").option("shards", "2").mode("append").save(dir)
    val df = spark.read.format("graftbson").option("sample_key", "_id").load(dir)
    val q = df.sample(withReplacement = false, 0.45, 11L)
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    // the sample pushes; Spark folds the sampled rows
    assert(!planOf(q).contains("PushedGroupedAggregate") &&
      planOf(q).contains("PushedSample"), planOf(q))
    val expected = df.filter(keepExpr($"_id", 11L, 0.0, 0.45))
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("server source: client-side sample window over the cursors; $group refuses") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.samp", "sample_key" -> "_id")
    (0L until 2000L).map(i => (i, (i % 3).toInt)).toDF("_id", "v")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.samp"))
      .option("id_column", "_id").mode("append").save()
    val df = spark.read.format("graftserver").options(opts)
      .schema("_id LONG, v INT").load()

    val s = df.sample(withReplacement = false, 0.3, 21L)
    assert(planOf(s).contains("PushedSample: SAMPLE(_id, [0.0, 0.3), seed=21)"),
      planOf(s))
    val expected = df.filter(keepExpr($"_id", 21L, 0.0, 0.3))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(s.collect().map(_.getLong(0)).sorted.toSeq == expected)

    // the server-side $group pipeline computes over the UNSAMPLED
    // collection — it must refuse and leave the aggregate to Spark
    val agg = s.groupBy($"v").agg(count(lit(1)).as("n"))
    assert(!planOf(agg).contains("PushedGroupedAggregate"), planOf(agg))
    val expAgg = df.filter(keepExpr($"_id", 21L, 0.0, 0.3))
      .groupBy($"v").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
      == expAgg)
  }
}
