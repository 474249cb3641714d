package graft.server

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** r18: the `ascii_columns` declaration extends from range-join keys to
  * the string ORDER surfaces — server TopN cursor sorts, global MIN/MAX
  * probes, grouped `$min`/`$max` — with returned-value verification
  * (an all-ASCII result is provably correct: the UTF-16 and UTF-8
  * orders agree on every comparison involving an ASCII operand, so any
  * wrongly-ranked result member must itself be non-ASCII → fail loud).
  * The FILE transport's TopN needs no declaration: its bounded heap
  * compares READ values with a CODE-POINT comparator (exactly Spark's
  * UTF8String order), so it is exact for arbitrary strings under
  * uniform storage.
  *
  * Parity baselines run over LOCAL copies (no graft relation in the
  * baseline plan).
  */
class AsciiOrderSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-ascii-order").toString

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def localCopy(df: DataFrame): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)),
      df.schema)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).toSeq // ORDER-sensitive

  /** docs: _id, name (ASCII, with dups + one null), grp. */
  private def seed(dir: String): Unit = {
    import spark.implicits._
    (0 until 80).map { i =>
      val name: String =
        if (i % 19 == 0) null else s"${('a' + i % 17).toChar}item${i % 7}"
      (i.toLong, name, (i % 4).toLong)
    }.toDF("_id", "name", "grp")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.o"))
      .option("id_column", "_id").mode("append").save()
  }

  private def o(dir: String, extra: (String, String)*): DataFrame =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.o",
        "assume_uniform_storage" -> "true") ++ extra)
      .schema("_id LONG, name STRING, grp LONG").load()

  test("server TopN on a declared-ASCII string key pushes (asc/desc/compound)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val oa = o(dir, "ascii_columns" -> "name")
    val le = localCopy(o(dir))
    val q = oa.orderBy($"name".asc_nulls_first, $"_id".asc).limit(7)
      .select($"_id", $"name")
    assert(planOf(q).contains("PushedTopN"), planOf(q))
    val exp = le.orderBy($"name".asc_nulls_first, $"_id".asc).limit(7)
      .select($"_id", $"name")
    assert(rows(q) == rows(exp))
    assert(q.count() == 7)
    val d = oa.orderBy($"name".desc_nulls_last, $"_id".desc).limit(5)
      .select($"_id", $"name")
    assert(planOf(d).contains("PushedTopN"), planOf(d))
    assert(rows(d) == rows(
      le.orderBy($"name".desc_nulls_last, $"_id".desc).limit(5)
        .select($"_id", $"name")))
    // string key SECOND in a compound order pushes too
    val c = oa.orderBy($"grp".asc, $"name".asc_nulls_first, $"_id".asc)
      .limit(9).select($"grp", $"name", $"_id")
    assert(planOf(c).contains("PushedTopN"), planOf(c))
    assert(rows(c) == rows(
      le.orderBy($"grp".asc, $"name".asc_nulls_first, $"_id".asc)
        .limit(9).select($"grp", $"name", $"_id")))
    // WITHOUT the declaration: strings keep refusing, rows stay exact
    val nd = o(dir).orderBy($"name".asc_nulls_first, $"_id".asc).limit(7)
      .select($"_id", $"name")
    assert(!planOf(nd).contains("PushedTopN"), planOf(nd))
    assert(rows(nd) == rows(exp))
  }

  test("server global MIN/MAX probes + grouped $min/$max on declared strings") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val oa = o(dir, "ascii_columns" -> "name")
    val le = localCopy(o(dir))
    val g = oa.agg(min($"name").as("lo"), max($"name").as("hi"))
    assert(planOf(g).contains("PushedGroupedAggregate: GLOBAL [min(name), max(name)]"),
      planOf(g))
    assert(sortedRows(g) == sortedRows(
      le.agg(min($"name").as("lo"), max($"name").as("hi"))))
    // grouped: $min/$max fold inside the $group pipeline
    val gg = oa.groupBy($"grp")
      .agg(min($"name").as("lo"), max($"name").as("hi"),
        count(lit(1)).as("n"))
    assert(planOf(gg).contains("PushedGroupedAggregate"), planOf(gg))
    assert(sortedRows(gg) == sortedRows(
      le.groupBy($"grp").agg(min($"name").as("lo"), max($"name").as("hi"),
        count(lit(1)).as("n"))))
    // undeclared: the grouped pipeline must NOT fold string min/max
    val ng = o(dir).groupBy($"grp").agg(min($"name").as("lo"))
    assert(!planOf(ng).contains("PushedGroupedAggregate"), planOf(ng))
    assert(sortedRows(ng) == sortedRows(
      le.groupBy($"grp").agg(min($"name").as("lo"))))
  }

  test("fail-loud: a violating non-ASCII value in an ordered result throws") {
    import spark.implicits._
    val dir = freshDir()
    (0 until 20).map(i => (i.toLong,
        if (i == 3) "aaaé" else s"b${i % 5}", (i % 2).toLong))
      .toDF("_id", "name", "grp")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.v"))
      .option("id_column", "_id").mode("append").save()
    val v = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.v",
        "assume_uniform_storage" -> "true", "ascii_columns" -> "name"))
      .schema("_id LONG, name STRING, grp LONG").load()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    // the violating value sorts FIRST ascending ("aaaé" < "b…") — it is
    // in the returned top-n and the reader must throw
    val t = v.orderBy($"name".asc_nulls_first, $"_id".asc).limit(3)
    assert(planOf(t).contains("PushedTopN"), planOf(t))
    val e1 = intercept[Exception] { t.collect() }
    assert(messages(e1).exists(_ != null) &&
      messages(e1).exists(m => m != null &&
        m.contains("ascii_columns contract violated")), e1)
    // the global MIN probe returns it too — same throw
    val m = v.agg(min($"name").as("lo"))
    val e2 = intercept[Exception] { m.collect() }
    assert(messages(e2).exists(m0 => m0 != null &&
      m0.contains("ascii_columns contract violated")), e2)
    // grouped min over the violating group throws as well
    val gm = v.groupBy($"grp").agg(min($"name").as("lo"))
    val e3 = intercept[Exception] { gm.collect() }
    assert(messages(e3).exists(m0 => m0 != null &&
      m0.contains("ascii_columns contract violated")), e3)
  }

  test("FILE transport: string TopN is code-point exact for ARBITRARY strings") {
    import spark.implicits._
    val dir = freshDir()
    // deliberately off the ASCII plane: the UTF-16 unit order would put
    // the emoji (surrogates D83D DE00) BELOW U+E000 where Spark's
    // UTF-8-byte order puts it ABOVE — the reader's code-point
    // comparator must match Spark, with no ascii declaration at all
    graft.files.BsonFiles.write(s"$dir/data.bson",
      Seq("abc", "zzz", "x", "😀", "café", null)
        .zipWithIndex.iterator.map { case (s, i) =>
          import graft.bson._
          if (s == null) BDoc("_id" -> BInt64(i.toLong))
          else BDoc("_id" -> BInt64(i.toLong), "s" -> BString(s))
        })
    def f(): DataFrame = spark.read.format("graftbson")
      .option("assume_uniform_storage", "true")
      .schema("_id LONG, s STRING").load(dir)
    val le = localCopy(f())
    for ((ord, lim) <- Seq(
        (Seq($"s".asc_nulls_first, $"_id".asc), 4),
        (Seq($"s".desc_nulls_last, $"_id".desc), 4))) {
      val q = f().orderBy(ord: _*).limit(lim).select($"_id", $"s")
      assert(planOf(q).contains("PushedTopN"), planOf(q))
      assert(rows(q) == rows(le.orderBy(ord: _*).limit(lim)
        .select($"_id", $"s")))
    }
    // the SET-level pin: desc LIMIT 1 must return the emoji — a
    // UTF-16-unit heap would keep "\ue000x" instead (the global Spark
    // re-sort cannot repair a wrong local top-n SET)
    val top1 = f().orderBy($"s".desc_nulls_last).limit(1).select($"s")
    assert(planOf(top1).contains("PushedTopN"), planOf(top1))
    assert(top1.collect().map(_.getString(0)).toSeq == Seq("\ud83d\ude00"))

    // non-uniform: strings push too (the heap reads every string
    // storage as RowCodec does), rows exact
    val nu = spark.read.format("graftbson")
      .schema("_id LONG, s STRING").load(dir)
      .orderBy($"s".asc_nulls_first, $"_id".asc).limit(4)
      .select($"_id", $"s")
    assert(planOf(nu).contains("PushedTopN"), planOf(nu))
    assert(rows(nu) == rows(
      le.orderBy($"s".asc_nulls_first, $"_id".asc).limit(4)
        .select($"_id", $"s")))
  }
}
