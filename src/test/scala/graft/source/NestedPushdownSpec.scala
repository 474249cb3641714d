package graft.source

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Nested dotted-path pushdown (round 13): GROUP BY / ORDER-BY-LIMIT /
  * MIN-MAX / sample keys on SUBFIELDS (`meta.lang`) push down on both
  * sources instead of falling back to full scans — the most common
  * document-store query shape (dotted-path key extraction is core
  * reference behavior, core/.../util/MongoPathRetriever.java:11-23).
  * Each test pins BOTH the plan shape (the pushdown happened) and the
  * values (against the same aggregation computed from the source rows).
  */
class NestedPushdownSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def freshDir(): String =
    Files.createTempDirectory("graft-nested").toString

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** rows: (_id, lang, score) written as {_id, meta: {lang, score}};
    * one doc carries an explicit NULL lang, one a missing score. */
  private def seedRows(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    ((1 to 40).map(i =>
      (i.toLong, if (i % 7 == 0) null else s"l${i % 3}", i * 1.5)))
      .toDF("_id", "lang", "score")
      .select($"_id", struct($"lang", $"score").as("meta"))
  }

  private val readSchema =
    "_id LONG, meta STRUCT<lang: STRING, score: DOUBLE>"

  private def expectGroups(s: org.apache.spark.sql.SparkSession): Map[String, (Long, Double)] = {
    import s.implicits._
    seedRows(s).select($"meta.lang".as("l"), $"meta.score".as("sc"))
      .groupBy($"l").agg(count(lit(1)).as("n"), sum($"sc").as("s"))
      .collect().map(r =>
        (if (r.isNullAt(0)) "NULL" else r.getString(0)) ->
          (r.getLong(1), r.getDouble(2))).toMap
  }

  test("FILE: GROUP BY meta.lang folds in Spark over the Proj-trie decode") {
    import spark.implicits._
    val dir = freshDir()
    seedRows(spark).write.format("graftbson")
      .option("id_column", "_id").mode("append").save(dir)
    // Spark folds over the pruned scan, which decodes only the two
    // subfields through the Proj trie
    val df = spark.read.format("graftbson").schema(readSchema).load(dir)
      .groupBy($"meta.lang").agg(count(lit(1)).as("n"), sum($"meta.score").as("s"))
    val plan = planOf(df)
    assert(!plan.contains("PushedGroupedAggregate"), plan)
    val got = df.collect().map(r =>
      (if (r.isNullAt(0)) "NULL" else r.getString(0)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expectGroups(spark))
  }

  test("SERVER: GROUP BY meta.lang is ONE $group pipeline round-trip, zero cursors") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.nested")
    seedRows(spark).write.format("graftserver").options(opts)
      .option("id_column", "_id").mode("append").save()
    graft.server.CountingServerFactory.reset()
    val df = spark.read.format("graftserver").options(opts)
      .option("client_factory", classOf[graft.server.CountingServerFactory].getName)
      .schema(readSchema).load()
      // a NESTED pushed filter too: renders as {"meta.score": {$gt: ...}}
      // (a Long filter would compile to an unrenderable read-semantics
      // node and correctly refuse the $group pipeline)
      .filter($"meta.score" > 7.0)
      .groupBy($"meta.lang").agg(count(lit(1)).as("n"), sum($"meta.score").as("s"))
    val plan = planOf(df)
    assert(plan.contains("PushedGroupedAggregate: GROUP BY meta.lang"), plan)
    val expect = {
      seedRows(spark).filter($"meta.score" > 7.0)
        .select($"meta.lang".as("l"), $"meta.score".as("sc"))
        .groupBy($"l").agg(count(lit(1)).as("n"), sum($"sc").as("s"))
        .collect().map(r =>
          (if (r.isNullAt(0)) "NULL" else r.getString(0)) ->
            (r.getLong(1), r.getDouble(2))).toMap
    }
    val got = df.collect().map(r =>
      (if (r.isNullAt(0)) "NULL" else r.getString(0)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect)
    assert(graft.server.CountingServerFactory.count("groupAggregate") == 1,
      s"counts: ${graft.server.CountingServerFactory.snapshot()}")
    assert(graft.server.CountingServerFactory.count("find") == 0,
      "no row cursor may open for a pushed grouped aggregate")
  }

  test("SERVER: MULTI-KEY nested grouping renders a dot-free compound _id (wireName round-trip)") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.nested2")
    seedRows(spark)
      .select($"_id", $"meta", (col("_id") % 2 === 0).as("even"))
      .write.format("graftserver").options(opts)
      .option("id_column", "_id").mode("append").save()
    val df = spark.read.format("graftserver").options(opts)
      .schema("_id LONG, meta STRUCT<lang: STRING, score: DOUBLE>, even BOOLEAN")
      .load()
      .groupBy($"meta.lang", $"even")
      .agg(count(lit(1)).as("n"), max($"meta.score").as("mx"))
    val plan = planOf(df)
    assert(plan.contains("PushedGroupedAggregate: GROUP BY meta.lang, even"), plan)
    val expect = seedRows(spark)
      .select($"meta.lang".as("l"), (col("_id") % 2 === 0).as("e"), $"meta.score".as("sc"))
      .groupBy($"l", $"e").agg(count(lit(1)).as("n"), max($"sc").as("mx"))
      .collect().map(r => (Option(r.getString(0)).getOrElse("NULL"), r.getBoolean(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val got = df.collect().map(r =>
      ((if (r.isNullAt(0)) "NULL" else r.getString(0)), r.getBoolean(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == expect)
  }

  test("FILE: ORDER BY meta.score DESC LIMIT n pushes a bounded nested-key selection") {
    import spark.implicits._
    val dir = freshDir()
    seedRows(spark).write.format("graftbson")
      .option("id_column", "_id").mode("append").save(dir)
    val df = spark.read.format("graftbson").schema(readSchema).load(dir)
      .orderBy($"meta.score".desc).limit(5)
      .select($"_id")
    val plan = planOf(df)
    assert(plan.contains("PushedTopN: ORDER BY meta.score DESC"), plan)
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(40L, 39L, 38L, 37L, 36L), s"got $got")
  }

  test("SERVER: nested TopN sorts the cursor by dotted path; Long leaf gates on uniform storage") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.ntop")
    seedRows(spark).write.format("graftserver").options(opts)
      .option("id_column", "_id").mode("append").save()
    // Double leaf: always bracket-safe
    val df = spark.read.format("graftserver").options(opts)
      .schema(readSchema).load()
      .orderBy($"meta.score".desc).limit(3).select($"_id")
    assert(planOf(df).contains("PushedTopN: ORDER BY meta.score DESC"), planOf(df))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(40L, 39L, 38L))

    // Long leaf (nested): refuses without assume_uniform_storage — the
    // same bracket gate as a top-level Long key (a date storage reads
    // as millis but sorts in another BSON bracket)
    val longNested = seedRows(spark)
      .select($"_id", struct($"_id".as("seq")).as("m"))
    val dir2 = freshDir()
    val opts2 = Map("server_dir" -> dir2, "ns" -> "db.ntop2")
    longNested.write.format("graftserver").options(opts2)
      .option("id_column", "_id").mode("append").save()
    val plain = spark.read.format("graftserver").options(opts2)
      .schema("_id LONG, m STRUCT<seq: LONG>").load()
      .orderBy($"m.seq".desc).limit(3).select($"_id")
    assert(!planOf(plain).contains("PushedTopN"), planOf(plain))
    val uniform = spark.read.format("graftserver")
      .options(opts2 + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, m STRUCT<seq: LONG>").load()
      .orderBy($"m.seq".desc).limit(3).select($"_id")
    assert(planOf(uniform).contains("PushedTopN: ORDER BY m.seq DESC"), planOf(uniform))
    assert(uniform.collect().map(_.getLong(0)).toSeq == Seq(40L, 39L, 38L))
  }

  test("FILE: global MIN/MAX on a nested column pushes as a single-subpath scan") {
    import spark.implicits._
    val dir = freshDir()
    seedRows(spark).write.format("graftbson")
      .option("id_column", "_id").mode("append").save(dir)
    val df = spark.read.format("graftbson").schema(readSchema).load(dir)
      .agg(min($"meta.score").as("mn"), max($"meta.score").as("mx"))
    val plan = planOf(df)
    assert(!plan.contains("PushedGroupedAggregate") &&
      plan.contains("ReadSchema: struct<meta:struct<score:double>>"), plan)
    val r = df.collect().head
    assert(r.getDouble(0) == 1.5 && r.getDouble(1) == 60.0, r.toString)
  }

  test("SERVER: nested MIN/MAX probes are sorted limit-1 cursors on the dotted path") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.nprobe")
    seedRows(spark).write.format("graftserver").options(opts)
      .option("id_column", "_id").mode("append").save()
    val df = spark.read.format("graftserver").options(opts)
      .schema(readSchema).load()
      .agg(min($"meta.score").as("mn"), max($"meta.score").as("mx"))
    val plan = planOf(df)
    assert(plan.contains("PushedGroupedAggregate: GLOBAL [min(meta.score), max(meta.score)]"),
      plan)
    val r = df.collect().head
    assert(r.getDouble(0) == 1.5 && r.getDouble(1) == 60.0, r.toString)
  }

  test("both sources: sample_key may be a nested subfield (deterministic keyed Bernoulli)") {
    import spark.implicits._
    val dir = freshDir()
    seedRows(spark)
      .select($"_id", struct($"_id".as("sid"), $"meta.score".as("score")).as("k"))
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
    val base = spark.read.format("graftbson")
      .schema("_id LONG, k STRUCT<sid: LONG, score: DOUBLE>")
      .option("sample_key", "k.sid")
      .load(dir)
    val s1 = base.sample(0.5, seed = 99L)
    assert(planOf(s1).contains("PushedSample: SAMPLE(k.sid"), planOf(s1))
    val a = s1.collect().map(_.getLong(0)).sorted.toSeq
    val b = base.sample(0.5, seed = 99L).collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.nonEmpty && a.size < 40, s"deterministic strict subset: $a")

    val sdir = freshDir()
    val opts = Map("server_dir" -> sdir, "ns" -> "db.nsamp")
    seedRows(spark)
      .select($"_id", struct($"_id".as("sid")).as("k"))
      .write.format("graftserver").options(opts)
      .option("id_column", "_id").mode("append").save()
    val sbase = spark.read.format("graftserver").options(opts)
      .schema("_id LONG, k STRUCT<sid: LONG>")
      .option("sample_key", "k.sid").load()
    val sv = sbase.sample(0.5, seed = 99L).collect().map(_.getLong(0)).sorted.toSeq
    assert(sv == a, s"same md5 window on both transports: $sv vs $a")
  }

  test("FILE: column_mapping composes with nested pushdown (m.lang -> meta.lang)") {
    import spark.implicits._
    val dir = freshDir()
    seedRows(spark).write.format("graftbson")
      .option("id_column", "_id").mode("append").save(dir)
    // Spark column `m` reads doc field `meta`: a nested group key m.lang
    // resolves its HEAD through the mapping to the doc path meta.lang
    val df = spark.read.format("graftbson")
      .schema("_id LONG, m STRUCT<lang: STRING, score: DOUBLE>")
      .option("column_mapping", """{"m": "meta"}""")
      .load(dir)
      .groupBy($"m.lang").agg(count(lit(1)).as("n"), sum($"m.score").as("s"))
    val plan = planOf(df)
    assert(!plan.contains("PushedGroupedAggregate"), plan)
    val got = df.collect().map(r =>
      (if (r.isNullAt(0)) "NULL" else r.getString(0)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expectGroups(spark))
  }

  test("column_mapping composes with nested FILTER pushdown on both transports") {
    import spark.implicits._
    // a pushed filter on m.score (mapped head m -> meta) must query the
    // DOC path meta.score — the exact-name-only mapping of r14 shipped
    // the unmapped `m.score` and silently dropped every row (the filter
    // was accepted, so Spark never re-checked)
    val fileDir = freshDir()
    seedRows(spark).write.format("graftbson")
      .option("id_column", "_id").mode("append").save(fileDir)
    val f = spark.read.format("graftbson")
      .schema("_id LONG, m STRUCT<lang: STRING, score: DOUBLE>")
      .option("column_mapping", """{"m": "meta"}""")
      .load(fileDir)
      .filter($"m.score" > 1.0)
    val fPlan = planOf(f)
    assert(fPlan.contains("meta.score") && !fPlan.contains("m.score"), fPlan)
    val expect = seedRows(spark).filter($"meta.score" > 1.0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(expect.nonEmpty, "fixture must have matching rows")
    assert(f.collect().map(_.getLong(0)).sorted.toSeq == expect)

    val srvDir = freshDir()
    seedRows(spark).write.format("graftserver")
      .options(Map("server_dir" -> srvDir, "ns" -> "db.nf"))
      .option("id_column", "_id").mode("append").save()
    val sv = spark.read.format("graftserver")
      .options(Map("server_dir" -> srvDir, "ns" -> "db.nf"))
      .schema("_id LONG, m STRUCT<lang: STRING, score: DOUBLE>")
      .option("column_mapping", """{"m": "meta"}""")
      .load()
      .filter($"m.score" > 1.0)
    val sPlan = planOf(sv)
    assert(sPlan.contains("meta.score") && !sPlan.contains("m.score"), sPlan)
    assert(sv.collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  test("FILE: nested grouped decode is PROJECTED — a corrupt sibling subfield never decodes") {
    import spark.implicits._
    val dir = freshDir()
    // meta.big is a sibling the group never reads; stomp its bytes after
    // writing and prove the grouped scan still answers (byte-skip proof)
    seedRows(spark)
      .select($"_id", struct($"meta.lang".as("lang"), $"meta.score".as("score"),
        lit("XXXXXXXX").as("big")).as("meta"))
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
    // corrupt every 'XXXXXXXX' payload in place with an invalid BSON tag
    // inside the string body (the decoder would throw if it decoded it)
    val files = GraftBsonSource.dataFiles(dir)
    files.foreach { f =>
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(f))
      var i = 0
      while (i + 8 <= bytes.length) {
        if (bytes(i) == 'X' && bytes(i + 1) == 'X' && bytes(i + 2) == 'X' &&
            bytes(i + 3) == 'X' && bytes(i + 4) == 'X' && bytes(i + 5) == 'X') {
          bytes(i) = 0x00; bytes(i + 1) = 0x7f.toByte
        }
        i += 1
      }
      Files.write(java.nio.file.Paths.get(f), bytes)
    }
    val df = spark.read.format("graftbson")
      .schema("_id LONG, meta STRUCT<lang: STRING, score: DOUBLE, big: STRING>")
      .load(dir)
      .groupBy($"meta.lang").agg(count(lit(1)).as("n"))
    assert(!planOf(df).contains("PushedGroupedAggregate"), planOf(df))
    assert(df.collect().map(_.getLong(1)).sum == 40L)
  }
}
