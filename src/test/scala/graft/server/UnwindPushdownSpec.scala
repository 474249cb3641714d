package graft.server

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** `$unwind` (explode) pushdown, r14: `explode(arrayCol)` directly over a
  * graftserver scan becomes the scan's unwind directive
  * ([[graft.plans.UnwindRelocate]]). A plain unwound scan streams PARENT
  * docs (the array crosses the wire once); composed with a grouped
  * aggregate the whole `$match`+`$unwind`+`$group` is ONE pipeline per
  * namespace. Element-column filters render as a POST-unwind `$match`
  * (after the unwind the path holds the ELEMENT) and additionally derive
  * a pre-unwind PARENT prune (`$elemMatch` superset,
  * [[graft.query.BQuery.parentPrune]]); row-count/-position pushdowns
  * refuse.
  */
class UnwindPushdownSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-uw").toString

  private def seed(dir: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, "a", 10, Seq("x", "y")),
      (2L, "b", 20, Seq("y")),
      (3L, "c", 30, Seq.empty[String]),
      (4L, "d", 40, null.asInstanceOf[Seq[String]]),
      (5L, "e", 50, Seq("x", "x", "z")))
      .toDF("_id", "name", "v", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
      .option("id_column", "_id").mode("append").save()
  }

  private def t(dir: String): DataFrame = spark.read.format("graftserver")
    .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
    .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()

  test("explode becomes PushedUnwind; explode_outer keeps null/empty parents") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val e = t(dir).select($"_id", explode($"tags").as("tag"))
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: tags"), plan)
    assert(!plan.contains("Generate"), s"no Spark Generate expected:\n$plan")
    assert(e.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (1L, "y"), (2L, "y"), (5L, "x"), (5L, "x"), (5L, "z")))

    val eo = t(dir).select($"_id", explode_outer($"tags").as("tag"))
    assert(eo.queryExecution.executedPlan.toString.contains("PushedUnwind: tags OUTER"))
    assert(eo.count() == 8, "empty + null arrays keep one null-element row each")
    assert(eo.filter($"tag".isNull).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
  }

  test("explode + GROUP BY runs as ONE $match+$unwind+$group pipeline") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    CountingServerFactory.reset()
    val g = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .filter($"v" < 50) // parent filter: pre-unwind $match
      .select(explode($"tags").as("tag"))
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate") &&
      plan.contains("PushedUnwind"), plan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 1L, "y" -> 2L))
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      s"one pipeline round-trip expected: ${CountingServerFactory.snapshot()}")
  }

  test("element filters push as the POST-unwind match; parent filters pre-unwind") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val f = t(dir)
      .filter($"v" >= 20)
      .select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: tags"), plan)
    assert(plan.contains("PostUnwindMatch:"),
      s"element filter must become the post-unwind match:\n$plan")
    assert(plan.contains("PushedQuery:") && plan.contains("Exists(v,true)"),
      s"parent filter must reach the cursor query:\n$plan")
    assert(f.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 5L))

    // the headline shape: element filter + GROUP BY = ONE pipeline
    // ($match -> $unwind -> $match -> $group) under uniform storage
    CountingServerFactory.reset()
    val g = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select(explode($"tags").as("tag"))
      .filter($"tag".isin("x", "z"))
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("PushedGroupedAggregate") &&
      gPlan.contains("PushedUnwind"), gPlan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 3L, "z" -> 1L))
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      s"one pipeline round-trip: ${CountingServerFactory.snapshot()}")

    // an UNTRANSLATABLE element predicate still re-checks above (and
    // keeps the grouped aggregate Spark-side)
    val hard = t(dir).select($"_id", explode($"tags").as("tag"))
      .filter(length($"tag") + $"_id" > 5)
    val hardPlan = hard.queryExecution.executedPlan.toString
    assert(hardPlan.contains("PushedUnwind") && hardPlan.contains("Filter"),
      hardPlan)
    assert(hard.count() ==
      Seq((1L, "x"), (1L, "y"), (2L, "y"), (5L, "x"), (5L, "x"), (5L, "z"))
        .count { case (id, tag) => tag.length + id > 5 })

    // an ASCII-bounded element RANGE composes: under uniform storage the
    // read-string range renders exactly, so it too becomes the
    // post-unwind $match (q153's shape)
    val rng = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select($"_id", explode($"tags").as("tag"))
      .filter($"tag" >= "y")
    val rngPlan = rng.queryExecution.executedPlan.toString
    assert(rngPlan.contains("PostUnwindMatch:"), rngPlan)
    assert(rng.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "y"), (2L, "y"), (5L, "z")))

    // a MIXED element-or-parent disjunction becomes the post-unwind
    // match too — and the PARENT column it references must ride the
    // cursor projection even though Spark pruned it from the output
    // (docs: _id 1 v 10, _id 2 v 20, _id 5 v 50)
    val mixed = t(dir).select($"_id", explode($"tags").as("tag"), $"v")
      .filter($"tag" === "z" || $"v" < 15)
      .select($"_id", $"tag")
    assert(mixed.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (1L, "y"), (5L, "z")),
      mixed.queryExecution.executedPlan.toString)
  }

  test("nested array path and existing column_mapping compose") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, (Seq(2L, 3L), "k")), (2L, (Seq(3L), "k")))
      .toDF("_id", "meta")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.nest"))
      .option("id_column", "_id").mode("append").save()
    val n = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.nest"))
      .schema("_id LONG, meta STRUCT<_1: ARRAY<LONG>, _2: STRING>").load()
      .select($"_id", explode($"meta._1").as("ref"))
    val plan = n.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: meta._1"), plan)
    assert(n.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("limit/top-n tails run as the unwound ROW pipeline; string-key and join refusals") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val e = t(dir).select($"_id", explode($"tags").as("tag"))
    // LIMIT counts UNWOUND rows: the read becomes the $match+$unwind+
    // $limit pipeline (one per namespace), never a parent-doc cursor cap
    CountingServerFactory.reset()
    val lim = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select($"_id", explode($"tags").as("tag")).limit(3)
    assert(lim.queryExecution.executedPlan.toString.contains("UnwoundTails"),
      lim.queryExecution.executedPlan.toString)
    assert(lim.count() == 3)
    assert(CountingServerFactory.count("unwoundRead") == 1 &&
      CountingServerFactory.count("find") == 0,
      CountingServerFactory.snapshot())
    // TopN on a LONG key needs the uniform opt-in (BSON $sort brackets);
    // without it the sort stays Spark-side
    val top = e.orderBy($"_id".desc).limit(2)
    assert(!top.queryExecution.executedPlan.toString.contains("UnwoundTails"))
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))
    val tu = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
    val topU = tu.select($"_id", explode($"tags").as("tag"))
      .orderBy($"_id".desc).limit(2)
    assert(topU.queryExecution.executedPlan.toString.contains("UnwoundTails"),
      topU.queryExecution.executedPlan.toString)
    assert(topU.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))
    // a STRING element key is never cursor-order-safe — refuse the tail
    val topS = tu.select($"_id", explode($"tags").as("tag"))
      .orderBy($"tag".asc).limit(2)
    assert(!topS.queryExecution.executedPlan.toString.contains("UnwoundTails"))
    assert(topS.collect().map(_.getString(1)).toSeq == Seq("x", "x"))
    // the tail composes with the POST-unwind match: $match + $unwind +
    // $match + $sort + $limit, one pipeline
    CountingServerFactory.reset()
    val topF = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
      .orderBy($"_id".desc).limit(2)
    val topFPlan = topF.queryExecution.executedPlan.toString
    assert(topFPlan.contains("UnwoundTails") &&
      topFPlan.contains("PostUnwindMatch:"), topFPlan)
    assert(topF.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))
    assert(CountingServerFactory.count("unwoundRead") == 1,
      CountingServerFactory.snapshot())

    // OFFSET: the $skip tail on the provably-single pipeline
    val off = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "splitter" -> "single", "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select($"_id", explode($"tags").as("tag"))
      .orderBy($"_id".asc).limit(5).offset(2)
    assert(off.collect().map(_.getLong(0)).toSeq == Seq(2L, 5L, 5L),
      off.queryExecution.executedPlan.toString)

    // an unwound side never joins server-side (its rows are not docs)
    val other = t(dir).select($"_id".as("oid"), $"name".as("oname"))
    val j = e.join(other, e("_id") === other("oid"))
    assert(!j.queryExecution.executedPlan.toString.contains("PushedJoin"),
      j.queryExecution.executedPlan.toString)
    assert(j.count() == 6)
  }

  test("TABLESAMPLE keys parents under a pushed unwind (server); element keys refuse") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    def rd(key: String) = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs", "sample_key" -> key))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
    val s = rd("_id").select($"_id", explode($"tags").as("tag"))
      .sample(withReplacement = false, 0.5, seed = 42L)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("PushedSample") && plan.contains("PushedUnwind") &&
      !plan.contains("Sample ("), plan)
    // parent atomicity + reproducibility
    val all = rd("_id").select($"_id", explode($"tags").as("tag"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val kept = s.collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(kept.nonEmpty && kept.forall { case (id, n) => all(id) == n },
      s"kept=$kept all=$all")
    val run1 = s.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(run1 == s.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
    val es = rd("tag").select($"_id", explode($"tags").as("tag"))
      .sample(withReplacement = false, 0.5, seed = 42L)
    assert(!es.queryExecution.executedPlan.toString.contains("PushedSample"),
      es.queryExecution.executedPlan.toString)
  }

  test("posexplode: includeArrayIndex semantics — pos filters, groups, and tails push") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val e = t(dir).select($"_id", posexplode($"tags"))
    val plan = e.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && plan.contains("PushedUnwind"), plan)
    assert(e.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sorted.toSeq ==
      Seq((1L, 0, "x"), (1L, 1, "y"), (2L, 0, "y"),
        (5L, 0, "x"), (5L, 1, "x"), (5L, 2, "z")))
    val eo = t(dir).select($"_id", posexplode_outer($"tags"))
    assert(eo.count() == 8)
    assert(eo.filter($"pos".isNull).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // pos filters push as the POST-unwind match: the includeArrayIndex
    // field exists post-unwind on every pipeline, and the parent-cursor
    // reader injects the same shape before evaluating (int64 index,
    // NULL off-array — int32 literals compare numerically)
    val f = t(dir).select($"_id", posexplode($"tags")).filter($"pos" >= 1)
    val fPlan = f.queryExecution.executedPlan.toString
    assert(fPlan.contains("PostUnwindMatch:"), fPlan)
    assert(f.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((1L, 1), (5L, 1), (5L, 2)))
    // element filters keep ORIGINAL indices (mongo's rule)
    val ef = t(dir).select($"_id", posexplode($"tags")).filter($"col" === "z")
    assert(ef.queryExecution.executedPlan.toString.contains("PostUnwindMatch:"),
      ef.queryExecution.executedPlan.toString)
    assert(ef.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((5L, 2)))
    // GROUP BY pos runs as ONE includeArrayIndex pipeline (the int64
    // group values narrow to the pos column's IntegerType on decode)
    CountingServerFactory.reset()
    val g = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select(posexplode($"tags"))
      .groupBy($"pos").agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      g.queryExecution.executedPlan.toString)
    assert(g.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      CountingServerFactory.snapshot())
    // ...and the unwound-tail pipeline carries pos too
    val top = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select($"_id", posexplode($"tags"))
      .orderBy($"_id".desc).limit(3)
    assert(top.queryExecution.executedPlan.toString.contains("UnwoundTails"),
      top.queryExecution.executedPlan.toString)
    assert(top.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sorted.toSeq == Seq((5L, 0, "x"), (5L, 1, "x"), (5L, 2, "z")))
  }

  test("multi-namespace union: unwound tails run one partial pipeline per namespace") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, Seq("x", "y")), (2L, Seq("y", "y", "y")))
      .toDF("_id", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.ua"))
      .option("id_column", "_id").mode("append").save()
    Seq((11L, Seq("z")), (12L, Seq("x", "z")))
      .toDF("_id", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.ub"))
      .option("id_column", "_id").mode("append").save()
    CountingServerFactory.reset()
    val lim = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.ua,db.ub",
        "assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, tags ARRAY<STRING>").load()
      .select($"_id", explode($"tags").as("tag"))
      .orderBy($"_id".asc).limit(3)
    assert(lim.queryExecution.executedPlan.toString.contains("UnwoundTails"),
      lim.queryExecution.executedPlan.toString)
    // global top-3 by _id: both of parent 1's rows + parent 2's first —
    // each namespace returned its own partial top-3 and Spark folded
    assert(lim.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (1L, "y"), (2L, "y")))
    assert(CountingServerFactory.count("unwoundRead") == 2,
      s"one pipeline per namespace: ${CountingServerFactory.snapshot()}")
  }

  test("non-array storage at the unwound path passes unchanged (server $unwind rule)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // a FOREIGN doc holding a scalar at `tags`: the server's $unwind
    // treats it as a one-element array and passes the doc through
    Seq((9L, "solo")).toDF("_id", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
      .option("id_column", "_id").mode("append").save()
    val e = t(dir).select($"_id", explode($"tags").as("tag"))
    assert(e.filter($"_id" === 9L).collect().map(_.getString(1)).toSeq ==
      Seq("solo"))
  }

  test("non-contributing parents prune pre-unwind; scalar storage survives the prune") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // FOREIGN scalar at the unwound path: must survive via the prune's
    // as-is disjunct ($unwind passes non-arrays through)
    Seq((9L, "x")).toDF("_id", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs"))
      .option("id_column", "_id").mode("append").save()
    // uniform storage: the string-equality bracket renders, so the
    // prune passes the exact-render gate and reaches the cursor query
    val tu = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
    val f = tu.select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("ElemMatch"),
      s"parent prune expected in the scan query:\n$plan")
    assert(plan.contains("PostUnwindMatch:"), plan)
    // parents 2 ([y]), 3 ([]), 4 (null) prune server-side; 1, 5, 9 pass
    assert(f.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 5L, 9L))

    // WITHOUT uniform storage the string-equality stays a read-semantics
    // node: the prune cannot render exactly, so it is dropped (never a
    // client-side superset re-check) — results identical
    val fr = t(dir).select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
    assert(!fr.queryExecution.executedPlan.toString.contains("ElemMatch"),
      fr.queryExecution.executedPlan.toString)
    assert(fr.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 5L, 9L))

    // OUTER never prunes: a null-matching post query owes the
    // null-element rows of empty/null parents
    val fo = tu.select($"_id", explode_outer($"tags").as("tag"))
      .filter($"tag".isNull)
    val foPlan = fo.queryExecution.executedPlan.toString
    assert(!foPlan.contains("ElemMatch"), foPlan)
    assert(fo.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))

    // the prune rides the grouped pipeline's pre-$match too — still ONE
    // groupAggregate round-trip, and the counts are the post-match's
    CountingServerFactory.reset()
    val g = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .select(explode($"tags").as("tag"))
      .filter($"tag" === "x")
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 4L))
    assert(CountingServerFactory.count("groupAggregate") == 1,
      CountingServerFactory.snapshot())
  }

  // ---- explode(array<struct>) with element-SUBFIELD keys (r15) ----

  private def seedStructs(dir: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, Seq(("en", 3), ("fr", 5))),
      (2L, Seq(("fr", 1))),
      (3L, Seq(("en", 9), ("en", 2), ("de", 4))),
      (4L, Seq.empty[(String, Int)]))
      .toDF("_id", "raw")
      .select($"_id", expr(
        "transform(raw, x -> named_struct('lang', x._1, 'n', x._2))")
        .as("entries"))
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.anns"))
      .option("id_column", "_id").mode("append").save()
  }

  private def ts(dir: String, extra: (String, String)*): DataFrame =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.anns") ++ extra)
      .schema("_id LONG, entries ARRAY<STRUCT<lang: STRING, n: INT>>").load()

  test("struct-element SUBFIELD filter is the POST-unwind match, never the ∃-element pre-match") {
    import spark.implicits._
    val dir = freshDir()
    seedStructs(dir)
    // doc 1 holds [en, fr]: ∃-element (pre-unwind) semantics would keep
    // BOTH its elements; Spark row semantics keep only the en one
    val e = ts(dir).select($"_id", explode($"entries").as("entry"))
      .filter($"entry.lang" === "en")
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: entries") &&
      plan.contains("PostUnwindMatch:") &&
      plan.contains("entries.lang"), plan)
    assert(!plan.contains("Generate"), s"no Spark Generate expected:\n$plan")
    assert(e.collect().map(r =>
        (r.getLong(0), r.getStruct(1).getString(0), r.getStruct(1).getInt(1)))
      .sorted.toSeq ==
      Seq((1L, "en", 3), (3L, "en", 2), (3L, "en", 9)))

    // pos composes: posexplode keeps ORIGINAL indices under the
    // subfield filter
    val p = ts(dir).select($"_id", posexplode($"entries").as(Seq("pos", "entry")))
      .filter($"entry.lang" === "en")
      .select($"_id", $"pos", $"entry.n".as("n"))
    assert(p.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sorted.toSeq == Seq((1L, 0, 3), (3L, 0, 9), (3L, 1, 2)),
      p.queryExecution.executedPlan.toString)
  }

  test("struct-element SUBFIELD group keys fold in ONE $unwind+$group pipeline") {
    import spark.implicits._
    val dir = freshDir()
    seedStructs(dir)
    CountingServerFactory.reset()
    val g = ts(dir, "client_factory" -> classOf[CountingServerFactory].getName,
        "assume_uniform_storage" -> "true")
      .select(explode($"entries").as("entry"))
      .filter($"entry.lang" =!= "de")
      .groupBy($"entry.lang".as("lang")).agg(sum($"entry.n").as("s"))
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GROUP BY entries.lang") &&
      plan.contains("PushedUnwind: entries"), plan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 14L, "fr" -> 6L))
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      s"one pipeline round-trip: ${CountingServerFactory.snapshot()}")
  }

  test("struct-element SUBFIELD post-match derives the merged $elemMatch parent prune") {
    import spark.implicits._
    val dir = freshDir()
    seedStructs(dir)
    // two same-path subfield conjuncts MERGE: ∃ one element with
    // lang='en' AND n>=3 — doc 3 contributes only via (en,9)
    val f = ts(dir, "assume_uniform_storage" -> "true")
      .select($"_id", explode($"entries").as("entry"))
      .filter($"entry.lang" === "en" && $"entry.n" >= 3)
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("ElemMatch(entries"),
      s"pre-unwind parent prune expected:\n$plan")
    assert(f.collect().map(r => (r.getLong(0), r.getStruct(1).getInt(1)))
      .sorted.toSeq == Seq((1L, 3), (3L, 9)))
  }

  test("a carried Sample keeps its UNREQUESTED key in the unwound schema (parent-atomic)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // _id (the sample key) is NOT selected: the relocation must still
    // keep it in the unwound relation's schema, or pushTableSample would
    // refuse and Spark's Bernoulli would sample ELEMENTS where the
    // source plan sampled PARENTS (r15 review fix)
    val s = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.docs",
        "sample_key" -> "_id"))
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load()
      .sample(withReplacement = false, 0.5, seed = 42L)
      .select(explode($"tags").as("tag"))
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind") && plan.contains("PushedSample"),
      plan)
    assert(!plan.contains("Sample ("), s"no Spark Sample node:\n$plan")
    // parent atomicity: the kept tag multiset is a UNION of whole
    // parents' tag lists (every parent contributes all or none)
    val all = t(dir).select($"_id", explode($"tags").as("tag"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).sorted.toSeq).toMap
    val kept = s.collect().map(_.getString(0)).sorted.toSeq
    val parentSubsets = all.values.toSeq
    // check: kept equals the concatenation of SOME subset of parents
    val matching = (0 until (1 << parentSubsets.size)).exists { mask =>
      val sel = parentSubsets.zipWithIndex
        .filter { case (_, i) => (mask & (1 << i)) != 0 }
        .flatMap(_._1).sorted
      sel == kept
    }
    assert(matching, s"kept=$kept is not a union of whole parents: $all")
  }

  test("ARRAY-typed unwound ELEMENT null tests stay residual (nested arrays)") {
    import spark.implicits._
    val dir = freshDir()
    Seq(
      (1L, Seq(Seq(1L, 2L), null.asInstanceOf[Seq[Long]])),
      (2L, Seq(Seq(3L))))
      .toDF("_id", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.nest2"))
      .option("id_column", "_id").mode("append").save()
    val t2 = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.nest2"))
      .schema("_id LONG, tags ARRAY<ARRAY<LONG>>").load()
    val q = t2.select($"_id", explode_outer($"tags").as("el"))
      .filter($"el".isNotNull)
    val plan = q.queryExecution.executedPlan.toString
    // the wire {$ne: null} would element-match on a live server — the
    // filter must re-check above the scan, never enter PostUnwindMatch
    assert(!plan.contains("PostUnwindMatch"),
      s"array-element null test must not push:\n$plan")
    assert(plan.contains("Filter"), plan)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("find()-mode cursor projections carry no prefix-overlapping paths") {
    import spark.implicits._
    val dir = freshDir()
    seedStructs(dir)
    CountingServerFactory.reset()
    // no group/tail: the unwound read stays a find() cursor whose
    // inclusion projection must not carry both `entries` and
    // `entries.lang` — MongoDB 4.4+ rejects that ("Path collision");
    // the fake transport tolerates it, so pin the wire shape itself
    val e = ts(dir, "client_factory" -> classOf[CountingServerFactory].getName)
      .select($"_id", explode($"entries").as("entry"))
      .filter($"entry.lang" === "en")
    assert(e.count() == 3)
    val projs = CountingServerFactory.finds().flatMap(_.projection)
    assert(projs.nonEmpty, "expected find() round-trips with projections")
    projs.foreach { paths =>
      paths.foreach { p =>
        val clash = paths.exists(q => p.startsWith(q + "."))
        assert(!clash, s"projection has prefix-overlapping paths: $paths")
      }
      assert(!paths.contains(graft.plans.UnwindRelocate.PosDocField),
        s"injected pos field must not be projected: $paths")
    }
  }
}
