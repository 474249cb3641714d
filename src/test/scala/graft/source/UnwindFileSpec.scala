package graft.source

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** `$unwind` (explode) pushdown on the FILE source (r14): the same
  * UnwindRelocate rewrite as the server transport — the reader emits one
  * row per element over the projected decode, parent filters evaluate
  * pre-unwind, and the grouped-aggregate partials fold over unwound
  * rows per byte-split.
  */
class UnwindFileSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-uwf").toString

  private def seed(dir: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, "a", 10, Seq("x", "y")),
      (2L, "b", 20, Seq("y")),
      (3L, "c", 30, Seq.empty[String]),
      (4L, "d", 40, null.asInstanceOf[Seq[String]]),
      (5L, "e", 50, Seq("x", "x", "z")))
      .toDF("_id", "name", "v", "tags")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
  }

  private def t(dir: String): DataFrame = spark.read.format("graftbson")
    .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>").load(dir)

  test("explode over the file scan: PushedUnwind rows, outer keeps null parents") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val e = t(dir).select($"_id", explode($"tags").as("tag"))
    val plan = e.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"no Spark Generate expected:\n$plan")
    assert(e.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (1L, "y"), (2L, "y"), (5L, "x"), (5L, "x"), (5L, "z")))
    val eo = t(dir).select($"_id", explode_outer($"tags").as("tag"))
    assert(eo.count() == 8)
    assert(eo.filter($"tag".isNull).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
  }

  test("explode + GROUP BY: the unwind pushes and Spark folds the unwound rows") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val g = t(dir)
      .filter($"v" < 50)
      .select(explode($"tags").as("tag"))
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    // Spark folds the unwound rows: the unwind still pushes, the
    // aggregate does not
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind") && !plan.contains("PushedGroupedAggregate"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 1L, "y" -> 2L))
  }

  test("element filters push as the POST-unwind match; parent filters reach the scan query") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val f = t(dir)
      .filter($"v" >= 20)
      .select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
    val fPlan = f.queryExecution.executedPlan.toString
    assert(fPlan.contains("PostUnwindMatch:"),
      s"element filter must become the post-unwind match:\n$fPlan")
    assert(f.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))

    // element filter + GROUP BY: the post-unwind match still runs in the
    // reader, and Spark folds the matched unwound rows
    val g = t(dir)
      .select(explode($"tags").as("tag"))
      .filter($"tag".isin("x", "z"))
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("PostUnwindMatch:") &&
      !gPlan.contains("PushedGroupedAggregate") && !gPlan.contains("Generate"), gPlan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 3L, "z" -> 1L))

    // an UNTRANSLATABLE element predicate re-checks above the scan
    val hard = t(dir).select($"_id", explode($"tags").as("tag"))
      .filter(length($"tag") + $"_id" > 5)
    val hardPlan = hard.queryExecution.executedPlan.toString
    assert(!hardPlan.contains("Generate") && hardPlan.contains("Filter"), hardPlan)
    assert(hard.count() == 3)

    // a MIXED element-or-parent disjunction: the parent column it reads
    // must stay in the projected decode even though Spark pruned it
    // (docs: _id 1 v 10, _id 2 v 20, _id 5 v 50)
    val mixed = t(dir).select($"_id", explode($"tags").as("tag"), $"v")
      .filter($"tag" === "z" || $"v" < 15)
      .select($"_id", $"tag")
    assert(mixed.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (1L, "y"), (5L, "z")),
      mixed.queryExecution.executedPlan.toString)

    // pre-unwind PARENT prune (fresh dir — the seed above feeds later
    // assertions): non-contributing parents drop before the flatten, and
    // FOREIGN scalar storage at the path survives via the prune's as-is
    // disjunct; the file matcher is native, so no uniform opt-in needed
    val prDir = freshDir()
    seed(prDir)
    Seq((9L, "x")).toDF("_id", "tags").write.format("graftbson")
      .option("id_column", "_id").mode("append").save(prDir)
    val pr = t(prDir).select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
    assert(pr.queryExecution.executedPlan.toString.contains("ElemMatch"),
      pr.queryExecution.executedPlan.toString)
    assert(pr.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 5L, 9L))
    // limit/top-n tails now count UNWOUND rows (the reader's tail stage
    // runs post-unwind); a STRING element key pushes the top-n too (the
    // heap compares the strings Spark reads — the plain-scan rule)
    val e = t(dir).select($"_id", explode($"tags").as("tag"))
    assert(e.limit(3).count() == 3)
    val top = e.orderBy($"_id".desc).limit(2)
    assert(top.queryExecution.executedPlan.toString.contains("PushedTopN"),
      top.queryExecution.executedPlan.toString)
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))
    val topS = e.orderBy($"tag".asc).limit(2)
    assert(topS.queryExecution.executedPlan.toString.contains("PushedTopN: ORDER BY tags ASC LIMIT 2"),
      topS.queryExecution.executedPlan.toString)
    assert(topS.collect().map(_.getString(1)).toSeq == Seq("x", "x"))
  }

  test("TABLESAMPLE keys parents under a pushed unwind; element keys refuse") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    def rd(key: String) = spark.read.format("graftbson")
      .schema("_id LONG, name STRING, v INT, tags ARRAY<STRING>")
      .option("sample_key", key).load(dir)
    val s = rd("_id").select($"_id", explode($"tags").as("tag"))
      .sample(withReplacement = false, 0.5, seed = 42L)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("PushedSample") && plan.contains("PushedUnwind") &&
      !plan.contains("Sample ("), plan)
    // parent atomicity: every surviving parent keeps ALL its element
    // rows (kept/dropped as a unit — the keyed-window sampling unit)
    val all = rd("_id").select($"_id", explode($"tags").as("tag"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val kept = s.collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(kept.nonEmpty && kept.forall { case (id, n) => all(id) == n },
      s"kept=$kept all=$all")
    // reproducible: same seed = same rows, run to run
    val run1 = s.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val run2 = s.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(run1 == run2 && run1.nonEmpty)
    // an ELEMENT sample key cannot be evaluated per parent — refuse
    val es = rd("tag").select($"_id", explode($"tags").as("tag"))
      .sample(withReplacement = false, 0.5, seed = 42L)
    assert(!es.queryExecution.executedPlan.toString.contains("PushedSample"),
      es.queryExecution.executedPlan.toString)
  }

  test("a multi-collection scan under sample + explode refuses the relocation (ADVICE r15)") {
    import spark.implicits._
    val d1 = freshDir(); val d2 = freshDir()
    Seq((1L, Seq("x", "y")), (2L, Seq("y", "z"))).toDF("_id", "tags")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(d1)
    Seq((11L, Seq("z", "x", "w"))).toDF("_id", "tags")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(d2)
    // `collections` makes pushTableSample refuse — the relocation gate
    // must mirror that refusal, or Spark would Bernoulli-sample unwound
    // ELEMENT rows where the source plan sampled PARENT rows
    val s = spark.read.format("graftbson")
      .schema("_id LONG, tags ARRAY<STRING>")
      .option("sample_key", "_id")
      .option("collections", s"""[{"path": "$d1"}, {"path": "$d2"}]""")
      .load()
      .sample(withReplacement = false, 0.5, seed = 42L)
      .select($"_id", explode($"tags").as("tag"))
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("PushedUnwind") &&
      !plan.contains("PushedSample"), plan)
    // parent atomicity holds: every surviving parent keeps ALL its
    // element rows (Spark's Bernoulli runs on PARENT rows, pre-explode)
    val arity = Map(1L -> 2, 2L -> 2, 11L -> 3)
    val kept = s.collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(kept.forall { case (id, n) => arity(id) == n }, s"kept=$kept")
  }

  test("posexplode binds the element index; pos filters and groups ride the injected field") {
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
    // outer: null/empty parents keep one row with NULL pos + element
    val eo = t(dir).select($"_id", posexplode_outer($"tags"))
    assert(eo.count() == 8)
    assert(eo.filter($"pos".isNull).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // a pos filter becomes the POST-unwind match on the injected field
    // (never a pre-unwind parent query); element filters keep ORIGINAL
    // indices (mongo's includeArrayIndex rule)
    val f = t(dir).select($"_id", posexplode($"tags")).filter($"pos" >= 1)
    assert(f.queryExecution.executedPlan.toString.contains("PostUnwindMatch:"),
      f.queryExecution.executedPlan.toString)
    assert(f.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((1L, 1), (5L, 1), (5L, 2)))
    val ef = t(dir).select($"_id", posexplode($"tags")).filter($"col" === "z")
    assert(ef.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((5L, 2)))
    // GROUP BY pos: Spark folds the injected field of the unwound rows
    val g = t(dir).select(posexplode($"tags"))
      .groupBy($"pos").agg(count(lit(1)).as("n"))
    assert(!g.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      g.queryExecution.executedPlan.toString)
    assert(g.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
  }

  test("multi-collection union: explode works; a PER-ENTRY limit refuses the pushed tail") {
    import spark.implicits._
    val d1 = freshDir(); val d2 = freshDir()
    Seq((1L, Seq("x", "y")), (2L, Seq("y"))).toDF("_id", "tags")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(d1)
    Seq((11L, Seq("z", "x"))).toDF("_id", "tags")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(d2)
    def rd(json: String) = spark.read.format("graftbson")
      .schema("_id LONG, tags ARRAY<STRING>")
      .option("collections", json).load()
    val plain = rd(s"""[{"path": "$d1"}, {"path": "$d2"}]""")
      .select($"_id", explode($"tags").as("tag"))
    assert(plain.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "x"), (1L, "y"), (2L, "y"), (11L, "x"), (11L, "z")))
    // entries WITHOUT per-entry knobs keep the pushed unwound tail
    // (each partition's reader takes n unwound rows)
    val limOk = rd(s"""[{"path": "$d1"}, {"path": "$d2"}]""")
      .select($"_id", explode($"tags").as("tag")).limit(2)
    assert(limOk.count() == 2)
    // a PER-ENTRY limit is a PARENT-cursor cap that merges into the
    // partitions — an element-scoped pushed tail cannot mix with it,
    // so the Spark LIMIT stays above the scan
    val lim = rd(s"""[{"path": "$d1", "limit": 1}, {"path": "$d2"}]""")
      .select($"_id", explode($"tags").as("tag")).limit(2)
    assert(lim.count() == 2)
    // the entry's parent cap still applies pre-unwind: entry 1
    // contributes only doc 1's rows
    val capped = rd(s"""[{"path": "$d1", "limit": 1}, {"path": "$d2"}]""")
      .select($"_id", explode($"tags").as("tag"))
    assert(capped.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 1L, 11L, 11L))
  }

  test("a relation column named __graft_pos refuses the posexplode relocation") {
    import spark.implicits._
    val dir = freshDir()
    // the synthetic injected field would clobber a SAME-NAMED stored
    // column — the rewrite refuses and Spark's Generate answers exactly
    Seq((1L, 77L, Seq("x", "y")), (2L, 88L, Seq("z")))
      .toDF("_id", "__graft_pos", "tags")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
    val q = spark.read.format("graftbson")
      .schema("_id LONG, __graft_pos LONG, tags ARRAY<STRING>").load(dir)
      .select($"_id", $"__graft_pos", posexplode($"tags"))
    assert(q.queryExecution.executedPlan.toString.contains("Generate"),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .sorted.toSeq ==
      Seq((1L, 77L, 0, "x"), (1L, 77L, 1, "y"), (2L, 88L, 0, "z")))
  }

  test("array column surviving above the explode keeps Spark's Generate (refusal)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val q = t(dir).select($"tags", explode($"tags").as("tag"))
    assert(q.queryExecution.executedPlan.toString.contains("Generate"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 6)
  }

  test("explode(array<struct>): subfield filters are POST-unwind; subfield group keys fold") {
    import spark.implicits._
    val dir = freshDir()
    Seq(
      (1L, Seq(("en", 3), ("fr", 5))),
      (2L, Seq(("fr", 1))),
      (3L, Seq(("en", 9), ("en", 2), ("de", 4))),
      (4L, Seq.empty[(String, Int)]))
      .toDF("_id", "raw")
      .select($"_id", expr(
        "transform(raw, x -> named_struct('lang', x._1, 'n', x._2))")
        .as("entries"))
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
    val ts = spark.read.format("graftbson")
      .schema("_id LONG, entries ARRAY<STRUCT<lang: STRING, n: INT>>")
      .load(dir)

    // doc 1 holds [en, fr]: ∃-element (pre-unwind) semantics would keep
    // BOTH its elements; Spark row semantics keep only the en one
    val e = ts.select($"_id", explode($"entries").as("entry"))
      .filter($"entry.lang" === "en")
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.contains("PostUnwindMatch:") && plan.contains("entries.lang"),
      plan)
    assert(!plan.contains("Generate"), plan)
    assert(e.collect().map(r =>
        (r.getLong(0), r.getStruct(1).getString(0), r.getStruct(1).getInt(1)))
      .sorted.toSeq ==
      Seq((1L, "en", 3), (3L, "en", 2), (3L, "en", 9)))

    val g = ts.select(explode($"entries").as("entry"))
      .groupBy($"entry.lang".as("lang")).agg(sum($"entry.n").as("s"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(!gPlan.contains("PushedGroupedAggregate") && !gPlan.contains("Generate"),
      gPlan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 14L, "fr" -> 6L, "de" -> 4L))
  }

  test("explode(map) on the FILE transport: PushedUnwind MAP, filters, group, fail-loud") {
    import spark.implicits._
    val dir = freshDir()
    Seq(
      (1L, Map("en" -> 3L, "fr" -> 5L)),
      (2L, Map("de" -> 9L)),
      (3L, Map.empty[String, Long]))
      .toDF("_id", "langs")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
    val tm = spark.read.format("graftbson")
      .schema("_id LONG, langs MAP<STRING, LONG>").load(dir)

    val e = tm.select($"_id", explode($"langs"))
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: langs MAP") &&
      !plan.contains("Generate"), plan)
    assert(e.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq ==
      Seq((1L, "en", 3L), (1L, "fr", 5L), (2L, "de", 9L)))

    // key filter = post-unwind; Spark sums the unwound values
    val f = e.filter($"key" =!= "fr")
    assert(f.queryExecution.executedPlan.toString.contains("PostUnwindMatch:"),
      f.queryExecution.executedPlan.toString)
    assert(f.count() == 2)
    val g = tm.select(explode($"langs"))
      .groupBy($"key").agg(sum($"value").as("total"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(!gPlan.contains("PushedGroupedAggregate") && !gPlan.contains("Generate"),
      gPlan)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 3L, "fr" -> 5L, "de" -> 9L))

    // the file reader's tails run post-unwind reader-side — maps too
    val top = tm.select($"_id", explode($"langs"))
      .orderBy($"value".desc).limit(1)
    assert(top.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((2L, 9L)))

    // scalar at the map path: the $objectToArray fail-loud rule
    val dir2 = freshDir()
    Seq((1L, Map("a" -> 1L))).toDF("_id", "langs")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir2)
    Seq((2L, 7L)).toDF("_id", "langs")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir2)
    val bad = spark.read.format("graftbson")
      .schema("_id LONG, langs MAP<STRING, LONG>").load(dir2)
      .select($"_id", explode($"langs"))
    val ex = intercept[org.apache.spark.SparkException] { bad.collect() }
    assert(String.valueOf(ex.getCause).contains("$objectToArray"),
      String.valueOf(ex.getCause))
  }

  test("explode over a join of FILE scans relocates into the leg (join stays Spark)") {
    import spark.implicits._
    // the file transport has no $lookup, so the JOIN itself never
    // pushes — but the unwind transpose still relocates the Generate
    // into the driving leg's scan (the array crosses the reader once,
    // per-element rows feed Spark's join)
    val dir = freshDir()
    seed(dir)
    val cdir = freshDir()
    Seq((10L, "ten"), (20L, "twenty"), (30L, "thirty"), (40L, "forty"),
        (50L, "fifty"))
      .toDF("_id", "vname")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(cdir)
    val oo = t(dir)
    val cc = spark.read.format("graftbson")
      .schema("_id LONG, vname STRING").load(cdir)
    val q = oo.join(cc, oo("v") === cc("_id"))
      .select(oo("_id").as("okey"), $"vname", explode(oo("tags")).as("tag"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"the unwind must relocate into the file leg:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"),
      s"the join itself stays in Spark on the file transport:\n$plan")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq ==
      Seq((1L, "ten", "x"), (1L, "ten", "y"), (2L, "twenty", "y"),
        (5L, "fifty", "x"), (5L, "fifty", "x"), (5L, "fifty", "z")))
  }
}
