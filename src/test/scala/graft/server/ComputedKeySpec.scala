package graft.server

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Derived (computed) bin columns absorbed into the graftserver relation
  * (r17, [[graft.plans.ComputedKeyRelocate]]): `pmod(col, n)` / `col % n`
  * over an Int/Long column materializes as a `$set` pipeline field, so
  * derived-bin GROUP BYs fold server-side and derived-bin JOIN keys keep
  * the pushed `$lookup` — including composed with the r17 range
  * conjuncts (the derived-bin interval/as-of shape) — while find-land
  * pushdowns that would address the synthetic field refuse.
  *
  * Parity baselines run over LOCAL copies (no graftserver relation in
  * the baseline plan).
  */
class ComputedKeySpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-computed").toString

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** events: _id, v (some negative, one null); dims keyed by pmod bin. */
  private def seed(dir: String): Unit = {
    import spark.implicits._
    (0 until 120).map { i =>
      val v: java.lang.Long =
        if (i % 13 == 0) null else java.lang.Long.valueOf((i * 37L) - 1200L)
      (i.toLong, v)
    }.toDF("_id", "v")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.e"))
      .option("id_column", "_id").mode("append").save()
    // NO id_column: bkt must stay a document FIELD (an id_column write
    // stores the key as `_id` and drops the original — the vacuous-join
    // trap q173's oracle caught)
    (0L until 7L).map(b => (b, s"bin$b")).toDF("bkt", "lbl")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.d"))
      .mode("append").save()
  }

  private def e(dir: String, extra: (String, String)*): DataFrame =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.e",
        "assume_uniform_storage" -> "true") ++ extra)
      .schema("_id LONG, v LONG").load()

  private def d(dir: String): DataFrame =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.d",
        "assume_uniform_storage" -> "true"))
      .schema("bkt LONG, lbl STRING").load()

  private def localCopy(df: DataFrame): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)),
      df.schema)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  test("groupBy(pmod(col, n)) folds as ONE $match+$set+$group pipeline") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val ee = e(dir)
    val q = ee.filter($"_id" >= 10L)
      .withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"), sum($"v").as("total"))
    val plan = planOf(q)
    assert(plan.contains("PushedComputed: [bkt = pmod(v, 7)]") &&
      plan.contains("PushedGroupedAggregate: GROUP BY bkt"), plan)
    val le = localCopy(e(dir))
    val exp = le.filter($"_id" >= 10L)
      .withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"), sum($"v").as("total"))
    assert(sortedRows(q) == sortedRows(exp))
    // negative inputs land in NON-negative bins (pmod), null v in the
    // null group — both populated by the fixture
    assert(q.filter($"bkt".isNull).count() == 1)
    assert(q.filter($"bkt" < 0L).count() == 0)
    // the % form keeps the dividend's sign (mod) and also folds
    val m = ee.withColumn("r", $"v" % 7L)
      .groupBy($"r").agg(count(lit(1)).as("n"))
    assert(planOf(m).contains("PushedComputed: [r = mod(v, 7)]") &&
      planOf(m).contains("PushedGroupedAggregate"), planOf(m))
    val mExp = le.withColumn("r", $"v" % 7L)
      .groupBy($"r").agg(count(lit(1)).as("n"))
    assert(sortedRows(m) == sortedRows(mExp))
    assert(m.filter($"r" < 0L).count() > 0, "mod keeps negative remainders")

    // INT-width bins: an IntegerType column with an int literal keeps
    // int32 arithmetic on the wire ($mod int32 % int32 -> int32, the
    // width the declared column decodes) — the eval/$set promotion pin
    val dir2 = freshDir()
    (0 until 40).map(i => (i.toLong, i * 3 - 50))
      .toDF("_id", "iv")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.iw"))
      .option("id_column", "_id").mode("append").save()
    val iw = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.iw",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, iv INT").load()
    val ig = iw.withColumn("b", pmod($"iv", lit(5)))
      .groupBy($"b").agg(count(lit(1)).as("n"))
    assert(planOf(ig).contains("PushedComputed: [b = pmod(iv, 5)]"), planOf(ig))
    val igExp = localCopy(iw).withColumn("b", pmod($"iv", lit(5)))
      .groupBy($"b").agg(count(lit(1)).as("n"))
    assert(sortedRows(ig) == sortedRows(igExp))
    assert(ig.schema("b").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("a derived-bin JOIN key keeps the pushed $lookup (and composes with ranges)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val ee = e(dir)
    val dd = d(dir)
    val q = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .join(dd, Seq("bkt"))
      .select($"_id", $"lbl")
    val plan = planOf(q)
    assert(plan.contains("PushedComputed: [bkt = pmod(v, 7)]") &&
      plan.contains("PushedJoin: INNER db.d") &&
      !plan.contains("Join "), plan)
    val le = localCopy(e(dir)); val ld = localCopy(d(dir))
    val exp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .join(ld, Seq("bkt")).select($"_id", $"lbl")
    assert(sortedRows(q) == sortedRows(exp))
    assert(q.count() > 0, "the inner derived-key join must match rows")
    // null v -> null bin never joins under INNER; LEFT OUTER null-extends
    val lo = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .join(dd, Seq("bkt"), "left_outer")
      .select($"_id", $"lbl")
    val loExp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .join(ld, Seq("bkt"), "left_outer").select($"_id", $"lbl")
    assert(sortedRows(lo) == sortedRows(loExp))
    assert(lo.filter($"lbl".isNull).count() > 0)

    // composed with a RANGE conjunct: the derived-bin interval shape —
    // $set + $lookup($expr eq + range) + $group, one pipeline
    val el = ee.withColumn("bkt", pmod($"v", lit(7L)))
    val rq = el.join(dd, el("bkt") === dd("bkt") && el("_id") >= dd("bkt"))
      .groupBy($"lbl").agg(count(lit(1)).as("n"))
    val rPlan = planOf(rq)
    // the $set + $lookup($expr eq+range) pipeline pushes; Spark's
    // constraint inference derives a transitive LEFT-only conjunct
    // (_id >= left.bkt) from the equality+range pair, which the r14
    // hoist rechecks above the scan — so the $group stays Spark-side
    // here (exact either way)
    assert(rPlan.contains("PushedComputed") &&
      rPlan.contains("PushedJoin: INNER db.d") &&
      rPlan.contains("AND _id >= bkt") &&
      !rPlan.contains("Join "), rPlan)
    val lel = le.withColumn("bkt", pmod($"v", lit(7L)))
    val rExp = lel.join(ld, lel("bkt") === ld("bkt") && lel("_id") >= ld("bkt"))
      .groupBy($"lbl").agg(count(lit(1)).as("n"))
    assert(sortedRows(rq) == sortedRows(rExp))
    assert(rq.count() > 0, "the range-composed join must match rows")

    // the computed column may sit on the LOOKUP side too ($set first in
    // the sub-pipeline, before the non-null key $match)
    val dd2 = d(dir).withColumn("b2", pmod($"bkt", lit(3L)))
    val ee2 = ee.withColumn("eb", pmod($"v", lit(3L)))
    val both = ee2.join(dd2, ee2("eb") === dd2("b2"))
      .groupBy($"lbl").agg(count(lit(1)).as("n"))
    val bPlan = planOf(both)
    assert(bPlan.contains("eb = pmod(v, 3)") &&
      bPlan.contains("b2 = pmod(bkt, 3)") &&
      bPlan.contains("PushedJoin: INNER db.d") &&
      !bPlan.contains("Join "), bPlan)
    val bExp = le.withColumn("eb", pmod($"v", lit(3L)))
      .join(ld.withColumn("b2", pmod($"bkt", lit(3L))),
        $"eb" === $"b2")
      .groupBy($"lbl").agg(count(lit(1)).as("n"))
    assert(sortedRows(both) == sortedRows(bExp))
    assert(both.count() > 0, "the both-sides computed join must match rows")
  }

  test("plain reads inject the derived value; filters on it stay residual but exact") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val ee = e(dir)
    val q = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .filter($"bkt" === 3L)
      .select($"_id", $"bkt")
    val plan = planOf(q)
    // the filter must NOT render into the find-land query (no $set
    // there) — it re-checks above the scan over the injected value
    assert(plan.contains("PushedComputed") && plan.contains("Filter"), plan)
    assert(!plan.contains("PushedQuery: Eq(bkt"), plan)
    val le = localCopy(e(dir))
    val exp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .filter($"bkt" === 3L).select($"_id", $"bkt")
    assert(sortedRows(q) == sortedRows(exp))
    assert(q.count() > 0)
  }

  test("FILE transport: derived bins stay in Spark; group, filter and TopN rows exact") {
    import spark.implicits._
    val dir = freshDir()
    graft.files.BsonFiles.write(s"$dir/data.bson",
      (0 until 120).iterator.map { i =>
        import graft.bson._
        if (i % 13 == 0) BDoc("_id" -> BInt64(i.toLong))
        else BDoc("_id" -> BInt64(i.toLong), "v" -> BInt64((i * 37L) - 1200L))
      })
    def f(extra: (String, String)*) = spark.read.format("graftbson")
      .options(Map("assume_uniform_storage" -> "true") ++ extra)
      .schema("_id LONG, v LONG").load(dir)
    // graftbson relations are left alone: no `$group` to push, so Spark
    // computes the bin and folds it
    val q = f().withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"), sum($"v").as("total"))
    val plan = planOf(q)
    assert(!plan.contains("PushedComputed") && !plan.contains("PushedGroupedAggregate"), plan)
    val le = localCopy(f())
    val exp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"), sum($"v").as("total"))
    assert(sortedRows(q) == sortedRows(exp))
    assert(q.filter($"bkt".isNull).count() == 1)
    // filters on the bin stay in Spark and exact
    val flt = f().withColumn("bkt", pmod($"v", lit(7L)))
      .filter($"bkt" === 3L && $"bkt".isNotNull).select($"_id")
    assert(!planOf(flt).contains("PushedComputed"), planOf(flt))
    assert(sortedRows(flt) == sortedRows(
      le.withColumn("bkt", pmod($"v", lit(7L)))
        .filter($"bkt" === 3L && $"bkt".isNotNull).select($"_id")))
    assert(flt.count() > 0)
    // plain TopN on the bin: Spark's TakeOrdered; rows exact
    val t = f().withColumn("bkt", pmod($"v", lit(7L)))
      .orderBy($"bkt".asc_nulls_first, $"_id".asc).limit(5)
    assert(!planOf(t).contains("PushedTopN"), planOf(t))
    assert(sortedRows(t) == sortedRows(
      le.withColumn("bkt", pmod($"v", lit(7L)))
        .orderBy($"bkt".asc_nulls_first, $"_id".asc).limit(5)))
  }

  test("DATE bins (r18): groupBy(year(date)) / date_trunc folds server-side on both transports") {
    import spark.implicits._
    val dir = freshDir()
    // d: a DateType column (canonical midnight BDate storage), ts: a
    // TimestampType column; one null each, pre-1970 rows included
    (0 until 90).map { i =>
      val day: java.lang.Integer =
        if (i % 17 == 0) null else java.lang.Integer.valueOf(i * 73 - 900)
      val ms: java.lang.Long =
        if (i % 19 == 0) null else java.lang.Long.valueOf(i * 9000000L - 86400000L)
      (i.toLong, day, ms)
    }.toDF("_id", "days", "ms")
      .select($"_id", date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        $"days").as("d"), timestamp_millis($"ms").as("ts"))
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.t"))
      .option("id_column", "_id").mode("append").save()
    val ee = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.t",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, d DATE, ts TIMESTAMP").load()
    val le = localCopy(ee)
    // the treasury-canonical shape: groupBy(year(dateCol)) — ONE
    // $match+$set+$group pipeline (PushedComputed + PushedGroupedAggregate)
    val q = ee.groupBy(year($"d").as("y"))
      .agg(count(lit(1)).as("n"), max($"_id").as("hi"))
    val plan = planOf(q)
    // Spark's PullOutGroupingExpressions owns the alias name (an
    // internal `_groupingexpression`), so pin the bin SPELLING + fold
    assert(plan.contains("= year(d)") &&
      plan.contains("PushedGroupedAggregate"), plan)
    assert(sortedRows(q) == sortedRows(
      le.groupBy(year($"d").as("y"))
        .agg(count(lit(1)).as("n"), max($"_id").as("hi"))))
    assert(q.filter($"y".isNull).count() == 1, "null date -> null year group")
    assert(q.filter($"y" < 1970).count() > 0, "pre-1970 rows present")
    // year() over a TIMESTAMP column captures through the analyzer's
    // UTC cast; month/dayofmonth ride the same helper
    val qt = ee.groupBy(year($"ts").as("y"), month($"ts").as("m"),
        dayofmonth($"ts").as("dom"))
      .agg(count(lit(1)).as("n"))
    val tPlan = planOf(qt)
    assert(tPlan.contains("= year(ts)") && tPlan.contains("= month(ts)") &&
      tPlan.contains("= dayofmonth(ts)") &&
      tPlan.contains("PushedGroupedAggregate"), tPlan)
    assert(sortedRows(qt) == sortedRows(
      le.groupBy(year($"ts").as("y"), month($"ts").as("m"),
        dayofmonth($"ts").as("dom")).agg(count(lit(1)).as("n"))))
    // date_trunc bins: hour over the timestamp, week (Monday) as the
    // startOfWeek parity pin; the bin column reads back TimestampType
    val th = ee.groupBy(date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n"))
    assert(planOf(th).contains("= date_trunc(hour, ts)") &&
      planOf(th).contains("PushedGroupedAggregate"), planOf(th))
    assert(sortedRows(th) == sortedRows(
      le.groupBy(date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("n"))))
    assert(th.schema("h").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val tw = ee.groupBy(date_trunc("week", $"d").as("w"))
      .agg(count(lit(1)).as("n"))
    assert(planOf(tw).contains("= date_trunc(week, d)"), planOf(tw))
    assert(sortedRows(tw) == sortedRows(
      le.groupBy(date_trunc("week", $"d").as("w"))
        .agg(count(lit(1)).as("n"))))
    // trunc(date, fmt) — the DateType-OUT truncation — captures too
    // (same $dateTrunc wire form; the midnight decodes as epoch days)
    val tr = ee.groupBy(trunc($"d", "month").as("mo"))
      .agg(count(lit(1)).as("n"))
    assert(planOf(tr).contains("= date_trunc(month, d)") &&
      planOf(tr).contains("PushedGroupedAggregate"), planOf(tr))
    assert(sortedRows(tr) == sortedRows(
      le.groupBy(trunc($"d", "month").as("mo")).agg(count(lit(1)).as("n"))))
    assert(tr.schema("mo").dataType == org.apache.spark.sql.types.DateType)
    // a date-bin JOIN key keeps the pushed $lookup: year(d) is INT, the
    // dim key seeds as int32 so the equality is attribute-vs-attribute
    // on both sides (same server_dir — one connection)
    (1965 to 2000).map(y => (y, s"era$y")).toDF("yk", "era")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.dim"))
      .mode("append").save()
    val dim = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.dim",
        "assume_uniform_storage" -> "true"))
      .schema("yk INT, era STRING").load()
    val j = ee.withColumn("y", year($"d"))
      .join(dim, $"y" === $"yk")
      .groupBy($"era").agg(count(lit(1)).as("n"))
    assert(planOf(j).contains("= year(d)") &&
      planOf(j).contains("PushedJoin: INNER db.dim") &&
      !planOf(j).contains("Join "), planOf(j))
    val jExp = le.withColumn("y", year($"d"))
      .join(localCopy(dim), $"y" === $"yk")
      .groupBy($"era").agg(count(lit(1)).as("n"))
    assert(sortedRows(j) == sortedRows(jExp))
    assert(j.count() > 0, "the year-key join must match rows")
  }

  test("DATE bins: FILE transport folds + the date refusal matrix") {
    import spark.implicits._
    val dir = freshDir()
    graft.files.BsonFiles.write(s"$dir/data.bson",
      (0 until 90).iterator.map { i =>
        import graft.bson._
        val base = BDoc("_id" -> BInt64(i.toLong))
        if (i % 19 == 0) base
        else BDoc("_id" -> BInt64(i.toLong),
          "ts" -> BDate(i * 9000000L - 86400000L))
      })
    def f(): DataFrame = spark.read.format("graftbson")
      .options(Map("assume_uniform_storage" -> "true"))
      .schema("_id LONG, ts TIMESTAMP").load(dir)
    val q = f().groupBy(date_trunc("day", $"ts").as("dy"),
        year($"ts").as("y"))
      .agg(count(lit(1)).as("n"))
    // graftbson relations are left alone: Spark computes and folds the
    // bins
    val plan = planOf(q)
    assert(!plan.contains("PushedComputed") && !plan.contains("PushedGroupedAggregate"),
      plan)
    val le = localCopy(f())
    assert(sortedRows(q) == sortedRows(
      le.groupBy(date_trunc("day", $"ts").as("dy"), year($"ts").as("y"))
        .agg(count(lit(1)).as("n"))))
    assert(q.filter($"y".isNull).count() == 1)
    // shapes a served relation refuses (MICROSECOND has no mongo unit; a
    // non-uniform relation never captures) read the same on graftbson
    val us = f().groupBy(date_trunc("microsecond", $"ts").as("u"))
      .agg(count(lit(1)).as("n"))
    assert(!planOf(us).contains("PushedComputed"), planOf(us))
    assert(sortedRows(us) == sortedRows(
      le.groupBy(date_trunc("microsecond", $"ts").as("u"))
        .agg(count(lit(1)).as("n"))))
    val raw = spark.read.format("graftbson")
      .schema("_id LONG, ts TIMESTAMP").load(dir)
    val nu = raw.groupBy(year($"ts").as("y")).agg(count(lit(1)).as("n"))
    assert(!planOf(nu).contains("PushedComputed"), planOf(nu))
    assert(sortedRows(nu) == sortedRows(
      le.groupBy(year($"ts").as("y")).agg(count(lit(1)).as("n"))))
    val nn = f().withColumn("y", year($"ts")).filter($"y".isNotNull)
      .select($"_id")
    assert(sortedRows(nn) == sortedRows(
      le.withColumn("y", year($"ts")).filter($"y".isNotNull).select($"_id")))
    assert(nn.count() > 0)
    // hour/dayofweek/weekofyear bins: Spark too
    val hw = f().groupBy(hour($"ts").as("h"), dayofweek($"ts").as("dw"),
        weekofyear($"ts").as("wk"))
      .agg(count(lit(1)).as("n"))
    val hwPlan = planOf(hw)
    assert(!hwPlan.contains("PushedComputed") &&
      !hwPlan.contains("PushedGroupedAggregate"), hwPlan)
    assert(sortedRows(hw) == sortedRows(
      le.groupBy(hour($"ts").as("h"), dayofweek($"ts").as("dw"),
        weekofyear($"ts").as("wk")).agg(count(lit(1)).as("n"))))
  }

  test("MULTI-COLLECTION scans leave computed bins in Spark; per-entry query/sort/key rows exact") {
    import spark.implicits._
    val d1 = freshDir(); val d2 = freshDir()
    def writeColl(dir: String, off: Int): Unit =
      graft.files.BsonFiles.write(s"$dir/data.bson",
        (0 until 50).iterator.map { i =>
          import graft.bson._
          if ((i + off) % 13 == 0) BDoc("_id" -> BInt64((off + i).toLong))
          else BDoc("_id" -> BInt64((off + i).toLong),
            "v" -> BInt64(((i + off) * 37L) - 600L))
        })
    writeColl(d1, 0); writeColl(d2, 1000)
    def mc(json: String) = spark.read.format("graftbson")
      .option("assume_uniform_storage", "true")
      .option("collections", json)
      .schema("_id LONG, v LONG").load()
    val plain = mc(s"""[{"path": "$d1"}, {"path": "$d2"}]""")
    val le = localCopy(plain)
    // a multi-collection scan is a graftbson relation: the bin stays in
    // Spark
    val q = plain.withColumn("bkt", pmod($"v", lit(7L)))
      .filter($"bkt".isNotNull)
      .select($"_id", $"bkt")
    assert(!planOf(q).contains("PushedComputed"), planOf(q))
    val exp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .filter($"bkt".isNotNull).select($"_id", $"bkt")
    assert(sortedRows(q) == sortedRows(exp))
    assert(q.count() > 0)
    // per-entry QUERIES compose with Spark's bin and fold
    val qq = mc(s"""[{"path": "$d1", "query": {"v": {"$$gte": 0}}},
        {"path": "$d2"}]""")
      .withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"))
    val lq1 = localCopy(mc(s"""[{"path": "$d1", "query": {"v": {"$$gte": 0}}},
        {"path": "$d2"}]"""))
    assert(!planOf(qq).contains("PushedComputed"), planOf(qq))
    assert(sortedRows(qq) == sortedRows(
      lq1.withColumn("bkt", pmod($"v", lit(7L)))
        .groupBy($"bkt").agg(count(lit(1)).as("n"))))
    // a per-entry sort/key override naming the bin: rows stay exact
    val sk = mc(s"""[{"path": "$d1", "sort": "bkt"}, {"path": "$d2"}]""")
      .withColumn("bkt", pmod($"v", lit(7L)))
      .select($"_id", $"bkt")
    assert(!planOf(sk).contains("PushedComputed"), planOf(sk))
    assert(sortedRows(sk) == sortedRows(
      le.withColumn("bkt", pmod($"v", lit(7L))).select($"_id", $"bkt")))
    val kk = mc(s"""[{"path": "$d1"}, {"path": "$d2", "key": "h"}]""")
      .withColumn("h", pmod($"v", lit(5L)))
      .select($"_id", $"h")
    assert(!planOf(kk).contains("PushedComputed"), planOf(kk))
    assert(sortedRows(kk) == sortedRows(
      le.withColumn("h", pmod($"v", lit(5L))).select($"_id", $"h")))
  }

  test("refusal matrix: TopN/min-max/sample/split keys, non-uniform, floor-div, explode") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val ee = e(dir)
    val le = localCopy(e(dir))
    // plain-scan TopN on a computed key: no cursor sort on a synthetic
    // field — rows stay exact through Spark's TakeOrdered
    val t = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .orderBy($"bkt".asc_nulls_first, $"_id".asc).limit(5)
    assert(!planOf(t).contains("PushedTopN"), planOf(t))
    val tExp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .orderBy($"bkt".asc_nulls_first, $"_id".asc).limit(5)
    assert(sortedRows(t) == sortedRows(tExp))
    // MIN/MAX on a computed column: the global `$group` pipeline (or
    // Spark) answers exactly
    val mm = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .agg(min($"bkt").as("lo"), max($"bkt").as("hi"))
    assert(planOf(mm).contains("PushedGroupedAggregate: GLOBAL [min(bkt), max(bkt)]"),
      planOf(mm))
    val mmExp = le.withColumn("bkt", pmod($"v", lit(7L)))
      .agg(min($"bkt").as("lo"), max($"bkt").as("hi"))
    assert(sortedRows(mm) == sortedRows(mmExp))
    // non-uniform relation: the rule never captures (no PushedComputed)
    val raw = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.e"))
      .schema("_id LONG, v LONG").load()
    val nu = raw.withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"))
    assert(!planOf(nu).contains("PushedComputed"), planOf(nu))
    assert(sortedRows(nu) == sortedRows(
      le.withColumn("bkt", pmod($"v", lit(7L)))
        .groupBy($"bkt").agg(count(lit(1)).as("n"))))
    // floor(col / n) routes through $divide's DOUBLE arithmetic —
    // refused by design, stays a Spark expression
    val fd = e(dir).withColumn("bkt", floor($"v" / 7L))
      .groupBy($"bkt").agg(count(lit(1)).as("n"))
    assert(!planOf(fd).contains("PushedComputed"), planOf(fd))
    // NEGATIVE / zero divisors never capture (sign rules differ and
    // mod-by-zero is the one error case) — rows stay exact in Spark
    val nd = e(dir).withColumn("r", $"v" % -7L)
      .groupBy($"r").agg(count(lit(1)).as("n"))
    assert(!planOf(nd).contains("PushedComputed"), planOf(nd))
    assert(sortedRows(nd) == sortedRows(
      le.withColumn("r", $"v" % -7L).groupBy($"r").agg(count(lit(1)).as("n"))))
    // a computed sample_key refuses the sample push (parent Bernoulli
    // stays in Spark), rows remain a legal sample
    val sk = e(dir, "sample_key" -> "bkt")
      .withColumn("bkt", pmod($"v", lit(7L)))
      .sample(withReplacement = false, 0.5, seed = 3L)
    assert(!planOf(sk).contains("PushedSample"), planOf(sk))
    // a computed SPLIT key plans one full-range cursor (nothing to
    // probe) — rows stay complete
    val sp = e(dir, "key" -> "bkt", "split_size" -> "1024")
      .withColumn("bkt", pmod($"v", lit(7L)))
    assert(sp.count() == 120)
  }
}
