package graft.server

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** DSv2 join pushdown (SupportsPushDownJoin): an equi-join of two
  * collections on the same server plans as ONE `$lookup`+`$unwind`
  * pipeline over the driving collection — no Spark-side join operator,
  * no shuffle/broadcast of either collection. Pins: plan shape
  * (`PushedJoin`, no Join exec node), value parity against the
  * Spark-computed join over separate reads (incl. colliding column
  * names, which exercise the alias machinery), LEFT OUTER null rows,
  * split parallelism under `assume_uniform_storage`, and the refusals
  * (different servers, unsafe key types, residual filters).
  */
class JoinPushdownSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-join").toString

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Write orders-ish and customer-ish collections into one server dir. */
  private def seed(dir: String, nOrders: Int = 300, nCust: Int = 40): Unit = {
    import spark.implicits._
    (0 until nOrders).map(i =>
        (i.toLong, (i % 50).toLong, (i * 7 % 1000).toDouble, s"S${i % 3}"))
      .toDF("_id", "custkey", "price", "status")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.orders"))
      .option("id_column", "_id").mode("append").save()
    (0 until nCust).map(i => (i.toLong, s"c$i", (i % 5).toInt))
      .toDF("_id", "name", "seg")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.cust"))
      .option("id_column", "_id").mode("append").save()
  }

  private def ordersDf(dir: String, extra: (String, String)*) =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.orders",
        "assume_uniform_storage" -> "true") ++ extra)
      .schema("_id LONG, custkey LONG, price DOUBLE, status STRING")
      .load()

  private def custDf(dir: String, extra: (String, String)*) =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.cust",
        "assume_uniform_storage" -> "true") ++ extra)
      .schema("_id LONG, name STRING, seg INT")
      .load()

  test("inner equi-join pushes as one $lookup pipeline; colliding _id aliases") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = ordersDf(dir)
    val c = custDf(dir)
    val j = o.join(c, o("custkey") === c("_id"))
      .select(o("_id").as("okey"), $"custkey", $"price", $"name", $"seg")
    val plan = planOf(j)
    assert(plan.contains("PushedJoin:"), plan)
    assert(!plan.contains("Join "), s"no Spark join exec expected:\n$plan")

    // parity: the same join computed by Spark over separate scans
    val exp = {
      val oo = ordersDf(dir).select($"_id".as("okey"), $"custkey", $"price")
      val cc = custDf(dir).select($"_id".as("ck2"), $"name", $"seg")
      oo.join(cc, $"custkey" === $"ck2")
        .select($"okey", $"custkey", $"price", $"name", $"seg")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    val got = j.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == exp, s"got ${got.take(3)}...\nexp ${exp.take(3)}...")
    assert(got.nonEmpty)
  }

  test("left outer join keeps unmatched driving rows with NULL right side") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 120, nCust = 20) // custkey up to 49 -> unmatched rows
    val o = ordersDf(dir)
    val c = custDf(dir)
    val j = o.join(c, o("custkey") === c("_id"), "left_outer")
      .select(o("_id").as("okey"), $"custkey", $"name")
    val plan = planOf(j)
    assert(plan.contains("PushedJoin: LEFT OUTER"), plan)
    val rows = j.collect()
    assert(rows.length == 120, s"left outer must keep every driving row: ${rows.length}")
    val unmatched = rows.filter(_.isNullAt(2))
    assert(unmatched.nonEmpty && unmatched.forall(r => r.getLong(1) >= 20))
    val matched = rows.filter(!_.isNullAt(2))
    assert(matched.forall(r => r.getString(2) == s"c${r.getLong(1)}"))
  }

  test("right outer join mirrors: the right relation drives the pipeline") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 120, nCust = 60) // cust 50..59 match no order
    val o = ordersDf(dir)
    val c = custDf(dir)
    val j = o.join(c, o("custkey") === c("_id"), "right_outer")
      .select(o("_id").as("okey"), $"custkey", $"name", $"seg")
    val plan = planOf(j)
    // the driving ns flips to the customer collection; from its
    // perspective the join is LEFT OUTER
    assert(plan.contains("PushedJoin: LEFT OUTER db.orders") &&
      plan.contains("ns=db.cust"), plan)
    assert(!plan.contains("Join "), s"no Spark join exec expected:\n$plan")
    val rows = j.collect()
    // every of the 60 customers survives; custkeys span 0..49, so
    // customers 50..59 carry NULL order columns; matched customers
    // appear once per matching order (120 matched rows total)
    assert(rows.length == 120 + 10, s"got ${rows.length}")
    val unmatched = rows.filter(_.isNullAt(1))
    assert(unmatched.length == 10 &&
      unmatched.forall(r => r.getString(2).startsWith("c5")))
    // parity against Spark computing the same right outer join
    val exp = {
      val oo = ordersDf(dir).select($"_id".as("okey"), $"custkey")
      val cc = custDf(dir).select($"_id".as("ck2"), $"name", $"seg")
      oo.join(cc, $"custkey" === $"ck2", "right_outer")
        .select($"okey", $"custkey", $"name", $"seg")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    }
    assert(rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq == exp)
  }

  test("pushed filters on both sides compose into the pipeline's $match stages") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = ordersDf(dir).filter($"price" > 100.0)
    val c = custDf(dir).filter($"seg" === 2)
    val j = o.join(c, o("custkey") === c("_id"))
      .select($"custkey", $"price", $"seg")
    assert(planOf(j).contains("PushedJoin:"), planOf(j))
    val exp = (0 until 300).map(i =>
        (i % 50, (i * 7 % 1000).toDouble)).filter(_._2 > 100.0)
      .filter(p => p._1 < 40 && p._1 % 5 == 2)
      .map { case (k, p) => (k.toLong, p, 2) }.sortBy(_.toString)
    val got = j.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .toSeq.sortBy(_.toString)
    assert(got == exp)
  }

  test("uniform storage splits the driving side into several pipelines") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 2000, nCust = 50) // every custkey matched
    val o = ordersDf(dir, "split_size" -> (16 * 1024).toString)
    val c = custDf(dir)
    val j = o.join(c, o("custkey") === c("_id")).select($"custkey", $"name")
    assert(planOf(j).contains("PushedJoin:"))
    val parts = j.rdd.getNumPartitions
    assert(parts > 1, s"expected several pipeline splits, got $parts")
    assert(j.count() == 2000L)
  }

  test("aggregate pushes THROUGH the join: one pipeline, #groups docs cross") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = ordersDf(dir).filter($"price" > 100.0)
    val c = custDf(dir)
    val j = o.join(c, o("custkey") === c("_id"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), count($"name").as("n_name"),
        min($"price").as("min_p"), max($"price").as("max_p"),
        sum($"custkey").as("sum_ck"))
      .orderBy($"seg")
    val plan = planOf(j)
    assert(plan.contains("PushedJoin:") &&
      plan.contains("PushedGroupedAggregate: GROUP BY seg"), plan)
    // parity against Spark computing the same aggregate over the
    // row-level joined stream (forced by a non-pushable rollup? — a
    // fresh join whose agg uses an expression input, keeping it in Spark)
    val rows = {
      val oo = ordersDf(dir).filter($"price" > 100.0)
        .select($"custkey", $"price")
      val cc = custDf(dir).select($"_id".as("ck2"), $"name", $"seg")
      oo.join(cc, $"custkey" === $"ck2")
        .groupBy($"seg")
        .agg(count(lit(1)).as("n"), count($"name").as("n_name"),
          min($"price").as("min_p"), max($"price").as("max_p"),
          sum($"custkey").as("sum_ck"))
        .orderBy($"seg")
        .collect().map(_.toSeq).toSeq
    }
    assert(j.collect().map(_.toSeq).toSeq == rows)

    // GLOBAL aggregate over a join that matches nothing: count 0, not NULL
    val none = ordersDf(dir).filter($"price" > 1e9)
    val empty = none.join(c, none("custkey") === c("_id"))
      .agg(count(lit(1)).as("n"), max($"price").as("m"))
    assert(planOf(empty).contains("PushedGroupedAggregate: GLOBAL"), planOf(empty))
    val r = empty.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    // and equals Spark's answer over in-memory copies of both sides
    def local(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq), df.schema)
    val (ln, lc) = (local(none), local(c))
    assert(r == ln.join(lc, ln("custkey") === lc("_id"))
      .agg(count(lit(1)).as("n"), max($"price").as("m")).collect().head)
  }

  test("partial limit pushes through the join; limit+agg never combine") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = ordersDf(dir)
    val c = custDf(dir)
    val lim = o.join(c, o("custkey") === c("_id")).limit(7)
    val plan = planOf(lim)
    assert(plan.contains("PushedJoin:") && plan.contains("PushedLimit: 7"), plan)
    assert(lim.count() == 7L)

    val both = o.join(c, o("custkey") === c("_id"))
      .limit(50).groupBy($"seg").agg(count(lit(1)).as("n"))
    // the limit wins (pushed first); the aggregate stays in Spark
    val p2 = planOf(both)
    assert(p2.contains("PushedLimit: 50") &&
      !p2.contains("PushedGroupedAggregate"), p2)
    assert(both.agg(sum($"n")).collect().head.getLong(0) == 50L)
  }

  test("transport bound: one lookupJoin round-trip per split, zero row cursors") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val opts = Map("server_dir" -> dir,
      "client_factory" -> classOf[CountingServerFactory].getName,
      "assume_uniform_storage" -> "true", "splitter" -> "single")
    val o = spark.read.format("graftserver")
      .options(opts + ("ns" -> "db.orders"))
      .schema("_id LONG, custkey LONG, price DOUBLE, status STRING").load()
    val c = spark.read.format("graftserver")
      .options(opts + ("ns" -> "db.cust"))
      .schema("_id LONG, name STRING, seg INT").load()
    val j = o.join(c, o("custkey") === c("_id")).select($"custkey", $"name")
    CountingServerFactory.reset()
    assert(j.count() == 240L) // 300 orders, custkey%50, 40 custs -> 6 each
    assert(CountingServerFactory.count("lookupJoin") == 1,
      CountingServerFactory.snapshot().toString)
    assert(CountingServerFactory.count("find") == 0,
      CountingServerFactory.snapshot().toString)
  }

  test("refusals: different servers, unsafe key type, residual filter") {
    import spark.implicits._
    val dirA = freshDir()
    val dirB = freshDir()
    seed(dirA)
    seed(dirB)

    // different server_dir = different connection -> Spark joins
    val oA = ordersDf(dirA)
    val cB = custDf(dirB)
    val cross = oA.join(cB, oA("custkey") === cB("_id"))
    assert(!planOf(cross).contains("PushedJoin"), planOf(cross))
    assert(cross.count() > 0)

    // Long keys WITHOUT assume_uniform_storage refuse (a date storage
    // reads as a Long's millis but $eq's in the date bracket)
    val oPlain = spark.read.format("graftserver")
      .options(Map("server_dir" -> dirA, "ns" -> "db.orders"))
      .schema("_id LONG, custkey LONG, price DOUBLE").load()
    val cPlain = spark.read.format("graftserver")
      .options(Map("server_dir" -> dirA, "ns" -> "db.cust"))
      .schema("_id LONG, name STRING").load()
    val unsafe = oPlain.join(cPlain, oPlain("custkey") === cPlain("_id"))
    assert(!planOf(unsafe).contains("PushedJoin"), planOf(unsafe))
    assert(unsafe.count() > 0)

    // r14: a residual (untranslatable) filter no longer forfeits the
    // join — ResidualJoinHoist parks it as a recheck(...) Filter ABOVE
    // the pushed join (JoinResidualHoistSpec pins the full matrix)
    val o = ordersDf(dirA).filter(length($"status") === 2)
    val c = custDf(dirA)
    val resid = o.join(c, o("custkey") === c("_id"))
    assert(planOf(resid).contains("PushedJoin") &&
      planOf(resid).contains("recheck("), planOf(resid))
    assert(resid.count() > 0)
    // parity: every status value is 2 chars ('S0'..'S2'), so the
    // re-check keeps all inner-join rows
    val oAll = ordersDf(dirA)
    val cAll = custDf(dirA)
    val all = oAll.join(cAll, oAll("custkey") === cAll("_id"))
    assert(resid.count() == all.count())
  }

  test("3-way join CHAINS a second $lookup: one pipeline, zero Spark joins") {
    import spark.implicits._
    // orders ⋈ customers ⋈ segments, all on one server: a LONG seg
    // column so the second equi-join is cast-free (a cast in the
    // condition keeps that join in Spark, correctly)
    val dir2 = freshDir()
    seed(dir2)
    (0 until 40).map(i => (i.toLong, s"c$i", (i % 5).toLong))
      .toDF("_id", "name", "seg")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.custL"))
      .option("id_column", "_id").mode("append").save()
    (0 until 5).map(i => (i.toLong, s"seg$i"))
      .toDF("_id", "label")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.segs"))
      .option("id_column", "_id").mode("append").save()
    val o2 = ordersDf(dir2)
    val c2 = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.custL",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, seg LONG").load()
    val s2 = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.segs",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, label STRING").load()
    val star = o2.join(c2, o2("custkey") === c2("_id"))
      .join(s2, c2("seg") === s2("_id"))
      .select(o2("_id").as("okey"), $"price", $"name", $"label")
    val plan = planOf(star)
    assert(plan.contains("PushedJoin:") && plan.contains("THEN INNER db.segs"),
      plan)
    assert(!plan.contains("Join "), s"no Spark join exec expected:\n$plan")
    // parity: the same star computed by Spark over separate scans
    val exp = {
      val oo = ordersDf(dir2).select($"_id".as("okey"), $"custkey", $"price")
      val cc = spark.read.format("graftserver")
        .options(Map("server_dir" -> dir2, "ns" -> "db.custL"))
        .schema("_id LONG, name STRING, seg LONG").load()
        .select($"_id".as("ck"), $"name", $"seg")
      val ss = spark.read.format("graftserver")
        .options(Map("server_dir" -> dir2, "ns" -> "db.segs"))
        .schema("_id LONG, label STRING").load()
        .select($"_id".as("sk"), $"label")
      oo.join(cc, $"custkey" === $"ck").join(ss, $"seg" === $"sk")
        .select($"okey", $"price", $"name", $"label")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    val got = star.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got.nonEmpty && got == exp,
      s"got ${got.size} rows vs exp ${exp.size}")

    // an aggregate still pushes THROUGH the chained join: the $group
    // tail references the FINAL flatten boundary
    val agg = o2.join(c2, o2("custkey") === c2("_id"))
      .join(s2, c2("seg") === s2("_id"))
      .groupBy($"label").agg(count(lit(1)).as("n"))
    val aplan = planOf(agg)
    assert(aplan.contains("THEN INNER db.segs") &&
      aplan.contains("PushedGroupedAggregate: GROUP BY label"), aplan)
    val aexp = exp.groupBy(_(3)).view.mapValues(_.size.toLong).toMap
    val agot = agg.collect().map(r => (r.getString(0): Any) -> r.getLong(1)).toMap
    assert(agot == aexp, s"$agot vs $aexp")
  }

  test("ORDER BY ... LIMIT over a pushed join appends a $sort+$limit tail") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = ordersDf(dir)
    val c = custDf(dir)
    val top = o.join(c, o("custkey") === c("_id"))
      .select(o("_id").as("okey"), $"price", $"name")
      .orderBy($"price".desc, $"okey".asc)
      .limit(7)
    val plan = planOf(top)
    // the order keys are the JOIN's output names (the select alias
    // `okey` sits above the scan; `_id` is the driving column)
    assert(plan.contains("PushedJoin:") &&
      plan.contains("PushedTopN: ORDER BY price DESC, _id ASC LIMIT 7"), plan)
    assert(!plan.contains("Join "), plan)
    val exp = {
      val oo = ordersDf(dir).select($"_id".as("okey"), $"custkey", $"price")
      val cc = custDf(dir).select($"_id".as("ck"), $"name")
      oo.join(cc, $"custkey" === $"ck")
        .select($"okey", $"price", $"name")
        .orderBy($"price".desc, $"okey".asc).limit(7)
        .collect().map(_.toSeq).toSeq
    }
    assert(top.collect().map(_.toSeq).toSeq == exp)

    // a Long order key from a NON-uniform side refuses the TopN tail but
    // keeps the join pushed (the bracket gate runs per ORIGIN side)
    val oPlain = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.orders",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, custkey LONG, price DOUBLE").load()
    val cPlain = custDf(dir)
    val refuse = oPlain.join(cPlain, oPlain("custkey") === cPlain("_id"))
      .select(oPlain("_id").as("okey"), $"name")
      .orderBy($"name".asc) // String order key: always refused
      .limit(5)
    val rplan = planOf(refuse)
    assert(rplan.contains("PushedJoin:") && !rplan.contains("PushedTopN"), rplan)
    assert(refuse.collect().length == 5)
  }

  test("NESTED join keys push: meta.k = _id resolves through the struct output") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 0, nCust = 8)
    (0 until 50).map(i => (i.toLong, (i % 10).toLong, i * 2.0))
      .toDF("_id", "k", "price")
      .select($"_id", struct($"k").as("meta"), $"price")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.on"))
      .option("id_column", "_id").mode("append").save()
    val on = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.on",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, meta STRUCT<k: LONG>, price DOUBLE").load()
    val c = custDf(dir)
    val j = on.join(c, on("meta.k") === c("_id")).select($"price", $"name")
    val plan = planOf(j)
    assert(plan.contains("PushedJoin: INNER db.cust ON meta.k = _id"), plan)
    assert(!plan.contains("Join "), plan)
    // parity: cust has ids 0..7, orders key i%10 -> 40 of 50 match
    val exp = {
      val oo = spark.read.format("graftserver")
        .options(Map("server_dir" -> dir, "ns" -> "db.on"))
        .schema("_id LONG, meta STRUCT<k: LONG>, price DOUBLE").load()
        .select($"meta.k".as("mk"), $"price")
      val cc = custDf(dir).select($"_id".as("ck2"), $"name")
      oo.join(cc, $"mk" === $"ck2").select($"price", $"name")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    val got = j.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got.size == 40 && got == exp)
    // nested Long key WITHOUT uniform storage refuses (leaf-type gate)
    val plain = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.on"))
      .schema("_id LONG, meta STRUCT<k: LONG>, price DOUBLE").load()
    val r = plain.join(c, plain("meta.k") === c("_id"))
    assert(!planOf(r).contains("PushedJoin"), planOf(r))
    assert(r.count() == 40L)
  }

  test("DISTINCT and a partial LIMIT push through joins and chains") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    (0 until 5).map(i => (i.toLong, s"seg$i")).toDF("_id", "label")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.segs"))
      .option("id_column", "_id").mode("append").save()
    val o = ordersDf(dir)
    val c = custDf(dir)
    // SELECT DISTINCT over the joined output rides the zero-aggregate
    // $group tail — #distinct names cross the wire per split
    val dist = o.join(c, o("custkey") === c("_id")).select($"name").distinct()
    val dplan = planOf(dist)
    assert(dplan.contains("PushedJoin:") &&
      dplan.contains("PushedGroupedAggregate: GROUP BY name []"), dplan)
    assert(dist.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 40).map(i => s"c$i").sorted)
    // a bare LIMIT over a CHAINED join appends the partial $limit after
    // the last $unwind (LONG seg fixture so the chain key is cast-free)
    val dir2 = freshDir()
    seed(dir2)
    (0 until 40).map(i => (i.toLong, s"c$i", (i % 5).toLong))
      .toDF("_id", "name", "seg")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.custL"))
      .option("id_column", "_id").mode("append").save()
    (0 until 5).map(i => (i.toLong, s"seg$i")).toDF("_id", "label")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.segs"))
      .option("id_column", "_id").mode("append").save()
    val o2 = ordersDf(dir2)
    val cL = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.custL",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING, seg LONG").load()
    val sL = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir2, "ns" -> "db.segs",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, label STRING").load()
    val chainLim = o2.join(cL, o2("custkey") === cL("_id"))
      .join(sL, cL("seg") === sL("_id"))
      .select($"name", $"label").limit(5)
    val lplan = planOf(chainLim)
    assert(lplan.contains("THEN INNER db.segs") &&
      lplan.contains("PushedLimit: 5"), lplan)
    assert(chainLim.collect().length == 5)
  }

  test("4-way chain and chaining onto a MIRRORED (right-outer) join both stay one pipeline") {
    import spark.implicits._
    val dir = freshDir()
    // four collections: orders -> cust -> seg -> region
    (0 until 60).map(i => (i.toLong, (i % 12).toLong, i * 1.0))
      .toDF("_id", "ck", "price")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.o4"))
      .option("id_column", "_id").mode("append").save()
    (0 until 12).map(i => (i.toLong, (i % 4).toLong)).toDF("_id", "seg")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.c4"))
      .option("id_column", "_id").mode("append").save()
    (0 until 4).map(i => (i.toLong, (i % 2).toLong)).toDF("_id", "reg")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.s4"))
      .option("id_column", "_id").mode("append").save()
    (0 until 2).map(i => (i.toLong, s"r$i")).toDF("_id", "rname")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.r4"))
      .option("id_column", "_id").mode("append").save()
    def rd(ns: String, schema: String) = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> ns,
        "assume_uniform_storage" -> "true"))
      .schema(schema).load()
    val o = rd("db.o4", "_id LONG, ck LONG, price DOUBLE")
    val c = rd("db.c4", "_id LONG, seg LONG")
    val sg = rd("db.s4", "_id LONG, reg LONG")
    val rg = rd("db.r4", "_id LONG, rname STRING")
    val star = o.join(c, o("ck") === c("_id"))
      .join(sg, c("seg") === sg("_id"))
      .join(rg, sg("reg") === rg("_id"))
      .groupBy($"rname").agg(count(lit(1)).as("n"))
    val plan = planOf(star)
    assert(plan.contains("THEN INNER db.s4") &&
      plan.contains("THEN INNER db.r4") &&
      plan.contains("PushedGroupedAggregate: GROUP BY rname"), plan)
    assert(!plan.contains("Join "), plan)
    val got = star.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ck 0..11 -> seg i%4 -> reg i%2: r0 gets segs {0,2} = cks {0,4,8,2,6,10}
    // = 6 cks x 5 orders each = 30; r1 the other 30
    assert(got == Map("r0" -> 30L, "r1" -> 30L), got.toString)

    // chaining onto a MIRRORED base: right_outer(o, c) drives from c,
    // then one more inner lookup appends to the same pipeline
    val mchain = o.join(c, o("ck") === c("_id"), "right_outer")
      .join(sg, c("seg") === sg("_id"))
      .select($"price", $"seg", $"reg")
    val mplan = planOf(mchain)
    assert(mplan.contains("PushedJoin: LEFT OUTER") &&
      mplan.contains("THEN INNER db.s4"), mplan)
    assert(mchain.count() == 60L) // every cust matched, each ck has 5 orders
  }

  test("NESTED refs through the joined pipeline: GROUP BY meta.lang and ORDER BY meta.score over a struct output") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 0, nCust = 8)
    (0 until 40).map(i => (i.toLong, (i % 10).toLong, s"l${i % 3}", i * 1.5))
      .toDF("_id", "ck", "lang", "score")
      .select($"_id", $"ck", struct($"lang", $"score").as("meta"))
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.om"))
      .option("id_column", "_id").mode("append").save()
    val o = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.om",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, ck LONG, meta STRUCT<lang: STRING, score: DOUBLE>")
      .load()
    val c = custDf(dir)
    // grouped tail referencing a nested LEFT output: $group on
    // "$meta.lang" above the $unwind (the joined-home head rule)
    val g = o.join(c, o("ck") === c("_id"))
      .groupBy($"meta.lang")
      .agg(count(lit(1)).as("n"), max($"meta.score").as("mx"))
    val gplan = planOf(g)
    assert(gplan.contains("PushedJoin:") &&
      gplan.contains("PushedGroupedAggregate: GROUP BY meta.lang"), gplan)
    val got = g.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // cks 0..7 match (32 of 40 rows); per lang l0/l1/l2 the matched rows
    val exp = (0 until 40).filter(_ % 10 < 8)
      .groupBy(i => s"l${i % 3}")
      .map { case (l, is) => l -> (is.size.toLong, is.map(_ * 1.5).max) }
    assert(got == exp, s"$got vs $exp")
    // NOTE: a nested ORDER BY over a join does NOT reach pushTopN —
    // Spark's nested-column extraction rewrites `meta.score` into a
    // Project BELOW the join before the join-pushdown rule runs, so the
    // join input is no longer a bare scan (Catalyst rule ordering, not
    // an engine refusal). The query still answers correctly via Spark's
    // own TakeOrdered; only whole-column orders push through joins.
    val t = o.join(c, o("ck") === c("_id"))
      .select(o("_id").as("okey"), $"meta.score".as("sc"), $"name")
      .orderBy($"meta.score".desc, o("_id").asc).limit(3)
    assert(t.collect().map(_.getLong(0)).toSeq == Seq(37L, 36L, 35L))
  }

  test("SELF-join (same collection both sides) pushes as a $lookup from itself") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 50, nCust = 0)
    val o1 = ordersDf(dir)
    val o2 = ordersDf(dir)
    // each order joined to the order whose _id equals its custkey
    val j = o1.join(o2, o1("custkey") === o2("_id"))
      .select(o1("_id").as("a"), o2("_id").as("b"), o2("price").as("bp"))
    val plan = planOf(j)
    assert(plan.contains("PushedJoin: INNER db.orders"), plan)
    assert(!plan.contains("Join "), plan)
    val got = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // custkey = i % 50 over ids 0..49: every order matches, b = custkey
    assert(got.size == 50 &&
      got.forall { case (a, b, bp) => b == a % 50 && bp == b * 7 % 1000 * 1.0 })
  }

  test("an output column named __j (the $lookup joined field) never reaches the wire") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir, nOrders = 60, nCust = 20)
    // a RENAME to the lookup's internal joined-field name no longer
    // blocks the push (r15): AliasPullup moves the rename ABOVE the
    // join, so the pipeline's output names never include __j — on a
    // real server the $lookup's `as: __j` sees no collision
    val o = ordersDf(dir).select($"_id", $"custkey".as("__j"))
    val c = custDf(dir)
    val j = o.join(c, o("__j") === c("_id"))
    val plan = planOf(j)
    assert(plan.contains("PushedJoin"), plan)
    // the BatchScan's own output (everything from "BatchScan" to the
    // end) must not carry a __j column — the rename sits above it
    assert(!plan.substring(plan.indexOf("BatchScan")).contains("__j"),
      s"scan output must not carry __j:\n$plan")
    // custkey = i % 50 over 60 orders; customers 0..19 → 20 + 10 matches
    assert(j.count() == 30)

    // a SCHEMA column literally named __j still refuses: the wire's
    // $lookup `as` field would overwrite it — no rename to pull up
    Seq((1L, 5L), (2L, 6L)).toDF("_id", "__j")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.jcol"))
      .option("id_column", "_id").mode("append").save()
    val raw = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.jcol",
        "assume_uniform_storage" -> "true"))
      .schema("_id LONG, __j LONG").load()
    val c2 = custDf(dir)
    val rj = raw.join(c2, raw("_id") === c2("_id"))
    assert(!planOf(rj).contains("PushedJoin"), planOf(rj))
    assert(rj.count() == 2)
  }
}
