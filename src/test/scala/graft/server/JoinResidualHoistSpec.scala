package graft.server

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Residual-tolerant join pushdown (r14): Spark 4.1's pushDownJoin only
  * fires when both join inputs are BARE scans, so one untranslatable
  * predicate used to forfeit the pushed `$lookup` join entirely. The
  * [[graft.plans.ResidualJoinHoist]] rule hoists exactly those conjuncts
  * to a `recheck(...)`-wrapped Filter ABOVE the join — the plan then
  * shows `PushedJoin` AND a Spark Filter above the scan, the reference's
  * decomposePredicate discipline (MongoStorageHandler.java:100-128)
  * applied to the join pipeline.
  *
  * Parity baselines are computed over LOCAL copies of the collections
  * (no graftserver relation in the baseline plan), so the rule and the
  * pushed join cannot mask their own bugs.
  */
class JoinResidualHoistSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-join-residual").toString

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def seed(dir: String): Unit = {
    import spark.implicits._
    (0 until 120).map(i =>
        (i.toLong, (i % 20).toLong, (i % 7).toLong, (i * 7 % 100).toDouble))
      .toDF("_id", "custkey", "suppkey", "price")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.o"))
      .option("id_column", "_id").mode("append").save()
    // only 15 of the 20 custkeys exist: LEFT OUTER has null-extended rows
    (0 until 15).map(i => (i.toLong, s"c$i", (i % 5).toDouble))
      .toDF("_id", "name", "disc")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.c"))
      .option("id_column", "_id").mode("append").save()
    (0 until 7).map(i => (i.toLong, s"s$i")).toDF("_id", "sname")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.s"))
      .option("id_column", "_id").mode("append").save()
  }

  private def serverDf(dir: String, ns: String, schema: String): DataFrame =
    spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> ns,
        "assume_uniform_storage" -> "true"))
      .schema(schema).load()

  /** A LOCAL (in-memory) copy — baselines never touch the source. */
  private def localCopy(df: DataFrame): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)),
      df.schema)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  test("WHERE both-sides arithmetic over an inner join: PushedJoin + recheck Filter, exact rows") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = serverDf(dir, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
    val c = serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE")
    val q = o.join(c, o("custkey") === c("_id"))
      .filter(o("price") + c("disc") > 50.0)
      .select(o("_id").as("okey"), $"name", $"price", $"disc")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: INNER db.c"), plan)
    assert(plan.contains("Filter recheck("), s"re-check Filter missing:\n$plan")
    assert(!plan.contains("HashJoin") && !plan.contains("SortMergeJoin"),
      s"no Spark join expected:\n$plan")

    val lo = localCopy(serverDf(dir, "db.o",
      "_id LONG, custkey LONG, suppkey LONG, price DOUBLE"))
    val lc = localCopy(serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE"))
    val exp = lo.join(lc, lo("custkey") === lc("_id"))
      .filter(lo("price") + lc("disc") > 50.0)
      .select(lo("_id").as("okey"), $"name", $"price", $"disc")
    assert(sortedRows(q) == sortedRows(exp))
    assert(q.count() > 0, "fixture must exercise surviving rows")
    assert(q.count() < lo.join(lc, lo("custkey") === lc("_id")).count(),
      "fixture must exercise dropped rows")
  }

  test("ON-clause non-equi extra conjunct: pushed on the equality, re-checked above") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = serverDf(dir, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
    val c = serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE")
    val q = o.join(c, o("custkey") === c("_id") && o("price") * c("disc") < 90.0)
      .select(o("_id").as("okey"), $"name")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: INNER db.c") && plan.contains("recheck("), plan)

    val lo = localCopy(serverDf(dir, "db.o",
      "_id LONG, custkey LONG, suppkey LONG, price DOUBLE"))
    val lc = localCopy(serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE"))
    val exp = lo.join(lc, lo("custkey") === lc("_id") && lo("price") * lc("disc") < 90.0)
      .select(lo("_id").as("okey"), $"name")
    assert(sortedRows(q) == sortedRows(exp))
  }

  test("single-side residual (arithmetic, UDF, NOT IN) hoists; join stays pushed") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = serverDf(dir, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
    val c = serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE")
    val lo = localCopy(o)
    val lc = localCopy(c)

    // arithmetic over one side, written BELOW the join
    val arith = o.filter(o("price") + o("custkey").cast("double") > 30.0)
      .join(c, o("custkey") === c("_id"))
      .select(o("_id").as("okey"), $"name")
    assert(planOf(arith).contains("PushedJoin: INNER db.c") &&
      planOf(arith).contains("recheck("), planOf(arith))
    val arithExp = lo.filter(lo("price") + lo("custkey").cast("double") > 30.0)
      .join(lc, lo("custkey") === lc("_id")).select(lo("_id").as("okey"), $"name")
    assert(sortedRows(arith) == sortedRows(arithExp))

    // a Scala UDF — the headline untranslatable predicate
    val f = udf((x: Double) => x > 30.0)
    val viaUdf = o.join(c, o("custkey") === c("_id"))
      .filter(f(o("price") + c("disc")))
      .select(o("_id").as("okey"), $"name")
    assert(planOf(viaUdf).contains("PushedJoin: INNER db.c") &&
      planOf(viaUdf).contains("recheck("), planOf(viaUdf))
    val udfExp = lo.join(lc, lo("custkey") === lc("_id"))
      .filter(f(lo("price") + lc("disc"))).select(lo("_id").as("okey"), $"name")
    assert(sortedRows(viaUdf) == sortedRows(udfExp))

    // NOT IN: v1-translatable shape the engine's translator refuses
    val notIn = o.filter(!o("price").isin(0.0, 7.0, 14.0))
      .join(c, o("custkey") === c("_id"))
      .select(o("_id").as("okey"), $"name")
    assert(planOf(notIn).contains("PushedJoin: INNER db.c") &&
      planOf(notIn).contains("recheck("), planOf(notIn))
    val notInExp = lo.filter(!lo("price").isin(0.0, 7.0, 14.0))
      .join(lc, lo("custkey") === lc("_id")).select(lo("_id").as("okey"), $"name")
    assert(sortedRows(notIn) == sortedRows(notInExp))
  }

  test("a leg naming the default client_factory shares the other leg's connection: UDF residual hoists") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val odd = udf((x: Long) => x % 2 == 1)
    // the same server twice: once by default, once by the factory's name
    def query(): DataFrame = {
      val o = serverDf(dir, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
      val c = spark.read.format("graftserver")
        .options(Map("server_dir" -> dir, "ns" -> "db.c",
          "assume_uniform_storage" -> "true",
          "client_factory" -> classOf[DirServerFactory].getName))
        .schema("_id LONG, name STRING, disc DOUBLE").load()
      o.filter(odd(o("suppkey"))).join(c, o("custkey") === c("_id"))
        .select(o("_id").as("okey"), $"name")
    }
    val q = query()
    assert(planOf(q).contains("PushedJoin: INNER db.c") && planOf(q).contains("recheck("),
      planOf(q))
    spark.conf.set(graft.GraftConf.JoinPushdownConf, "false")
    val exp = try sortedRows(query()) finally spark.conf.set(graft.GraftConf.JoinPushdownConf, "true")
    assert(sortedRows(q) == exp)
    assert(exp.nonEmpty)
  }

  test("LEFT OUTER: preserved-side residual hoists; lookup-side residual refuses") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = serverDf(dir, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
    val c = serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE")
    val lo = localCopy(o)
    val lc = localCopy(c)

    // LEFT side (preserved): hoist is exact — null-extended rows keep
    // their left columns, so the predicate evaluates identically
    val left = o.filter(o("price") + o("custkey").cast("double") > 30.0)
      .join(c, o("custkey") === c("_id"), "left_outer")
      .select(o("_id").as("okey"), $"name")
    val lPlan = planOf(left)
    assert(lPlan.contains("PushedJoin: LEFT OUTER db.c") &&
      lPlan.contains("recheck("), lPlan)
    val leftExp = lo.filter(lo("price") + lo("custkey").cast("double") > 30.0)
      .join(lc, lo("custkey") === lc("_id"), "left_outer")
      .select(lo("_id").as("okey"), $"name")
    assert(sortedRows(left) == sortedRows(leftExp))
    assert(left.filter($"name".isNull).count() > 0,
      "fixture must exercise null-extended rows")

    // RIGHT (lookup) side of a LEFT OUTER: hoisting would DROP the
    // null-extended rows the join must keep — the rule refuses, the
    // join stays in Spark, and rows are still exact
    val cf = c.filter(c("disc") * 2.0 > 4.0)
    val right = o.join(cf, o("custkey") === cf("_id"), "left_outer")
      .select(o("_id").as("okey"), $"name")
    val rPlan = planOf(right)
    assert(!rPlan.contains("recheck("), s"must not hoist lookup side:\n$rPlan")
    assert(!rPlan.contains("PushedJoin"), rPlan)
    val lcf = lc.filter(lc("disc") * 2.0 > 4.0)
    val rightExp = lo.join(lcf, lo("custkey") === lcf("_id"), "left_outer")
      .select(lo("_id").as("okey"), $"name")
    assert(sortedRows(right) == sortedRows(rightExp))
  }

  test("3-way chain with a base-join residual stays ONE pushed pipeline") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val o = serverDf(dir, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
    val c = serverDf(dir, "db.c", "_id LONG, name STRING, disc DOUBLE")
    val s = serverDf(dir, "db.s", "_id LONG, sname STRING")
    val q = o.join(c, o("custkey") === c("_id"))
      .filter(o("price") + c("disc") > 50.0)
      .join(s, o("suppkey") === s("_id"))
      .select(o("_id").as("okey"), $"name", $"sname")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: INNER db.c") &&
      plan.contains("THEN INNER db.s"), plan)
    assert(plan.contains("recheck("), plan)
    assert(!plan.contains("HashJoin") && !plan.contains("SortMergeJoin"), plan)

    val lo = localCopy(o); val lc = localCopy(c); val ls = localCopy(s)
    val exp = lo.join(lc, lo("custkey") === lc("_id"))
      .filter(lo("price") + lc("disc") > 50.0)
      .join(ls, lo("suppkey") === ls("_id"))
      .select(lo("_id").as("okey"), $"name", $"sname")
    assert(sortedRows(q) == sortedRows(exp))
  }

  test("refusal matrix: different servers, nondeterministic below, no surviving equality") {
    import spark.implicits._
    val dirA = freshDir(); val dirB = freshDir()
    seed(dirA); seed(dirB)
    val o = serverDf(dirA, "db.o", "_id LONG, custkey LONG, suppkey LONG, price DOUBLE")
    val cOther = serverDf(dirB, "db.c", "_id LONG, name STRING, disc DOUBLE")

    // different servers: never hoisted (and never pushed)
    val cross = o.join(cOther, o("custkey") === cOther("_id"))
      .filter(o("price") + cOther("disc") > 50.0)
      .select(o("_id").as("okey"), $"name")
    val crossPlan = planOf(cross)
    assert(!crossPlan.contains("recheck(") && !crossPlan.contains("PushedJoin"),
      crossPlan)

    // nondeterministic predicate BELOW the join: not hoistable — the
    // join falls back to Spark (pre-join sampling semantics preserved)
    val c = serverDf(dirA, "db.c", "_id LONG, name STRING, disc DOUBLE")
    val nd = o.filter(o("price") + rand(7) >= 0.0)
      .join(c, o("custkey") === c("_id"))
      .select(o("_id").as("okey"), $"name")
    val ndPlan = planOf(nd)
    assert(!ndPlan.contains("recheck(") && !ndPlan.contains("PushedJoin"), ndPlan)
    // 120 orders x custkey = i%20, only custkeys 0..14 exist -> 90 rows
    assert(nd.count() == 90, "rand >= 0 keeps every inner-join row")

    // no equality left after stripping: nothing to push a $lookup on
    val noEq = o.join(c, o("price") > c("disc"))
      .select(o("_id").as("okey"), $"name")
    val noEqPlan = planOf(noEq)
    assert(!noEqPlan.contains("recheck(") && !noEqPlan.contains("PushedJoin"),
      noEqPlan)
  }

  test("user-written null test on an ARRAY column hoists (type-aware probe, r17)") {
    import spark.implicits._
    val dir = freshDir()
    // o rows 0/1 carry arrays, row 2 a null one; custkey 9 matches no c
    Seq((0L, 5L, Seq("a", "b")), (1L, 6L, Seq("c")),
        (2L, 5L, null.asInstanceOf[Seq[String]]), (3L, 9L, Seq("d")))
      .toDF("_id", "custkey", "tags")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.oa"))
      .option("id_column", "_id").mode("append").save()
    Seq((5L, "eve"), (6L, "mal")).toDF("_id", "name")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.ca"))
      .option("id_column", "_id").mode("append").save()
    val o = serverDf(dir, "db.oa", "_id LONG, custkey LONG, tags ARRAY<STRING>")
    val c = serverDf(dir, "db.ca", "_id LONG, name STRING")
    // the scan keeps IsNotNull(array) residual (arrayNullTest — the wire
    // form element-matches on a live server), and the name-level
    // translate probe used to claim it pushable, silently forfeiting
    // the join; the type-aware probe hoists it to a recheck above
    val q = o.filter(o("tags").isNotNull)
      .join(c, o("custkey") === c("_id"))
      .select(o("_id").as("okey"), $"name", $"tags")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: INNER db.ca") &&
      plan.contains("recheck(") && !plan.contains("Join "), plan)
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((0L, "eve"), (1L, "mal")))
  }
}
