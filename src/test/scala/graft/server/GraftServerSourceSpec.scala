package graft.server

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The `graftserver` DSv2 source end-to-end over the file-rooted fake
  * transport: distributed write (batched bulkWrites per task), schema
  * inference by server sampling, split planning through the shared
  * strategy chain, filter/projection/limit pushdown reaching the cursor,
  * and keyed upsert semantics surviving a second pass.
  */
class GraftServerSourceSpec extends SparkSpec {

  private def serverOpts(dir: String, ns: String): Map[String, String] =
    Map("server_dir" -> dir, "ns" -> ns)

  private def freshDir(): String =
    Files.createTempDirectory("graft-server-spec").toString

  test("write then read round-trips through the server transport") {
    import spark.implicits._
    val dir = freshDir()
    val df = graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    df.write.format("graftserver")
      .options(serverOpts(dir, "db.cust")).option("id_column", "c_custkey")
      .mode("append").save()

    val back = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.cust")).load()
    assert(back.count() === df.count())
    // id_column key-merge: c_custkey became _id
    assert(back.columns.toSet === Set("_id", "c_name", "c_acctbal"))
    val expect = df.select(sum($"c_acctbal")).as[Double].first()
    val got = back.select(sum($"c_acctbal")).as[Double].first()
    assert(math.abs(expect - got) < 1e-6)
  }

  test("small split_size plans multiple partitions; union is complete") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_totalprice")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.orders")).option("id_column", "o_orderkey")
      .mode("append").save()

    val back = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.orders")).option("split_size", "4096")
      .load()
    assert(back.rdd.getNumPartitions > 1,
      s"expected several splits, got ${back.rdd.getNumPartitions}")
    val n = graft.Tables.orders(spark, sf0001).count()
    assert(back.count() === n)
    assert(back.select(countDistinct($"_id")).as[Long].first() === n)
  }

  test("filter and projection pushdown reach the server cursor") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_nationkey")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.cust2")).option("id_column", "c_custkey")
      .mode("append").save()

    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.cust2")).load()
      .filter($"c_acctbal" > 1000.0)
      .select($"_id", $"c_acctbal")
    val planned = q.queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters") || planned.contains("c_acctbal"),
      s"no pushdown evidence in plan:\n$planned")
    // correctness of the pushed read
    val expect = graft.Tables.customer(spark, sf0001)
      .filter($"c_acctbal" > 1000.0).count()
    assert(q.count() === expect)
    // the scan-level schema shows only the required columns
    val scanSchemas = q.queryExecution.executedPlan.collectLeaves().map(_.schema)
    assert(scanSchemas.exists(_.fieldNames.toSet == Set("_id", "c_acctbal")),
      s"projection not pruned at scan: ${scanSchemas.mkString(";")}")
  }

  test("option-level query composes with pushed filters") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.nation(spark, sf0001)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.nation")).option("id_column", "n_nationkey")
      .mode("append").save()

    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.nation"))
      .option("query", """{"n_regionkey": {"$lt": 3}}""")
      .load()
      .filter($"n_regionkey" >= 1)
    val expect = graft.Tables.nation(spark, sf0001)
      .filter($"n_regionkey" >= 1 && $"n_regionkey" < 3).count()
    assert(q.count() === expect)
  }

  test("keyed upsert with $inc accumulates across two write passes") {
    import spark.implicits._
    val dir = freshDir()
    val counts = graft.Tables.events(spark, sf0001)
      .groupBy($"user_id".as("_id")).agg(count(lit(1)).as("n"))
    for (_ <- 1 to 2)
      counts.write.format("graftserver")
        .options(serverOpts(dir, "db.counts"))
        .option("mode", "upsert").option("update_op", "inc")
        .mode("append").save()

    val back = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.counts")).load()
    assert(back.count() === counts.count())
    val doubled = back.join(counts.withColumnRenamed("n", "n1"), "_id")
      .filter($"n" =!= $"n1" * 2).count()
    assert(doubled === 0, "every upserted count should be exactly doubled")
  }

  test("bare COUNT(*) is answered from collStats without cursors") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.supplier(spark, sf0001)
      .select($"s_suppkey", $"s_name")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.supp_count")).option("id_column", "s_suppkey")
      .mode("append").save()

    val df = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.supp_count"))
      .option("client_factory", classOf[CountingServerFactory].getName).load()
    val counted = df.agg(count(lit(1)).as("n"))
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GLOBAL [count(*)]"),
      s"aggregate not pushed:\n$plan")
    CountingServerFactory.reset()
    assert(counted.as[Long].first() ===
      graft.Tables.supplier(spark, sf0001).count())
    // no cursor and no pipeline: collStats alone answers it
    assert(CountingServerFactory.count("groupAggregate") == 0 &&
      CountingServerFactory.count("find") == 0 &&
      CountingServerFactory.count("collStats") > 0,
      s"counts: ${CountingServerFactory.snapshot()}")
    // a filter leaves collStats (it counts the whole collection): a LONG
    // compare without uniform storage stays in Spark over a cursor...
    val want = graft.Tables.supplier(spark, sf0001).filter($"s_suppkey" > 10).count()
    val filtered = df.filter($"_id" > 10).agg(count(lit(1)).as("n"))
    CountingServerFactory.reset()
    assert(filtered.as[Long].first() === want)
    assert(CountingServerFactory.count("groupAggregate") == 0 &&
      CountingServerFactory.count("find") > 0,
      s"counts: ${CountingServerFactory.snapshot()}")
    // ...and with it, renders into one $match+$group pipeline
    val pushed = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.supp_count") + ("assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName).load()
      .filter($"_id" > 10).agg(count(lit(1)).as("n"))
    assert(pushed.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GLOBAL [count(*)]"))
    CountingServerFactory.reset()
    assert(pushed.as[Long].first() === want)
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      s"counts: ${CountingServerFactory.snapshot()}")
  }

  test("global MIN/MAX are answered by one $group; nulls excluded") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_totalprice",
        // null for odd keys: $min must skip nulls (BSON sorts them FIRST
        // ascending)
        when($"o_orderkey" % 2 === 0, $"o_totalprice").as("maybe"))
      .write.format("graftserver")
      .options(serverOpts(dir, "db.minmax")).option("id_column", "o_orderkey")
      .mode("append").save()

    val df = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.minmax")).load()
    val agg = df.agg(
      min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"),
      count(lit(1)).as("n"), min($"maybe").as("m"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GLOBAL " +
        "[min(o_totalprice), max(o_totalprice), count(*), min(maybe)]"),
      s"min/max not pushed:\n$plan")
    val row = agg.first()
    val base = graft.Tables.orders(spark, sf0001)
      .agg(min($"o_totalprice"), max($"o_totalprice"), count(lit(1)),
        min(when($"o_orderkey" % 2 === 0, $"o_totalprice"))).first()
    assert(row.getDouble(0) === base.getDouble(0))
    assert(row.getDouble(1) === base.getDouble(1))
    assert(row.getLong(2) === base.getLong(2))
    assert(row.getDouble(3) === base.getDouble(3),
      "min over a half-null column must skip the nulls")
  }

  test("comma ns reads a union of namespaces; COUNT(*) sums collStats") {
    import spark.implicits._
    val dir = freshDir()
    val cust = graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_acctbal")
    val lo = cust.filter($"c_custkey" % 2 === 0)
    val hi = cust.filter($"c_custkey" % 2 =!= 0)
    lo.write.format("graftserver").options(serverOpts(dir, "db.even"))
      .option("id_column", "c_custkey").mode("append").save()
    hi.write.format("graftserver").options(serverOpts(dir, "db.odd"))
      .option("id_column", "c_custkey").mode("append").save()

    val union = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.even,db.odd")).load()
    assert(union.count() === cust.count())
    assert(union.select(countDistinct($"_id")).as[Long].first() === cust.count())
    // pushed COUNT(*) sums per-namespace collStats
    val counted = union.agg(count(lit(1)).as("n"))
    assert(counted.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GLOBAL [count(*)]"))
    assert(counted.as[Long].first() === cust.count())
    // MIN folds across namespaces
    val m = union.agg(min($"c_acctbal").as("m"))
    assert(m.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GLOBAL [min(c_acctbal)]"))
    assert(m.as[Double].first() ===
      cust.agg(min($"c_acctbal")).as[Double].first())
    // writes refuse the union form
    val err = intercept[Exception] {
      cust.write.format("graftserver").options(serverOpts(dir, "db.a,db.b"))
        .mode("append").save()
    }
    assert(err.getMessage.contains("single namespace"))
  }

  test("CREATE TABLE ... USING graftserver registers a SQL catalog table") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.nation(spark, sf0001)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.nation_ddl")).option("id_column", "n_nationkey")
      .mode("append").save()
    try {
      spark.sql(s"""CREATE TABLE server_nation USING graftserver
        OPTIONS (server_dir '$dir', ns 'db.nation_ddl')""")
      val n = spark.sql("SELECT count(*) AS n FROM server_nation WHERE n_regionkey < 3")
        .head.getLong(0)
      val expect = graft.Tables.nation(spark, sf0001).filter($"n_regionkey" < 3).count()
      assert(n === expect)
    } finally spark.sql("DROP TABLE IF EXISTS server_nation")
  }

  test("runtime IN-set prunes server splits and narrows the cursor query") {
    import graft.bson._
    import graft.query.BQuery
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types._
    import spark.implicits._

    val dir = freshDir()
    graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_totalprice")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.rt")).option("id_column", "o_orderkey")
      .mode("append").save()

    val schema = StructType(Seq(
      StructField("_id", LongType), StructField("o_totalprice", DoubleType)))
    val scan = new graft.source.GraftScan(graft.source.ScanSpec(schema),
      serverOpts(dir, "db.rt") + ("split_size" -> "4096"), ServerTransport)
    val before = scan.planInputPartitions().length
    assert(before > 2, s"need several key-range partitions, got $before")
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("_id"))

    val keys = Seq(1L, 2L)
    scan.filter(Array(new Predicate("IN",
      (Expressions.column("_id") +: keys.map(v => Bridge.v2Literal(v, LongType))).toArray)))
    val after = scan.planInputPartitions()
    assert(after.length < before, s"no pruning: $before -> ${after.length}")
    // the kept partitions' ranges can hold the runtime values
    assert(after.map(_.asInstanceOf[GraftServerPartition]).exists(p =>
      graft.source.Planners.rangeMayHoldReadEq(p.range, BInt64(1L))))
    // cursor narrowing: the reader-factory query carries the IN-set
    val factory = scan.createReaderFactory()
    val reader = factory.createReader(after.head)
    try {
      var n = 0
      while (reader.next()) n += 1
      assert(n <= keys.size, s"cursor returned $n rows for a ${keys.size}-key IN-set")
    } finally reader.close()
  }

  test("ORDER BY + LIMIT pushes a per-cursor top-n under uniform storage") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_totalprice")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.topn")).option("id_column", "o_orderkey")
      .mode("append").save()

    def read(extra: Map[String, String]) = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.topn") ++ extra)
      .option("split_size", "8192").load()

    // DoubleType sorts are always safe (one numeric bracket)
    val top = read(Map.empty).orderBy($"o_totalprice".desc).limit(5)
    assert(top.queryExecution.executedPlan.toString.contains("PushedTopN"),
      s"no PushedTopN in:\n${top.queryExecution.executedPlan}")
    val expect = graft.Tables.orders(spark, sf0001)
      .orderBy($"o_totalprice".desc).limit(5)
      .select($"o_totalprice").as[Double].collect().toSeq
    assert(top.select($"o_totalprice").as[Double].collect().toSeq === expect)

    // LongType (_id) refuses without the uniform-storage opt-in...
    val refused = read(Map.empty).orderBy($"_id").limit(3)
    assert(!refused.queryExecution.executedPlan.toString.contains("PushedTopN"))
    // ...and pushes with it (this engine writes Long as int64, uniformly)
    val granted = read(Map("assume_uniform_storage" -> "true"))
      .orderBy($"_id").limit(3)
    assert(granted.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(granted.select($"_id").as[Long].collect().toSeq ===
      graft.Tables.orders(spark, sf0001).orderBy($"o_orderkey").limit(3)
        .select($"o_orderkey").as[Long].collect().toSeq)
  }

  test("multi-column ORDER BY pushes a compound sort doc; one unsafe key refuses all") {
    import spark.implicits._
    val dir = freshDir()
    // deliberate ties in the primary key so the tie-break key decides
    Seq((1L, 10, 5.0, "a"), (2L, 10, 3.0, "b"), (3L, 10, 9.0, "c"),
      (4L, 20, 1.0, "d"), (5L, 20, 8.0, "e"), (6L, 5, 2.0, "f"))
      .toDF("k", "g", "v", "s")
      .write.format("graftserver").options(serverOpts(dir, "db.mtopn"))
      .option("id_column", "k").mode("append").save()
    def read() = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.mtopn"))
      .schema("_id LONG, g INT, v DOUBLE, s STRING").load()
    val q = read().orderBy($"g".desc, $"v".asc).limit(3)
      .select($"_id", $"g", $"v")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY g DESC, v ASC LIMIT 3"),
      s"no compound TopN in:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(4L, 5L, 2L),
      "tie-break order must decide inside the g=20 and g=10 brackets")
    // one bracket-unsafe key (string) poisons the whole compound order
    val refused = read().orderBy($"g".desc, $"s".asc).limit(3)
    assert(!refused.queryExecution.executedPlan.toString.contains("PushedTopN"))
    // correctness unaffected by the refusal
    assert(refused.select($"_id").collect().map(_.getLong(0)).toSeq ===
      Seq(4L, 5L, 1L))
  }

  test("sort option orders each cursor; reported to Catalyst only when safe") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_acctbal", $"c_name")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.sorted")).option("id_column", "c_custkey")
      .mode("append").save()

    // DoubleType sort reported: sortWithinPartitions on the same key is elided
    val sorted = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.sorted")).option("sort", "c_acctbal")
      .load().sortWithinPartitions($"c_acctbal")
    assert(!sorted.queryExecution.executedPlan.toString.contains("Sort "),
      s"redundant sort survived:\n${sorted.queryExecution.executedPlan}")
    // rows really are ordered within the partition
    val vals = sorted.select($"c_acctbal").as[Double].collect()
    assert(vals.sameElements(vals.sorted), "cursor did not sort")

    // a string sort still sorts the cursor but claims nothing
    val s2 = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.sorted")).option("sort", "c_name")
      .load().sortWithinPartitions($"c_name")
    assert(s2.queryExecution.executedPlan.toString.contains("Sort "),
      "unsafe type must not be reported as ordered")
  }

  test("scan reports collStats size so small server collections broadcast") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.nation(spark, sf0001)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.dim")).option("id_column", "n_nationkey")
      .mode("append").save()
    val dim = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.dim")).load()
    val fact = graft.Tables.customer(spark, sf0001)
    val joined = fact.join(dim, fact("c_nationkey") === dim("_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"25-row server dim should broadcast:\n$plan")
    assert(joined.count() === fact.count())
  }

  test("global limit is pushed partially and stays correct") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.supplier(spark, sf0001)
      .select($"s_suppkey", $"s_name")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.supp")).option("id_column", "s_suppkey")
      .mode("append").save()
    val got = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.supp")).option("split_size", "2048")
      .load().limit(5)
    assert(got.count() === 5)
  }

  test("offset pushes as a cursor skip under splitter=single, refuses otherwise") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 50L).map(i => (i, i * 2)).toDF("k", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.off"))
      .option("id_column", "k").mode("append").save()
    // single-split mode: the offset is deleted from Spark's plan and
    // applied as the cursor's skip — exact rows back
    val single = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.off"))
      .option("splitter", "single").option("sort", "_id")
      .schema("_id LONG, v LONG")
      .load()
    val got = single.offset(40).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (40L until 50L).toSeq, s"got ${got.toSeq}")
    assert(single.offset(40).queryExecution.executedPlan.toString
      .contains("PushedOffset: 40"))
    // default (multi-split) planning must refuse: an accepted offset
    // would skip 40 rows PER cursor
    val multi = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.off")).option("split_size", "512")
      .option("sort", "_id")
      .schema("_id LONG, v LONG")
      .load()
    assert(!multi.offset(40).queryExecution.executedPlan.toString
      .contains("PushedOffset"))
    assert(multi.offset(40).count() == 10L, "unpushed offset still correct")
  }

  // ---- grouped aggregate pushdown (round-11): one $match+$group
  // pipeline round-trip per namespace, Spark folds the partial rows

  test("grouped aggregate pushes a $group pipeline: plan, parity, bounded round-trips") {
    import spark.implicits._
    val dir = freshDir()
    val src = graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
    src.write.format("graftserver")
      .options(serverOpts(dir, "db.gagg")).option("id_column", "c_custkey")
      .mode("append").save()
    CountingServerFactory.reset()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.gagg"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, c_nationkey INT, c_acctbal DOUBLE")
      .load()
      .filter($"c_acctbal" > 1000.0)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"), min($"c_acctbal").as("mn"),
        max($"c_acctbal").as("mx"), sum($"c_acctbal").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GROUP BY c_nationkey"),
      s"no grouped pushdown in plan:\n$plan")
    val got = q.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val expect = src.filter($"c_acctbal" > 1000.0)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"), min($"c_acctbal"), max($"c_acctbal"), sum($"c_acctbal"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (n, mn, mx, s)) =>
      val (en, emn, emx, es) = expect(k)
      assert(n == en && mn == emn && mx == emx, s"group $k: $got vs $expect")
      assert(math.abs(s - es) < 1e-6, s"group $k sum: $s vs $es")
    }
    // bounded round-trips: ONE $group pipeline, zero row-wise cursors
    assert(CountingServerFactory.count("groupAggregate") == 1,
      s"counts: ${CountingServerFactory.snapshot()}")
    assert(CountingServerFactory.count("find") == 0,
      s"grouped pushdown must not open row cursors: ${CountingServerFactory.snapshot()}")
  }

  test("grouped pushdown folds partial rows across a multi-namespace union") {
    import spark.implicits._
    val dir = freshDir()
    // the same group key lives in BOTH namespaces: each contributes its
    // own $group partial row; Spark's final aggregate must merge them
    Seq((1L, 10, 5.0), (2L, 10, 7.0), (3L, 20, 1.0)).toDF("k", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.ga"))
      .option("id_column", "k").mode("append").save()
    Seq((4L, 10, 2.0), (5L, 20, 9.0)).toDF("k", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.gb"))
      .option("id_column", "k").mode("append").save()
    CountingServerFactory.reset()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.ga,db.gb"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, g INT, v DOUBLE")
      .load()
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), min($"v").as("mn"), max($"v").as("mx"))
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate"))
    val got = q.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got(10) == ((3L, 2.0, 7.0)), s"got $got")
    assert(got(20) == ((2L, 1.0, 9.0)), s"got $got")
    // one pipeline round-trip PER namespace, still zero row cursors
    assert(CountingServerFactory.count("groupAggregate") == 2,
      s"counts: ${CountingServerFactory.snapshot()}")
    assert(CountingServerFactory.count("find") == 0)
  }

  test("grouped pushdown keeps a NULL group and null-skipping aggregates") {
    import spark.implicits._
    val dir = freshDir()
    Seq[(Long, Integer, java.lang.Double)](
      (1L, 1, 10.0), (2L, 1, null), (3L, null, 7.0), (4L, null, null))
      .toDF("k", "g", "v")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.gnull")).option("id_column", "k")
      .mode("append").save()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.gnull"))
      .schema("_id LONG, g INT, v DOUBLE")
      .load()
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"v").as("mn"), sum($"v").as("s"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      "COUNT(col) must not refuse the pushdown")
    val got = q.collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got(Some(1)) == ((2L, 1L, Some(10.0))), s"got $got")
    assert(got(None) == ((2L, 1L, Some(7.0))),
      "the NULL group must survive, with COUNT(v) skipping its null")
  }

  test("SELECT DISTINCT pushes an _id-only $group: one round-trip, zero cursors") {
    import spark.implicits._
    val dir = freshDir()
    Seq[(Long, Integer, java.lang.Double)](
      (1L, 10, 1.0), (2L, 10, 2.0), (3L, 20, 3.0), (4L, null, 4.0), (5L, 20, 0.5))
      .toDF("k", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.dist"))
      .option("id_column", "k").mode("append").save()
    CountingServerFactory.reset()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.dist"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, g INT, v DOUBLE")
      .load()
      .filter($"v" >= 1.0)
      .select($"g").distinct()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GROUP BY g []"),
      s"distinct must ride the _id-only \\$$group pipeline:\n$plan")
    val got = q.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet
    assert(got == Set(Some(10), Some(20), None), s"got $got")
    assert(CountingServerFactory.count("groupAggregate") == 1,
      s"counts: ${CountingServerFactory.snapshot()}")
    assert(CountingServerFactory.count("find") == 0,
      s"distinct pushdown must not open row cursors: ${CountingServerFactory.snapshot()}")
  }

  // ---- round-12 generalization: filtered global aggregates, AVG via
  // Spark's sum+count rewrite, multi-key group-by — all through the same
  // $match+$group pipeline

  test("filtered GLOBAL aggregate pushes an _id:null pipeline: one round-trip, zero cursors") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.fglob")).option("id_column", "c_custkey")
      .mode("append").save()
    CountingServerFactory.reset()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.fglob"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, c_nationkey INT, c_acctbal DOUBLE")
      .load()
      .filter($"c_acctbal" > 1000.0)
      .agg(count(lit(1)).as("n"), sum($"c_acctbal").as("s"),
        min($"c_acctbal").as("mn"), max($"c_nationkey").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GLOBAL"),
      s"filtered global aggregate must ride the _id:null pipeline:\n$plan")
    val r = q.collect().head
    val src = graft.Tables.customer(spark, sf0001).filter($"c_acctbal" > 1000.0)
    val e = src.agg(count(lit(1)), sum($"c_acctbal"), min($"c_acctbal"),
      max($"c_nationkey")).collect().head
    assert(r.getLong(0) == e.getLong(0) && r.getInt(3) == e.getInt(3))
    assert(math.abs(r.getDouble(1) - e.getDouble(1)) < 1e-6)
    assert(math.abs(r.getDouble(2) - e.getDouble(2)) < 1e-9)
    assert(CountingServerFactory.count("groupAggregate") == 1,
      s"counts: ${CountingServerFactory.snapshot()}")
    assert(CountingServerFactory.count("find") == 0,
      s"filtered global pushdown must not open row cursors: ${CountingServerFactory.snapshot()}")
  }

  test("filtered GLOBAL aggregate over an empty match folds COUNT to 0, not NULL") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 5.0)).toDF("k", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.fempty"))
      .option("id_column", "k").mode("append").save()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.fempty"))
      .schema("_id LONG, v DOUBLE").load()
      .filter($"v" > 100.0)
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), min($"v").as("mn"))
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GLOBAL"))
    val r = q.collect().head
    assert(r.getLong(0) == 0L, s"COUNT over empty match must be 0, got $r")
    assert(r.isNullAt(1) && r.isNullAt(2), s"SUM/MIN over empty match must be NULL, got $r")
  }

  test("AVG pushes as the sum+count rewrite; values fold exactly") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.favg")).option("id_column", "c_custkey")
      .mode("append").save()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.favg"))
      .schema("_id LONG, c_nationkey INT, c_acctbal DOUBLE")
      .load()
      .groupBy($"c_nationkey")
      .agg(avg($"c_acctbal").as("a"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate") &&
      plan.contains("sum(c_acctbal)") && plan.contains("count(c_acctbal)"),
      s"AVG must arrive as Spark's SUM+COUNT rewrite:\n$plan")
    val got = q.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val expect = graft.Tables.customer(spark, sf0001)
      .groupBy($"c_nationkey").agg(avg($"c_acctbal"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expect(k)) < 1e-9, s"group $k") }
  }

  test("multi-key group-by pushes a compound _id pipeline") {
    import spark.implicits._
    val dir = freshDir()
    Seq[(Long, Integer, String, java.lang.Double)](
      (1L, 1, "a", 2.0), (2L, 1, "a", 3.0), (3L, 1, "b", 4.0),
      (4L, 2, "a", 5.0), (5L, null, "b", 6.0), (6L, null, null, 7.0))
      .toDF("k", "g1", "g2", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.fmk"))
      .option("id_column", "k").mode("append").save()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.fmk"))
      .schema("_id LONG, g1 INT, g2 STRING, v DOUBLE").load()
      .groupBy($"g1", $"g2")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GROUP BY g1, g2"),
      s"no compound-key pushdown in:\n$plan")
    val got = q.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1))) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got((Some(1), Some("a"))) == ((2L, 5.0)), s"got $got")
    assert(got((Some(1), Some("b"))) == ((1L, 4.0)))
    assert(got((Some(2), Some("a"))) == ((1L, 5.0)))
    assert(got((None, Some("b"))) == ((1L, 6.0)), "NULL key groups must survive")
    assert(got((None, None)) == ((1L, 7.0)))
  }

  test("a residual (non-renderable) filter refuses grouped pushdown but stays correct") {
    import spark.implicits._
    val dir = freshDir()
    graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.gres")).option("id_column", "c_custkey")
      .mode("append").save()
    val base = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.gres"))
      .schema("_id LONG, c_name STRING, c_nationkey INT")
      .load()
      // endsWith translates to a residual-bearing form for the server
      // translator in the engine (regex anchoring semantics) — if it in
      // fact renders, the test still holds: we only assert correctness
      .filter($"c_name".endsWith("1"))
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n"))
    val expect = graft.Tables.customer(spark, sf0001)
      .filter($"c_name".endsWith("1"))
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = base.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("Long/Timestamp MIN/MAX/SUM refuse without uniform storage (mixed-bracket divergence)") {
    import spark.implicits._
    import graft.bson._
    val dir = freshDir()
    // MIXED storage under one LongType column: an int64 500 and a BDate
    // 100ms — both read as longs (500, 100), but the server's $min walks
    // the numeric bracket FIRST (500) and $sum would SKIP the date. A
    // pushed aggregate here answers 500/500 where Spark's read answers
    // 100/600 — the r13 gate keeps these aggregates in Spark unless
    // uniform storage is asserted.
    val client = new FakeServerClient(Some(dir))
    client.bulkWrite("db.mixed", Iterator(
      graft.store.InsertOne(BDoc("_id" -> BInt32(1), "v" -> BInt64(500L))),
      graft.store.InsertOne(BDoc("_id" -> BInt32(2), "v" -> BDate(100L)))),
      ordered = true)
    val base = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.mixed"))
      .schema("_id INT, v LONG").load()
    val agg = base.agg(min($"v").as("mn"), max($"v").as("mx"), sum($"v").as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedGroupedAggregate"), plan)
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 500L, 600L)),
      s"Spark read semantics must win: $r")
    // grouped form refuses the same way and stays correct
    val g = base.groupBy($"_id" % 2).agg(sum($"v").as("s"))
    assert(!g.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"))
    assert(g.collect().map(_.getLong(1)).sorted.toSeq == Seq(100L, 500L))
    // with the opt-in (engine-written collections are uniform) the
    // pipeline pushes again — q121/q124/q125/q140 ride this
    val uni = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.mixed") + ("assume_uniform_storage" -> "true"))
      .schema("_id INT, v LONG").load()
      .agg(sum($"v").as("s"))
    assert(uni.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GLOBAL"))
  }

  test("uniform storage renders Long/String read-filters: WHERE _id > n no longer blocks $group") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 2.0), (2L, "a", 3.0), (3L, "b", 4.0), (4L, "b", 5.0))
      .toDF("_id", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.ubr"))
      .option("id_column", "_id").mode("append").save()
    // without the opt-in, a Long filter compiles to an unrenderable
    // read-semantics node -> the pipeline refuses (correct, conservative)
    val plain = spark.read.format("graftserver").options(serverOpts(dir, "db.ubr"))
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .filter($"_id" > 1L)
      .groupBy($"g").agg(count(lit(1)).as("n"), max($"v").as("mx"))
    assert(!plain.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate"))
    val expect = Map("a" -> (1L, 3.0), "b" -> (2L, 5.0))
    assert(plain.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap == expect)
    // with it, the bracket rewrite makes the whole query renderable and
    // the one-round-trip $match+$group pipeline plans; string equality
    // and startsWith render too
    CountingServerFactory.reset()
    val uni = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.ubr") + ("assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .filter($"_id" > 1L && $"g".startsWith("b") && $"g" === "b")
      .groupBy($"g").agg(count(lit(1)).as("n"), max($"v").as("mx"))
    val plan = uni.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GROUP BY g"), plan)
    assert(uni.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap == Map("b" -> (2L, 5.0)))
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      s"counts: ${CountingServerFactory.snapshot()}")
  }

  test("ASCII string RANGE filters render under uniform storage and no longer block $group (r14)") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "alpha", 1.0), (2L, "Mike", 2.0), (3L, "zulu", 3.0),
      (4L, "November", 4.0)).toDF("_id", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.strrange"))
      .option("id_column", "_id").mode("append").save()
    CountingServerFactory.reset()
    val q = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.strrange") + ("assume_uniform_storage" -> "true"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .filter($"g" >= "M" && $"g" < "o")
      .groupBy($"g").agg(sum($"v").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupedAggregate: GROUP BY g"),
      s"an ASCII range bound must not block the pipeline:\n$plan")
    // ASCII order: lowercase sorts AFTER uppercase ('a' 0x61 > 'M' 0x4D)
    assert(q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("alpha" -> 1.0, "Mike" -> 2.0, "November" -> 4.0))
    assert(CountingServerFactory.count("groupAggregate") == 1 &&
      CountingServerFactory.count("find") == 0,
      s"counts: ${CountingServerFactory.snapshot()}")
    // a NON-ASCII bound keeps the read node client-side: the grouped
    // pushdown refuses (residual re-check after $group is impossible)
    val nonAscii = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.strrange") + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .filter($"g" >= "\uE000")
      .groupBy($"g").agg(sum($"v").as("s"))
    assert(!nonAscii.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate"))
    assert(nonAscii.collect().isEmpty)
  }

  test("a chained or swapped write-side column_mapping keeps every value") {
    import spark.implicits._
    val dir = freshDir()
    for ((mapping, k) <- Seq("""{"a": "b", "b": "c"}""", """{"a": "b", "b": "a"}""").zipWithIndex) {
      Seq((1L, "A", "B")).toDF("_id", "a", "b").write.format("graftserver")
        .options(serverOpts(dir, s"db.remap$k")).option("column_mapping", mapping)
        .mode("append").save()
      val back = spark.read.format("graftserver").options(serverOpts(dir, s"db.remap$k"))
        .schema("_id LONG, a STRING, b STRING").option("column_mapping", mapping).load()
      assert(back.select($"a", $"b").as[(String, String)].collect().toSeq ==
        Seq(("A", "B")), mapping)
    }
  }

  test("the graftbson-only `limit` option is rejected, pointing to Spark's .limit") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 1), (2L, 2)).toDF("_id", "v").write.format("graftserver")
      .options(serverOpts(dir, "db.lim")).mode("append").save()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftserver").options(serverOpts(dir, "db.lim"))
        .option("limit", "1").load().collect()
    }
    assert(e.getMessage.contains("`limit` option") && e.getMessage.contains(".limit(n)"),
      e.getMessage)
  }

  test("the graftbson-only `collections` option is rejected, pointing to the comma `ns` form") {
    import spark.implicits._
    val dir = freshDir()
    Seq("db.ca", "db.cb").foreach(ns =>
      Seq((1L, 1), (2L, 2)).toDF("_id", "v").write.format("graftserver")
        .options(serverOpts(dir, ns)).mode("append").save())
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftserver").options(serverOpts(dir, "db.ca"))
        .option("collections", """[{"path": "db.cb"}]""").load().collect()
    }
    assert(e.getMessage.contains("`collections` option") && e.getMessage.contains("ns=db.a,db.b"),
      e.getMessage)
  }

  test("column_mapping on the SERVER transport: write remap, path decode, pushdowns resolve (r14)") {
    import spark.implicits._
    val dir = freshDir()
    // write: columns land at (dotted) document paths
    Seq((1L, "en", 0.9), (2L, "fr", 0.4), (3L, "en", 0.7), (4L, "de", 0.2))
      .toDF("_id", "lang", "score")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.mapped"))
      .option("column_mapping", """{"lang": "meta.lang", "score": "meta.score"}""")
      .option("id_column", "_id").mode("append").save()
    // raw read shows the nested layout
    val raw = spark.read.format("graftserver").options(serverOpts(dir, "db.mapped"))
      .schema("_id LONG, meta STRUCT<lang: STRING, score: DOUBLE>").load()
    assert(raw.select($"meta.lang").as[String].collect().sorted.toSeq ==
      Seq("de", "en", "en", "fr"))
    // mapped read: flat columns decode from the document paths
    val mapped = spark.read.format("graftserver").options(serverOpts(dir, "db.mapped"))
      .option("column_mapping", """{"lang": "meta.lang", "score": "meta.score"}""")
      .option("assume_uniform_storage", "true")
      .schema("_id LONG, lang STRING, score DOUBLE").load()
    assert(mapped.orderBy($"_id").select($"lang").as[String].collect().toSeq ==
      Seq("en", "fr", "en", "de"))
    // pushed filter resolves through the mapping (server-side $match)
    assert(mapped.filter($"score" > 0.5).count() == 2)
    // grouped aggregate pushes with mapped group key + agg input
    CountingServerFactory.reset()
    val g = spark.read.format("graftserver").options(serverOpts(dir, "db.mapped"))
      .option("column_mapping", """{"lang": "meta.lang", "score": "meta.score"}""")
      .option("assume_uniform_storage", "true")
      .option("client_factory", classOf[CountingServerFactory].getName)
      .schema("_id LONG, lang STRING, score DOUBLE").load()
      .groupBy($"lang").agg(count(lit(1)).as("n"), max($"score").as("mx"))
    assert(g.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate"), g.queryExecution.executedPlan.toString)
    assert(g.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap ==
      Map("en" -> (2L, 0.9), "fr" -> (1L, 0.4), "de" -> (1L, 0.2)))
    assert(CountingServerFactory.count("find") == 0,
      s"counts: ${CountingServerFactory.snapshot()}")
    // TopN order key resolves through the mapping
    val t = spark.read.format("graftserver").options(serverOpts(dir, "db.mapped"))
      .option("column_mapping", """{"score": "meta.score"}""")
      .option("assume_uniform_storage", "true")
      .schema("_id LONG, score DOUBLE").load()
      .orderBy($"score".desc).limit(2)
    assert(t.queryExecution.executedPlan.toString.contains("PushedTopN"),
      t.queryExecution.executedPlan.toString)
    assert(t.select($"_id").as[Long].collect().toSeq == Seq(1L, 3L))
    // JOIN keys resolve through the mapping: lookup ON the mapped path
    (0 until 3).map(i => (i.toLong, Seq("en", "fr", "de")(i)))
      .toDF("_id", "code").write.format("graftserver")
      .options(serverOpts(dir, "db.langs")).option("id_column", "_id")
      .mode("append").save()
    val langs = spark.read.format("graftserver").options(serverOpts(dir, "db.langs"))
      .option("assume_uniform_storage", "true")
      .schema("_id LONG, code STRING").load()
    val m2 = spark.read.format("graftserver").options(serverOpts(dir, "db.mapped"))
      .option("column_mapping", """{"lang": "meta.lang"}""")
      .option("assume_uniform_storage", "true")
      .schema("_id LONG, lang STRING").load()
    val j = m2.join(langs, m2("lang") === langs("code"))
      .select(m2("_id").as("doc"), langs("_id").as("lid"))
    assert(j.queryExecution.executedPlan.toString.contains("PushedJoin"),
      j.queryExecution.executedPlan.toString)
    assert(j.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 2L)))
  }

  test("multi-namespace grouped aggregate plans one parallel pipeline per namespace") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("_id", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.u1"))
      .option("id_column", "_id").mode("append").save()
    Seq((3L, "a", 3.0), (4L, "c", 4.0)).toDF("_id", "g", "v")
      .write.format("graftserver").options(serverOpts(dir, "db.u2"))
      .option("id_column", "_id").mode("append").save()
    val df = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.u1,db.u2"))
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .groupBy($"g").agg(count(lit(1)).as("n"), max($"v").as("mx"))
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GROUP BY g"))
    // one $group pipeline PARTITION per namespace (parallel round-trips;
    // the partial fold merges cross-namespace groups like 'a')
    val scanParts = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }
    assert(scanParts == Seq(2), s"scan partitions: $scanParts")
    val got = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map("a" -> (2L, 3.0), "b" -> (1L, 2.0), "c" -> (1L, 4.0)), got.toString)
    // empty-match GLOBAL over the union: each namespace's sentinel folds
    // to one count-0 (never NULL)
    val z = spark.read.format("graftserver")
      .options(serverOpts(dir, "db.u1,db.u2"))
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .filter($"v" > 100.0).agg(count(lit(1)).as("n")).collect().head
    assert(z.getLong(0) == 0L)
  }

  test("ensure_index on the server write declares the index BEFORE tasks run") {
    import spark.implicits._
    val dir = freshDir()
    CountingServerFactory.reset()
    Seq((1L, "a"), (2L, "b")).toDF("_id", "s")
      .write.format("graftserver")
      .options(serverOpts(dir, "db.ixw"))
      .option("client_factory", classOf[CountingServerFactory].getName)
      .option("ensure_index", "s,_id")
      .option("id_column", "_id")
      .mode("append").save()
    // exactly one createIndexes round-trip, driver-side
    assert(CountingServerFactory.count("createIndex") == 1,
      s"counts: ${CountingServerFactory.snapshot()}")
    // the declared compound index landed on the store (the same side
    // file the file source's ensure_index writes)
    val coll = new graft.store.BsonCollection(
      java.nio.file.Paths.get(dir, "db_ixw").toString)
    assert(coll.indexes() == Seq(Seq("s", "_id")))
    // and the rows landed too
    assert(spark.read.format("graftserver").options(serverOpts(dir, "db.ixw"))
      .schema("_id LONG, s STRING").load().count() == 2L)
  }
  test("null tests on ARRAY columns stay residual (live $eq/$ne-null element-matches)") {
    import spark.implicits._
    val dir = freshDir()
    // arrays: plain, containing null, null column — the wire form
    // {p: {$ne: null}} would DROP [1,null] on a live server (element
    // traversal), while Spark's isnotnull keeps it
    Seq(
      (1L, Seq[java.lang.Long](1L, 2L)),
      (2L, Seq[java.lang.Long](1L, null)),
      (3L, null.asInstanceOf[Seq[java.lang.Long]]))
      .toDF("_id", "p")
      .write.format("graftserver").options(serverOpts(dir, "db.an"))
      .option("id_column", "_id").mode("append").save()
    val t = spark.read.format("graftserver").options(serverOpts(dir, "db.an"))
      .schema("_id LONG, p ARRAY<LONG>").load()
    val nn = t.filter($"p".isNotNull)
    val nnPlan = nn.queryExecution.executedPlan.toString
    assert(nnPlan.contains("Filter isnotnull"),
      s"array null test must re-check above the scan:\n$nnPlan")
    assert(!nnPlan.contains("Exists(p"),
      s"array null test must NOT render as a doc query:\n$nnPlan")
    assert(nn.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "the null-containing array survives, like Spark's own semantics")
    val nl = t.filter($"p".isNull)
    assert(nl.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // scalar columns keep the pushed form (no traversal possible)
    val s = t.filter($"_id".isNotNull)
    assert(s.queryExecution.executedPlan.toString.contains("Exists(_id"),
      s.queryExecution.executedPlan.toString)
  }
}

/** Wraps the fake transport and counts every round-trip JVM-wide, so a
  * DSv2-level spec (where the scan builds its own clients) can assert
  * the q70-style probe bounds for the grouped-aggregate path.
  */
final class CountingServerFactory extends ServerClientFactory {
  override def create(options: Map[String, String]): ServerClient = {
    val inner = new FakeServerClient(Some(options("server_dir")))
    new ServerClient with AutoCloseable {
      private def t(m: String): Unit = CountingServerFactory.tick(m)
      override def collStats(ns: String) = { t("collStats"); inner.collStats(ns) }
      override def find(ns: String, q: Find) = { t("find");
        CountingServerFactory.recordFind(q); inner.find(ns, q) }
      override def sampleKeys(ns: String, key: String, n: Int) =
        { t("sampleKeys"); inner.sampleKeys(ns, key, n) }
      override def splitVector(ns: String, key: String, maxChunkBytes: Long) =
        { t("splitVector"); inner.splitVector(ns, key, maxChunkBytes) }
      override def chunkRanges(ns: String, key: String) =
        { t("chunkRanges"); inner.chunkRanges(ns, key) }
      override def bulkWrite(ns: String, models: Iterator[graft.store.WriteModel],
          ordered: Boolean) = { t("bulkWrite"); inner.bulkWrite(ns, models, ordered) }
      override def groupAggregate(ns: String, query: graft.query.BQuery,
          groupKeys: Seq[String], aggs: Seq[GroupAgg],
          unwind: Option[ServerClient.Unwind],
          postQuery: graft.query.BQuery,
          computed: Seq[graft.query.ComputedCol]) =
        { t("groupAggregate"); inner.groupAggregate(ns, query, groupKeys, aggs,
          unwind, postQuery, computed) }
      override def unwoundRead(ns: String, query: graft.query.BQuery,
          u: ServerClient.Unwind, postQuery: graft.query.BQuery,
          sortSpec: Seq[(String, Boolean)], skip: Long, limit: Long,
          projection: Option[Seq[String]]) =
        { t("unwoundRead"); inner.unwoundRead(ns, query, u, postQuery,
          sortSpec, skip, limit, projection) }
      override def lookupJoin(ns: String, j: LookupJoin) =
        { t("lookupJoin"); inner.lookupJoin(ns, j) }
      override def createIndex(ns: String, fields: Seq[String]) =
        { t("createIndex"); inner.createIndex(ns, fields) }
      override def close(): Unit = inner.close()
    }
  }
}

object CountingServerFactory {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val findCalls =
    new java.util.concurrent.ConcurrentLinkedQueue[Find]()
  private def tick(m: String): Unit = counts.merge(m, 1, (a, b) => a + b)
  private[server] def recordFind(q: Find): Unit = findCalls.add(q)
  /** Every Find since the last reset — lets specs pin cursor-level
    * details (e.g. that inclusion projections carry no
    * prefix-overlapping paths, which a live server rejects). */
  def finds(): Seq[Find] = {
    import scala.jdk.CollectionConverters._
    findCalls.asScala.toSeq
  }
  def reset(): Unit = { counts.clear(); findCalls.clear() }
  def count(m: String): Int = Option(counts.get(m)).map(_.intValue).getOrElse(0)
  def snapshot(): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.intValue }.toMap
  }
}
