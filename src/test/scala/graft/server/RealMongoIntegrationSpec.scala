package graft.server

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LIVE-SERVER integration gate, env-gated on `MONGO_URI`: every test
  * cancels (ScalaTest `assume`) when no server is configured, so the
  * default `sbt test` run stays green in a sandbox with no MongoDB. With
  * a real deployment and the real `mongodb-driver-sync` (4.x+) jar on
  * the test classpath, this suite drives the exact shapes the sandboxed
  * catalog gates oracle-side — q69 (write/read round-trip), q121/q124/
  * q125 (grouped, filtered-global, and multi-key `$group` pipelines —
  * including the all-null-SUM group where a REAL server answers
  * `$sum: 0` and the binding must correct it to NULL), q122/q123
  * (single and compound TopN cursor sorts), q128 (DISTINCT via the
  * `_id`-only `$group`), q130 (the streaming tail: drain, checkpoint,
  * resume), q136 (array/negation operators shipped verbatim — the
  * server owns PCRE and array-traversal semantics), the verbatim
  * `$exists` presence semantics, the `_ns` metadata column over a
  * multi-namespace union, the deterministic TABLESAMPLE window,
  * q140/q142 (NESTED group keys / TopN orders — the compound wire-name
  * round-trip), `ensure_index` pre-write index creation, and
  * q143/q144 (3-way chained `$lookup`, TopN through the join) —
  * against real wire behavior. See RUNBOOK.md for the invocation and
  * the cleanup note (the suite writes into the `graft_it` database).
  *
  * Run: `MONGO_URI="mongodb://host:27017" sbt "testOnly graft.server.RealMongoIntegrationSpec"`
  * (driver jar: drop `mongodb-driver-sync` + `bson` + `mongodb-driver-core`
  * into a lib/ dir or add them to `Test/unmanagedJars`).
  */
class RealMongoIntegrationSpec extends SparkSpec {

  private val uri = sys.env.get("MONGO_URI")

  /** Unique per-JVM namespace suffix, so reruns never collide with
    * leftover collections (nanoTime, not a counter: two sbt forks may
    * run concurrently against one server). */
  private val runId = java.lang.Long.toHexString(System.nanoTime())

  private def opts(coll: String): Map[String, String] = Map(
    "ns" -> s"graft_it.${coll}_$runId",
    "uri" -> uri.getOrElse(""),
    "client_factory" -> classOf[MongoDriverFactory].getName)

  private def live(): Unit =
    assume(uri.isDefined, "MONGO_URI not set — live-server gate skipped")

  test("live: write/read round-trip with filter+projection pushdown (q69 shape)") {
    live()
    import spark.implicits._
    val src = graft.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    src.write.format("graftserver").options(opts("rt"))
      .option("id_column", "c_custkey").mode("append").save()
    val back = spark.read.format("graftserver").options(opts("rt")).load()
    assert(back.count() === src.count())
    val expect = src.filter($"c_acctbal" > 1000.0).count()
    assert(back.filter($"c_acctbal" > 1000.0).count() === expect)
  }

  test("live: grouped $group pipeline incl. the all-null SUM group (q121 shape)") {
    live()
    import spark.implicits._
    // group "X" carries only null v's: a real server's $sum answers 0
    // there; the sumPresenceAlias companion must correct it to NULL
    val src = Seq[(Long, String, java.lang.Double)](
      (1L, "X", null), (2L, "X", null), (3L, "Y", 5.0), (4L, "Y", 7.0),
      (5L, null, 2.0)).toDF("k", "g", "v")
    src.write.format("graftserver").options(opts("grp"))
      .option("id_column", "k").mode("append").save()
    val q = spark.read.format("graftserver").options(opts("grp"))
      .schema("_id LONG, g STRING, v DOUBLE").load()
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"v").as("mn"), sum($"v").as("s"), avg($"v").as("a"))
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GROUP BY g"))
    val got = q.collect()
      .map(r => Option(r.getString(0)) -> r.toSeq.drop(1)).toMap
    val expect = src.groupBy($"g")
      .agg(count(lit(1)), count($"v"), min($"v"), sum($"v"), avg($"v"))
      .collect().map(r => Option(r.getString(0)) -> r.toSeq.drop(1)).toMap
    assert(got === expect,
      "live grouped pipeline must match Spark semantics exactly " +
        "(X's sum NULL, not the server's $sum: 0)")
  }

  test("live: filtered GLOBAL _id:null pipeline (q124 shape)") {
    live()
    import spark.implicits._
    val src = graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    src.write.format("graftserver").options(opts("glob"))
      .option("id_column", "o_orderkey").mode("append").save()
    val q = spark.read.format("graftserver").options(opts("glob"))
      .schema("_id LONG, o_custkey LONG, o_totalprice DOUBLE").load()
      .filter($"o_totalprice" > 50000.0)
      .agg(count(lit(1)).as("n"), sum($"o_custkey").as("s"),
        max($"o_totalprice").as("mx"))
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GLOBAL"))
    val r = q.collect().head
    val e = src.filter($"o_totalprice" > 50000.0)
      .agg(count(lit(1)), sum($"o_custkey"), max($"o_totalprice")).collect().head
    assert(r.toSeq === e.toSeq)
    // empty match: count 0 (sentinel partial), not NULL
    val z = spark.read.format("graftserver").options(opts("glob"))
      .schema("_id LONG, o_custkey LONG, o_totalprice DOUBLE").load()
      .filter($"o_totalprice" > 1e12)
      .agg(count(lit(1)).as("n")).collect().head
    assert(z.getLong(0) === 0L)
  }

  test("live: compound TopN cursor sort under uniform storage (q122/q123 shape)") {
    live()
    import spark.implicits._
    val src = graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    src.write.format("graftserver").options(opts("topn"))
      .option("id_column", "o_orderkey").mode("append").save()
    val q = spark.read.format("graftserver").options(opts("topn"))
      .option("assume_uniform_storage", "true")
      .schema("_id LONG, o_custkey LONG, o_totalprice DOUBLE").load()
      .orderBy($"o_custkey".desc, $"_id".asc).limit(10)
      .select($"_id", $"o_custkey")
    assert(q.queryExecution.executedPlan.toString.contains("PushedTopN"))
    val expect = src.orderBy($"o_custkey".desc, $"o_orderkey".asc).limit(10)
      .select($"o_orderkey", $"o_custkey").collect().map(_.toSeq).toSeq
    assert(q.collect().map(_.toSeq).toSeq === expect)
  }

  test("live: DISTINCT rides the _id-only $group pipeline (q128 shape)") {
    live()
    import spark.implicits._
    val src = Seq[(Long, Integer)]((1L, 10), (2L, 10), (3L, 20), (4L, null))
      .toDF("k", "g")
    src.write.format("graftserver").options(opts("dist"))
      .option("id_column", "k").mode("append").save()
    val q = spark.read.format("graftserver").options(opts("dist"))
      .schema("_id LONG, g INT").load()
      .select($"g").distinct()
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GROUP BY g []"))
    val got = q.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet
    assert(got === Set(Some(10), Some(20), None))
  }

  test("live: streaming tail drains the collection and resumes past the offset (q130 shape)") {
    live()
    import spark.implicits._
    val o = opts("tail")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-live-tail").toString
    def drainKeys(): Seq[Long] = {
      val keys = scala.collection.mutable.Buffer.empty[Long]
      val q = spark.readStream.format("graftserver").options(o)
        .schema("_id LONG, s STRING").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          keys.synchronized { keys ++= df.collect().map(_.getLong(0)) }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      keys.toSeq.sorted
    }
    assert(drainKeys() === Seq(1L, 2L))
    Seq((3L, "c")).toDF("k", "s").write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    assert(drainKeys() === Seq(3L), "restart must resume past the committed offset")
  }

  test("live: pushed IsNotNull drops explicit nulls (the $ne-null rendering)") {
    live()
    import spark.implicits._
    // a REAL server's `$exists: true` would keep the explicit-null row;
    // the engine renders IsNotNull as `{$ne: null}` — this pins it on
    // real wire behavior (the stub pins it in-sandbox)
    Seq[(Long, java.lang.Double)]((1L, 5.0), (2L, null), (3L, 7.0))
      .toDF("k", "v")
      .write.format("graftserver").options(opts("nn"))
      .option("id_column", "k").mode("append").save()
    val back = spark.read.format("graftserver").options(opts("nn"))
      .schema("_id LONG, v DOUBLE").load()
    assert(back.filter($"v".isNotNull).collect().map(_.getLong(0)).sorted
      === Array(1L, 3L))
    assert(back.filter($"v".isNull).collect().map(_.getLong(0)) === Array(2L))
  }

  test("live: array/negation operators ship verbatim (q136 shape — server-owned semantics)") {
    live()
    import spark.implicits._
    // arrays + nulls: $size/$all/$elemMatch/$mod/$type/$not run
    // SERVER-side (option-level queries ship verbatim; PCRE and array
    // traversal are the server's own semantics)
    Seq(
      (1L, Seq(1, 2, 3), "abc"),
      (2L, Seq(1, 2), "abd"),
      (3L, Seq(4, 5, 6), "xyz"),
      (4L, Seq.empty[Int], "a"))
      .toDF("k", "arr", "s")
      .write.format("graftserver").options(opts("arrops"))
      .option("id_column", "k").mode("append").save()
    def countWith(q: String): Long =
      spark.read.format("graftserver").options(opts("arrops"))
        .option("query", q)
        .schema("_id LONG, arr ARRAY<INT>, s STRING").load().count()
    assert(countWith("""{"arr": {"$size": 3}}""") === 2L)
    assert(countWith("""{"arr": {"$all": [1, 2]}}""") === 2L)
    assert(countWith("""{"arr": {"$elemMatch": {"$gte": 4, "$lte": 5}}}""") === 1L)
    assert(countWith("""{"k": {"$mod": [2, 0]}}""") === 2L)
    assert(countWith("""{"s": {"$regex": "^ab", "$options": ""}}""") === 2L)
    assert(countWith("""{"s": {"$not": {"$regex": "^ab"}}}""") === 2L)
    assert(countWith("""{"arr": {"$type": "array"}}""") === 4L)
  }

  test("live: option-level $exists matches explicit nulls (verbatim presence semantics)") {
    live()
    import spark.implicits._
    Seq[(Long, java.lang.Double)]((1L, 5.0), (2L, null), (3L, 7.0))
      .toDF("k", "v")
      .write.format("graftserver").options(opts("exv"))
      .option("id_column", "k").mode("append").save()
    // the writer stores explicit nulls; a real server's $exists: true
    // matches them — the engine's ExistsField node ships verbatim
    val present = spark.read.format("graftserver").options(opts("exv"))
      .option("query", """{"v": {"$exists": true}}""")
      .schema("_id LONG, v DOUBLE").load()
    assert(present.count() === 3L,
      "$exists: true must match the explicit-null row on a live server")
    // while a pushed IS NOT NULL (Spark semantics) must NOT
    val nn = spark.read.format("graftserver").options(opts("exv"))
      .schema("_id LONG, v DOUBLE").load().filter($"v".isNotNull)
    assert(nn.count() === 2L)
  }

  test("live: _ns metadata column over a multi-namespace union") {
    live()
    import spark.implicits._
    val a = opts("nsA")
    val b = opts("nsB")
    Seq((1L, "x")).toDF("k", "s").write.format("graftserver").options(a)
      .option("id_column", "k").mode("append").save()
    Seq((2L, "y")).toDF("k", "s").write.format("graftserver").options(b)
      .option("id_column", "k").mode("append").save()
    val union = spark.read.format("graftserver")
      .options(a + ("ns" -> s"${a("ns")},${b("ns")}"))
      .schema("_id LONG, s STRING").load()
      .select($"_id", col("_ns"))
    val got = union.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> a("ns"), 2L -> b("ns")))
  }

  test("live: deterministic TABLESAMPLE composes with a pushed filter") {
    live()
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .write.format("graftserver").options(opts("samp"))
      .option("id_column", "k").mode("append").save()
    val base = spark.read.format("graftserver").options(opts("samp"))
      .option("sample_key", "_id")
      .schema("_id LONG, v DOUBLE").load()
      .filter($"v" > 100.0)
    val s1 = base.sample(0.5, seed = 7L).collect().map(_.getLong(0)).sorted
    val s2 = base.sample(0.5, seed = 7L).collect().map(_.getLong(0)).sorted
    assert(s1 sameElements s2, "keyed Bernoulli must be reproducible")
    assert(s1.nonEmpty && s1.length < 100 && s1.forall(_ > 100L))
  }

  test("live: NESTED group keys and TopN orders push on subdocument fields (q140/q142 shape)") {
    live()
    import spark.implicits._
    val src = (1 to 60).map(i =>
      (i.toLong, if (i % 7 == 0) null else s"l${i % 3}", i * 1.5))
      .toDF("k", "lang", "score")
      .select($"k", struct($"lang", $"score").as("meta"))
    src.write.format("graftserver").options(opts("nest"))
      .option("id_column", "k").mode("append").save()
    val rd = spark.read.format("graftserver").options(opts("nest"))
      .schema("_id LONG, meta STRUCT<lang: STRING, score: DOUBLE>")
    val g = rd.load()
      .groupBy($"meta.lang").agg(count(lit(1)).as("n"), sum($"meta.score").as("s"))
    assert(g.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GROUP BY meta.lang"))
    val got = g.collect().map(r =>
      Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2))).toMap
    val expect = src.select($"meta.lang".as("l"), $"meta.score".as("sc"))
      .groupBy($"l").agg(count(lit(1)), sum($"sc"))
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === expect,
      "nested $group must match Spark exactly (compound wire-name round-trip)")
    val top = rd.load().orderBy($"meta.score".desc).limit(5).select($"_id")
    assert(top.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(top.collect().map(_.getLong(0)).toSeq === Seq(60L, 59L, 58L, 57L, 56L))
  }

  test("live: ensure_index creates the declared index before the write (q-ensure shape)") {
    live()
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("k", "s", "v")
      .write.format("graftserver").options(opts("ixw"))
      .option("ensure_index", "s,v")
      .option("id_column", "k").mode("append").save()
    // verify via the driver: listIndexes must show the compound index
    val client = new MongoDriverClient(uri.get)
    try {
      // reuse the binding's command path: collStats proves the
      // collection exists; the index name follows the server convention
      val stats = client.collStats(opts("ixw")("ns"))
      assert(stats.count === 2L)
      // a second write with the same ensure_index must be a no-op
      Seq((3L, "c", 4.0)).toDF("k", "s", "v")
        .write.format("graftserver").options(opts("ixw"))
        .option("ensure_index", "s,v")
        .option("id_column", "k").mode("append").save()
      assert(client.collStats(opts("ixw")("ns")).count === 3L)
    } finally client.close()
  }

  test("live: 3-way chained $lookup and TopN-through-join (q143/q144 shape)") {
    live()
    import spark.implicits._
    val oOpts = opts("c3o") + ("assume_uniform_storage" -> "true")
    val cOpts = opts("c3c") + ("assume_uniform_storage" -> "true")
    val sOpts = opts("c3s") + ("assume_uniform_storage" -> "true")
    (0 until 100).map(i => (i.toLong, (i % 10).toLong, i * 1.5))
      .toDF("k", "ck", "price")
      .write.format("graftserver").options(oOpts)
      .option("id_column", "k").mode("append").save()
    (0 until 10).map(i => (i.toLong, (i % 3).toLong)).toDF("k", "seg")
      .write.format("graftserver").options(cOpts)
      .option("id_column", "k").mode("append").save()
    (0 until 3).map(i => (i.toLong, s"seg$i")).toDF("k", "label")
      .write.format("graftserver").options(sOpts)
      .option("id_column", "k").mode("append").save()
    val o = spark.read.format("graftserver").options(oOpts)
      .schema("_id LONG, ck LONG, price DOUBLE").load()
    val c = spark.read.format("graftserver").options(cOpts)
      .schema("_id LONG, seg LONG").load()
    val sg = spark.read.format("graftserver").options(sOpts)
      .schema("_id LONG, label STRING").load()
    val star = o.join(c, o("ck") === c("_id"))
      .join(sg, c("seg") === sg("_id"))
      .groupBy($"label").agg(count(lit(1)).as("n"))
    val plan = star.queryExecution.executedPlan.toString
    assert(plan.contains("THEN INNER") &&
      plan.contains("PushedGroupedAggregate: GROUP BY label"), plan)
    val got = star.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ck 0..9 -> seg i%3: segs {0: ck 0,3,6,9 = 40 orders; 1: 30; 2: 30}
    assert(got === Map("seg0" -> 40L, "seg1" -> 30L, "seg2" -> 30L))
    val top = o.join(c, o("ck") === c("_id"))
      .select(o("_id").as("okey"), $"price")
      .orderBy($"price".desc, $"okey".asc).limit(3)
    assert(top.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(top.collect().map(_.getLong(0)).toSeq === Seq(99L, 98L, 97L))
  }

  test("live: equi-join plans as one $lookup pipeline (q133 shape)") {
    live()
    import spark.implicits._
    val oOpts = opts("jord") + ("assume_uniform_storage" -> "true")
    val cOpts = opts("jcust") + ("assume_uniform_storage" -> "true")
    (0 until 100).map(i => (i.toLong, (i % 10).toLong, i * 1.5))
      .toDF("k", "ck", "price")
      .write.format("graftserver").options(oOpts)
      .option("id_column", "k").mode("append").save()
    (0 until 8).map(i => (i.toLong, s"c$i")).toDF("k", "name")
      .write.format("graftserver").options(cOpts)
      .option("id_column", "k").mode("append").save()
    val o = spark.read.format("graftserver").options(oOpts)
      .schema("_id LONG, ck LONG, price DOUBLE").load()
    val c = spark.read.format("graftserver").options(cOpts)
      .schema("_id LONG, name STRING").load()
    val j = o.join(c, o("ck") === c("_id")).select($"ck", $"name", $"price")
    assert(j.queryExecution.executedPlan.toString.contains("PushedJoin:"),
      "the equi-join must plan as a $lookup pipeline")
    assert(j.count() === 80L) // ck 8,9 unmatched
    val outer = o.join(c, o("ck") === c("_id"), "left_outer")
    assert(outer.count() === 100L)
    assert(outer.filter(c("name").isNull).count() === 20L)
    // RIGHT OUTER mirrors (the customer side drives the pipeline):
    // every customer survives; ck 0..7 each match 10 orders
    val ro = o.join(c, o("ck") === c("_id"), "right_outer")
    assert(ro.queryExecution.executedPlan.toString.contains("PushedJoin: LEFT OUTER"),
      "right outer must push as the mirrored pipeline")
    assert(ro.count() === 80L)
  }

  // ---- r14 shapes: the latent-divergence surface r13 fixed blind, and
  // this round's new wire forms (RUNBOOK §5 lists the expected output) --

  /** Raw inserts through the driver binding — the only way to create
    * FOREIGN storage (BTimestamp, non-midnight BDate, mixed brackets)
    * the engine's own writer never produces. */
  private def rawInsert(coll: String, docs: Seq[graft.bson.BDoc]): Unit = {
    val o = opts(coll)
    val client = GraftServerSource.factory(o).create(o)
    try client.bulkWrite(o("ns"),
      docs.iterator.map(graft.store.WriteModels.fromDoc), ordered = true)
    finally client match { case c: AutoCloseable => c.close(); case _ => () }
  }

  test("live: pushed TIMESTAMP filter keeps BTimestamp-storage rows (r13 latent fix)") {
    live()
    import graft.bson._
    import spark.implicits._
    // ts stored as BDate for k=1, as BTimestamp (same read-µs) for k=2:
    // the pre-r13 date-bracket literal silently dropped k=2 on a REAL
    // server; the two-bracket ReadTime node must keep both
    val sec = 1700000000L
    rawInsert("tsmix", Seq(
      BDoc("_id" -> BInt64(1L), "ts" -> BDate(sec * 1000L)),
      BDoc("_id" -> BInt64(2L), "ts" -> BTimestamp(sec.toInt, 1)),
      BDoc("_id" -> BInt64(3L), "ts" -> BDate((sec + 100L) * 1000L))))
    val df = spark.read.format("graftserver").options(opts("tsmix"))
      .schema("_id LONG, ts TIMESTAMP").load()
      .filter($"ts" === java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(sec)))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "BOTH storages reading to the same micros must survive the filter")
  }

  test("live: non-midnight DATE filter is a day-window range (r13 latent fix)") {
    live()
    import graft.bson._
    import spark.implicits._
    val day = java.time.LocalDate.of(2024, 3, 15)
    val midnight = day.toEpochDay * 86400000L
    rawInsert("dmix", Seq(
      BDoc("_id" -> BInt64(1L), "d" -> BDate(midnight)),
      BDoc("_id" -> BInt64(2L), "d" -> BDate(midnight + 7 * 3600000L)), // 07:00
      BDoc("_id" -> BInt64(3L), "d" -> BDate(midnight + 86400000L))))
    val df = spark.read.format("graftserver").options(opts("dmix"))
      .schema("_id LONG, d DATE").load()
      .filter($"d" === java.sql.Date.valueOf("2024-03-15"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "a non-midnight BDate reads as the same day and must survive")
  }

  test("live: mixed int/date storage under a LONG column refuses MIN/MAX pushdown (r13 latent fix)") {
    live()
    import graft.bson._
    import spark.implicits._
    // v: int64 5 and BDate(3) — the BSON bracket MIN is 5 (numbers sort
    // below dates) but Spark's read values are {5, 3} with min 3: the
    // pushdown must refuse without assume_uniform_storage and the
    // Spark-side aggregate must answer 3
    rawInsert("mixagg", Seq(
      BDoc("_id" -> BInt64(1L), "v" -> BInt64(5L)),
      BDoc("_id" -> BInt64(2L), "v" -> BDate(3L))))
    val df = spark.read.format("graftserver").options(opts("mixagg"))
      .schema("_id LONG, v LONG").load()
    val agg = df.agg(min($"v").as("mn"), max($"v").as("mx"))
    assert(!agg.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      "Long MIN/MAX must stay Spark-side without the uniform opt-in")
    val row = agg.first()
    assert(row.getLong(0) === 3L && row.getLong(1) === 5L)
  }

  test("live: $unwind pipeline — plain scan and one $match+$unwind+$group round-trip (r14)") {
    live()
    import spark.implicits._
    Seq((1L, 10, Seq("x", "y")), (2L, 20, Seq("y")),
      (3L, 30, Seq.empty[String]), (4L, 40, null.asInstanceOf[Seq[String]]))
      .toDF("k", "v", "tags")
      .write.format("graftserver").options(opts("uw"))
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver").options(opts("uw"))
      .schema("_id LONG, v INT, tags ARRAY<STRING>").load()
    val e = t.select($"_id", explode($"tags").as("tag"))
    assert(e.queryExecution.executedPlan.toString.contains("PushedUnwind"),
      e.queryExecution.executedPlan.toString)
    assert(e.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      Seq((1L, "x"), (1L, "y"), (2L, "y")))
    val eo = t.select($"_id", explode_outer($"tags").as("tag"))
    assert(eo.count() === 5)
    val g = t.filter($"v" < 40).select(explode($"tags").as("tag"))
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      g.queryExecution.executedPlan.toString)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("x" -> 1L, "y" -> 2L))
  }

  test("live: element filter renders as the POST-unwind $match (q153 shape, r14)") {
    live()
    import spark.implicits._
    Seq((1L, 10, Seq("x", "y")), (2L, 20, Seq("y")),
      (3L, 30, Seq("x", "x", "z")))
      .toDF("k", "v", "tags")
      .write.format("graftserver").options(opts("uwpost"))
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver")
      .options(opts("uwpost") + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, v INT, tags ARRAY<STRING>").load()
    // plain scan: the post-unwind $match filters ELEMENTS, not parents —
    // parent 3 contributes only its two "x" rows
    val f = t.select($"_id", explode($"tags").as("tag")).filter($"tag" === "x")
    assert(f.queryExecution.executedPlan.toString.contains("PostUnwindMatch:"),
      f.queryExecution.executedPlan.toString)
    assert(f.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 3L))
    // grouped: ONE $match+$unwind+$match+$group pipeline, where the
    // second $match must see the element at the array path (a server
    // that dropped the post-match would also count "y")
    val g = t.filter($"v" < 30).select(explode($"tags").as("tag"))
      .filter($"tag".isin("x", "z"))
      .groupBy($"tag").agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      g.queryExecution.executedPlan.toString)
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("x" -> 1L))
  }

  test("live: unwound ROW pipeline — $sort/$skip/$limit tail counts unwound rows (r14)") {
    live()
    import spark.implicits._
    Seq((1L, 10, Seq("x", "y")), (2L, 20, Seq("y")),
      (3L, 30, Seq.empty[String]), (5L, 50, Seq("x", "x", "z")))
      .toDF("k", "v", "tags")
      .write.format("graftserver").options(opts("uwtail"))
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver")
      .options(opts("uwtail") + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, v INT, tags ARRAY<STRING>").load()
    // LIMIT over the exploded rows: 6 unwound rows exist from 4 parents
    // (one contributes zero) — a parent-doc cursor cap of 3 would return
    // too few; the pipeline's $limit counts elements
    val lim = t.select($"_id", explode($"tags").as("tag")).limit(5)
    assert(lim.queryExecution.executedPlan.toString.contains("UnwoundTails"),
      lim.queryExecution.executedPlan.toString)
    assert(lim.count() === 5)
    // TopN + post-unwind match: one $match+$unwind+$match+$sort+$limit
    val top = t.select($"_id", explode($"tags").as("tag"))
      .filter($"tag" === "x")
      .orderBy($"_id".desc).limit(2)
    assert(top.queryExecution.executedPlan.toString.contains("UnwoundTails"),
      top.queryExecution.executedPlan.toString)
    assert(top.collect().map(_.getLong(0)).toSeq === Seq(5L, 5L))
  }

  test("live: posexplode — includeArrayIndex pipeline, pos filter and GROUP BY pos (r14)") {
    live()
    import spark.implicits._
    Seq((1L, Seq("x", "y")), (2L, Seq("y")), (3L, Seq("x", "x", "z")))
      .toDF("k", "tags")
      .write.format("graftserver").options(opts("uwidx"))
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver").options(opts("uwidx"))
      .schema("_id LONG, tags ARRAY<STRING>").load()
    // plain scan: pos binds the ORIGINAL index; the pos filter is the
    // post-unwind $match over the includeArrayIndex field (a server
    // emits int64 — the decode narrows it to the pos IntegerType)
    val f = t.select($"_id", posexplode($"tags")).filter($"pos" >= 1)
    assert(f.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ===
      Seq((1L, 1), (3L, 1), (3L, 2)))
    // GROUP BY pos: one $match+$unwind(includeArrayIndex)+$group
    // pipeline; the group _id values come back as NumberLong
    val g = t.select(posexplode($"tags"))
      .groupBy($"pos").agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"),
      g.queryExecution.executedPlan.toString)
    assert(g.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
  }

  test("live: ASCII string-range $match renders under uniform storage (r14)") {
    live()
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "Mike"), (3L, "zulu"), (4L, "November"))
      .toDF("k", "name")
      .write.format("graftserver").options(opts("strr"))
      .option("id_column", "k").mode("append").save()
    val q = spark.read.format("graftserver")
      .options(opts("strr") + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING").load()
      .filter($"name" >= "M" && $"name" < "o")
      .groupBy($"name").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate"),
      "an ASCII range bound must render in $match, not block the pipeline")
    assert(q.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("Mike", "November", "alpha"),
      "binary server collation must agree with the read order on ASCII bounds")
  }

  test("live: residual predicate rides ABOVE the pushed join; sample + $skip tails (r14)") {
    live()
    import spark.implicits._
    val oOpts = opts("rjo") + ("assume_uniform_storage" -> "true",
      "sample_key" -> "_id")
    val cOpts = opts("rjc") + ("assume_uniform_storage" -> "true")
    (0 until 100).map(i => (i.toLong, (i % 10).toLong, (i % 7).toDouble))
      .toDF("k", "ck", "price")
      .write.format("graftserver").options(oOpts)
      .option("id_column", "k").mode("append").save()
    (0 until 10).map(i => (i.toLong, i * 0.5)).toDF("k", "disc")
      .write.format("graftserver").options(cOpts)
      .option("id_column", "k").mode("append").save()
    val o = spark.read.format("graftserver").options(oOpts)
      .schema("_id LONG, ck LONG, price DOUBLE").load()
    val c = spark.read.format("graftserver").options(cOpts)
      .schema("_id LONG, disc DOUBLE").load()
    // an untranslatable both-sides predicate: the join must STILL push,
    // with a recheck Filter above the joined scan
    val q = o.join(c, o("ck") === c("_id"))
      .filter(o("price") + c("disc") > 6.0)
      .select(o("_id").as("okey"), $"disc")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedJoin:") && plan.contains("recheck("), plan)
    val expect = (0 until 100).count(i => (i % 7).toDouble + (i % 10) * 0.5 > 6.0)
    assert(q.count() === expect.toLong)
    // sampled driving side still pushes the join (window re-checked on
    // the joined output)
    val os = spark.read.format("graftserver").options(oOpts)
      .schema("_id LONG, ck LONG, price DOUBLE").load()
      .sample(withReplacement = false, 0.5, seed = 7L)
    val sq = os.join(c, os("ck") === c("_id")).select(os("_id").as("okey"))
    assert(sq.queryExecution.executedPlan.toString.contains("PushedSample:"),
      sq.queryExecution.executedPlan.toString)
    assert(sq.count() > 0 && sq.count() < 100)
    // OFFSET = a $skip tail on the single pipeline
    val oo = spark.read.format("graftserver")
      .options(oOpts + ("splitter" -> "single"))
      .schema("_id LONG, ck LONG, price DOUBLE").load()
    val sk = oo.join(c, oo("ck") === c("_id"))
      .select(oo("_id").as("okey")).offset(90)
    assert(sk.queryExecution.executedPlan.toString.contains("PushedOffset: 90"))
    assert(sk.count() === 10)
  }

  // ---- r15 shapes: mixed-storage unwinds, the unwind-over-join
  // pipeline, array-null residuals, and traversal parity — the exact
  // semantics r15 built blind against the fake transport ----

  test("live: foreign scalar-at-array-path $unwind passes one-element rows (r15 mixed storage)") {
    live()
    import spark.implicits._
    val o = opts("mixuw")
    // two writes with different schemas = mixed storage in ONE collection
    Seq((1L, Seq("a", "b")), (2L, Seq("c")))
      .toDF("k", "tags")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    Seq((3L, "scalar")).toDF("k", "tags")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver").options(o)
      .schema("_id LONG, tags ARRAY<STRING>").load()
    val e = t.select($"_id", explode($"tags").as("tag"))
    assert(e.queryExecution.executedPlan.toString.contains("PushedUnwind"),
      e.queryExecution.executedPlan.toString)
    // mongo's $unwind rule: the scalar passes through as one element
    assert(e.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "scalar")))
  }

  test("live: includeArrayIndex on scalar storage yields a NULL pos (r15 mixed storage)") {
    live()
    import spark.implicits._
    val o = opts("mixpos")
    Seq((1L, Seq("a", "b"))).toDF("k", "tags")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    Seq((2L, "s")).toDF("k", "tags")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver").options(o)
      .schema("_id LONG, tags ARRAY<STRING>").load()
    val p = t.select($"_id", posexplode($"tags").as(Seq("pos", "tag")))
    val rows = p.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2)))
      .sorted.toSeq
    // includeArrayIndex on a non-array: NULL index (read as -1 here)
    assert(rows == Seq((1L, 0, "a"), (1L, 1, "b"), (2L, -1, "s")), rows)
  }

  test("live: recheck join with NULL extremes — null keys and null-extended rows (r15)") {
    live()
    import spark.implicits._
    val oOpts = opts("nxo") + ("assume_uniform_storage" -> "true")
    val cOpts = opts("nxc") + ("assume_uniform_storage" -> "true")
    Seq((1L, Option(10L), Option(5.0)), (2L, Option(20L), None),
        (3L, None, Option(9.0)), (4L, Option(99L), Option(2.0)))
      .toDF("k", "ck", "price")
      .write.format("graftserver").options(oOpts)
      .option("id_column", "k").mode("append").save()
    Seq((10L, 1.0), (20L, 8.0)).toDF("k", "disc")
      .write.format("graftserver").options(cOpts)
      .option("id_column", "k").mode("append").save()
    val o = spark.read.format("graftserver").options(oOpts)
      .schema("_id LONG, ck LONG, price DOUBLE").load()
    val c = spark.read.format("graftserver").options(cOpts)
      .schema("_id LONG, disc DOUBLE").load()
    // INNER + untranslatable predicate: null ck (3) and unmatched ck (4)
    // drop in the pipeline; null price (2) fails the recheck (null
    // predicate filters the row, Spark semantics)
    val q = o.join(c, o("ck") === c("_id"))
      .filter(o("price") + c("disc") > 5.5)
      .select(o("_id").as("okey"))
    assert(q.queryExecution.executedPlan.toString.contains("recheck("),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L))
    // LEFT OUTER with a preserved-side filter: null-key and unmatched
    // driving rows survive null-extended through the pushed pipeline
    val lq = o.join(c, o("ck") === c("_id"), "left_outer")
      .filter(o("price") > 1.0)
      .select(o("_id").as("okey"), $"disc")
    assert(lq.queryExecution.executedPlan.toString.contains("PushedJoin"),
      lq.queryExecution.executedPlan.toString)
    val got = lq.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).sorted.toSeq
    assert(got == Seq((1L, 1.0), (3L, -1.0), (4L, -1.0)), got)
  }

  test("live: explode(driving.arr) over the join is ONE $unwind+$lookup pipeline (r15)") {
    live()
    import spark.implicits._
    val oOpts = opts("uwjo") + ("assume_uniform_storage" -> "true")
    val cOpts = opts("uwjc") + ("assume_uniform_storage" -> "true")
    Seq((1L, 10L, Seq("x", "y")), (2L, 20L, Seq("y")),
        (3L, 10L, Seq.empty[String]), (4L, 99L, Seq("z")))
      .toDF("k", "ck", "tags")
      .write.format("graftserver").options(oOpts)
      .option("id_column", "k").mode("append").save()
    Seq((10L, "alice"), (20L, "bob")).toDF("k", "name")
      .write.format("graftserver").options(cOpts)
      .option("id_column", "k").mode("append").save()
    val o = spark.read.format("graftserver").options(oOpts)
      .schema("_id LONG, ck LONG, tags ARRAY<STRING>").load()
    val c = spark.read.format("graftserver").options(cOpts)
      .schema("_id LONG, name STRING").load()
    val q = o.join(c, o("ck") === c("_id"))
      .select(o("_id").as("okey"), $"name", explode(o("tags")).as("tag"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: tags") &&
      plan.contains("PushedJoin: INNER"), plan)
    assert(!plan.contains("Generate") && !plan.contains("Join "), plan)
    assert(q.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq ==
      Seq((1L, "alice", "x"), (1L, "alice", "y"), (2L, "bob", "y")))
    // the ELEMENT as the join key: post-unwind the unwound path holds
    // the element, so $lookup's localField addresses it directly
    val e = o.select($"_id".as("okey"), explode($"tags").as("tag"))
    val cc2 = spark.read.format("graftserver").options(cOpts)
      .schema("_id LONG, name STRING").load()
    val refs = Seq((1L, Seq(10L, 20L)), (2L, Seq(20L, 55L)))
      .toDF("k", "refs")
    refs.write.format("graftserver").options(opts("uwjr") +
        ("assume_uniform_storage" -> "true"))
      .option("id_column", "k").mode("append").save()
    val rr = spark.read.format("graftserver")
      .options(opts("uwjr") + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, refs ARRAY<LONG>").load()
    val er = rr.select($"_id".as("okey"), explode($"refs").as("ref"))
    val ej = er.join(cc2, er("ref") === cc2("_id"))
      .select($"okey", $"ref", $"name")
    assert(ej.queryExecution.executedPlan.toString.contains("PushedUnwind: refs"),
      ej.queryExecution.executedPlan.toString)
    assert(ej.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq ==
      Seq((1L, 10L, "alice"), (1L, 20L, "bob"), (2L, 20L, "bob")))
  }

  test("live: pushed IsNotNull on an ARRAY column keeps null-containing arrays (r15 residual)") {
    live()
    import spark.implicits._
    val o = opts("arrnull")
    Seq((1L, Seq[java.lang.Long](1L, 2L)), (2L, Seq[java.lang.Long](1L, null)),
        (3L, null.asInstanceOf[Seq[java.lang.Long]]))
      .toDF("k", "p")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver").options(o)
      .schema("_id LONG, p ARRAY<LONG>").load()
    // the wire {$ne: null} would drop doc 2 (element traversal matches
    // the null) — the residual re-check keeps Spark's semantics
    assert(t.filter($"p".isNotNull).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    assert(t.filter($"p".isNull).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("live: MAP explode — $objectToArray+$unwind pipeline, key group, outer nulls (r15)") {
    live()
    import spark.implicits._
    val o = opts("mapuw") + ("assume_uniform_storage" -> "true")
    Seq(
      (1L, Map("en" -> 3L, "fr" -> 5L)),
      (2L, Map("de" -> 9L)),
      (3L, Map.empty[String, Long]))
      .toDF("k", "langs")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val t = spark.read.format("graftserver").options(o)
      .schema("_id LONG, langs MAP<STRING, LONG>").load()
    val e = t.select($"_id", explode($"langs"))
    assert(e.queryExecution.executedPlan.toString
      .contains("PushedUnwind: langs MAP"))
    assert(e.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq ==
      Seq((1L, "en", 3L), (1L, "fr", 5L), (2L, "de", 9L)))
    // outer keeps the empty-map parent with null key/value
    val eo = t.select($"_id", explode_outer($"langs"))
    assert(eo.count() === 4)
    // GROUP BY key = one $set+$unwind+$group aggregate round-trip on
    // the real wire
    val g = t.select(explode($"langs"))
      .groupBy($"key").agg(sum($"value").as("total"))
    assert(g.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate: GROUP BY __graft_kv.k"))
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 3L, "fr" -> 5L, "de" -> 9L))
  }

  test("live: option-query array traversal parity (intermediate segments, ranges, null) (r15)") {
    live()
    import spark.implicits._
    val o = opts("trav")
    // array-of-struct storage through the DF writer
    Seq((1L, Seq((5, 0)), 0), (2L, Seq((9, 0)), 0), (3L, Seq((1, 0)), 0))
      .toDF("k", "raw", "pad")
      .select($"k", expr("transform(raw, x -> named_struct('a', x._1))").as("m"))
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    Seq((4L, 7L)).toDF("k", "x")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    def ids(q: String): Seq[Long] =
      spark.read.format("graftserver").options(o)
        .schema("_id LONG").option("query", q).load()
        .collect().map(_.getLong(0)).sorted.toSeq
    // these counts are EXACTLY what the r15 fake-transport matcher
    // computes (OptionSurfaceSpec twin) — any difference is a live
    // divergence to fix in BQuery.resolvePath
    assert(ids("""{"m.a": 5}""") == Seq(1L))
    assert(ids("""{"m.a": {"$gte": 5}}""") == Seq(1L, 2L))
    assert(ids("""{"m.a": null}""") == Seq(4L))
    assert(ids("""{"m.a": {"$exists": true}}""") == Seq(1L, 2L, 3L))
    // NUMERIC segments, VALUE tests (r16): the engine resolves them
    // positionally AND by element field name (resolvePath) — these pin
    // that a live server does the same for non-null tests. The NULL
    // edge itself stays refused on client-evaluating transports
    // (NumericNullEdge); this run records the server's rule for it.
    Seq((5L, Seq(7, 8)), (6L, Seq(0, 7))).foreach { case (k, arr) =>
      // raw int arrays: positional m.0 -> first element
      import spark.implicits._
      Seq((k, arr)).toDF("k", "m")
        .write.format("graftserver").options(o)
        .option("id_column", "k").mode("append").save()
    }
    assert(ids("""{"m.0": 7}""") == Seq(5L), "positional index resolution")
    assert(ids("""{"m.1": 7}""") == Seq(6L))
    assert(ids("""{"m.0": {"$gte": 7}}""") == Seq(5L))
    // element-field-name arm: {"0": 7} stored INSIDE an array element
    import spark.implicits._
    Seq((7L, 0)).toDF("k", "pad")
      .select($"k", expr("array(named_struct('0', 7))").as("m"))
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    assert(ids("""{"m.0": 7}""").contains(7L),
      "field-name resolution inside array elements (the engine's second arm)")
  }

  test("live: regex common-subset parity — server count == engine Java count (r16)") {
    live()
    import spark.implicits._
    val o = opts("redial")
    // strings designed to light up the newline-convention corners the
    // UNIX_LINES compile closes (\r under '.', multiline '^')
    val values = Seq("ab7", "a\rb", "a\nb", "Ab", "xyz", "a{2}b",
      "aa", "colour", "color", "x", "ab\ncd", "12a34")
    values.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("k", "s")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val battery: Seq[(String, String)] = Seq(
      ("^ab", ""), ("^ab", "i"), ("a.b", ""), ("a.b", "s"), ("^b", "m"),
      ("colou?r", ""), ("[0-9]+", ""), ("(?:ab)+", ""), ("a{2}", ""),
      ("\\Qa{2}\\E", ""), ("x\\z", ""), ("^\\Qab\\E", ""), ("a|cd", ""))
    battery.foreach { case (pat, fl) =>
      assert(graft.query.RegexDialect.portable(pat, fl), s"battery pattern $pat")
      val q = if (fl.isEmpty) s"""{"s": {"$$regex": "${pat.replace("\\", "\\\\")}"}}"""
        else s"""{"s": {"$$regex": "${pat.replace("\\", "\\\\")}", "$$options": "$fl"}}"""
      val serverCount = spark.read.format("graftserver").options(o)
        .option("query", q).schema("_id LONG").load().count()
      // the engine's own matcher (java.util.regex under UNIX_LINES) on
      // the same values — IN-SUBSET patterns must agree EXACTLY; any
      // difference is a common-subset classifier bug to fix
      val javaCount = values.count(s =>
        graft.query.BQuery.Regex("s", pat, fl)
          .matches(graft.bson.BDoc("s" -> graft.bson.BString(s))))
      assert(serverCount === javaCount.toLong,
        s"dialects disagree inside the claimed common subset: '$pat' ($fl)")
    }
  }

  test("live: out-of-subset corners under regex_dialect=server probe PCRE behavior (r16)") {
    live()
    import spark.implicits._
    val o = opts("recorn")
    Seq((1L, "&"), (2L, "1"), (3L, "x"), (4L, "٣"))
      .toDF("k", "s")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    def ids(q: String, extra: (String, String)*): Seq[Long] =
      spark.read.format("graftserver").options(o ++ extra.toMap)
        .schema("_id LONG").option("query", q).load()
        .collect().map(_.getLong(0)).sorted.toSeq
    // the DEFAULT mode refuses the out-of-subset pattern even live —
    // the user must pick a dialect explicitly
    val e = intercept[Throwable] { ids("""{"s": {"$regex": "[0-9&&1]"}}""") }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("common subset")), chain(e).mkString("\n"))
    // class '&&' is LITERAL in PCRE (Java-only intersection syntax):
    // the server must match '&' and '1', where Java would match only '1'
    assert(ids("""{"s": {"$regex": "[0-9&&1]"}}""",
      "regex_dialect" -> "server") == Seq(1L, 2L),
      "PCRE reads '&&' as literal class members")
    // \d beyond ASCII: PCRE without UCP stays ASCII-only — the
    // Arabic-Indic digit must NOT match (if this fails, the server was
    // built with UCP defaults and \d belongs OUT of any future subset
    // extension — exactly what this probe documents)
    assert(ids("""{"s": {"$regex": "^\\d$"}}""",
      "regex_dialect" -> "server") == Seq(2L))
    // java mode evaluates client-side: intersection semantics
    assert(ids("""{"s": {"$regex": "[0-9&&1]"}}""",
      "regex_dialect" -> "java") == Seq(2L))
  }

  test("live: $objectToArray on scalar storage errors server-side (r16 fail-loud parity)") {
    live()
    import spark.implicits._
    val o = opts("o2a")
    Seq((1L, Map("a" -> 1L))).toDF("k", "metrics")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    // a FOREIGN writer stored a scalar at the map path
    Seq((2L, 7L)).toDF("k", "metrics")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    val q = spark.read.format("graftserver").options(o)
      .schema("_id LONG, metrics MAP<STRING, LONG>").load()
      .select($"_id", explode($"metrics"))
    val e = intercept[Throwable] { q.collect() }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(m => m.contains("objectToArray") || m.contains("$objectToArray")),
      s"server and engine must both fail loud on non-document map storage:\n${chain(e).mkString("\n")}")
  }

  test("live: duplicate-key subdocument under $objectToArray (foreign raw writer) (r16)") {
    live()
    import spark.implicits._
    val o = opts("dupk")
    Seq((1L, Map("a" -> 1L))).toDF("k", "metrics")
      .write.format("graftserver").options(o)
      .option("id_column", "k").mode("append").save()
    // splice RAW BSON bytes for {_id: 2, metrics: {a: 1, a: 2}} — no
    // driver Document API allows duplicate keys, which is the point:
    // only a foreign raw writer produces this storage
    def el32(name: String, v: Int): Array[Byte] = {
      val nb = name.getBytes("UTF-8")
      val bb = java.nio.ByteBuffer.allocate(1 + nb.length + 1 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(0x10.toByte).put(nb).put(0.toByte).putInt(v)
      bb.array()
    }
    def doc(els: Array[Byte]*): Array[Byte] = {
      val body = els.flatten.toArray
      val bb = java.nio.ByteBuffer.allocate(4 + body.length + 1)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(4 + body.length + 1).put(body).put(0.toByte)
      bb.array()
    }
    def elDoc(name: String, d: Array[Byte]): Array[Byte] = {
      val nb = name.getBytes("UTF-8")
      java.nio.ByteBuffer.allocate(1 + nb.length + 1 + d.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put(0x03.toByte).put(nb).put(0.toByte).put(d).array()
    }
    def el64(name: String, v: Long): Array[Byte] = {
      val nb = name.getBytes("UTF-8")
      java.nio.ByteBuffer.allocate(1 + nb.length + 1 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put(0x12.toByte).put(nb).put(0.toByte).putLong(v).array()
    }
    val raw = doc(el64("_id", 2L),
      elDoc("metrics", doc(el32("a", 1), el32("a", 2))))
    // insert through the driver's RawBsonDocument via reflection (the
    // driver jar is only on the classpath in a live run)
    val cl = Class.forName("com.mongodb.client.MongoClients")
    val client = cl.getMethod("create", classOf[String]).invoke(null, uri.get)
    try {
      val Array(db, coll) = o("ns").split('.')
      val rawCls = Class.forName("org.bson.RawBsonDocument")
      val rawDoc = rawCls.getConstructor(classOf[Array[Byte]])
        .newInstance(raw).asInstanceOf[AnyRef]
      val database = client.getClass.getMethod("getDatabase", classOf[String])
        .invoke(client, db)
      val collection = database.getClass
        .getMethod("getCollection", classOf[String], classOf[Class[_]])
        .invoke(database, coll, rawCls)
      collection.getClass.getMethod("insertOne", classOf[Object])
        .invoke(collection, rawDoc)
    } finally client.asInstanceOf[AutoCloseable].close()
    val rows = spark.read.format("graftserver").options(o)
      .schema("_id LONG, metrics MAP<STRING, LONG>").load()
      .select($"_id", explode($"metrics"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // whatever the server's $objectToArray does with the duplicate
    // (emit both entries or collapse), the engine must pass its rows
    // through untouched: doc 1 contributes (1,a,1); doc 2 contributes
    // its entries with key "a" — record the observed arity
    assert(rows.head == (1L, "a", 1L), rows.toString)
    val dup = rows.filter(_._1 == 2L)
    assert(dup.nonEmpty && dup.forall(_._2 == "a"),
      s"duplicate-key storage must surface as key-'a' rows, got $rows")
  }

  test("live: MAP explode over the pushed join is ONE $objectToArray+$lookup pipeline (r16)") {
    live()
    import spark.implicits._
    val od = opts("mjo"); val oc = opts("mjc")
    Seq(
      (1L, 10L, Map("a" -> 1L, "b" -> 2L)),
      (2L, 20L, Map("b" -> 3L)),
      (3L, 10L, Map.empty[String, Long]),
      (4L, 99L, Map("c" -> 4L)))
      .toDF("k", "ck", "metrics")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    Seq((10L, "alice"), (20L, "bob")).toDF("k", "name")
      .write.format("graftserver").options(oc)
      .option("id_column", "k").mode("append").save()
    val oo = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, ck LONG, metrics MAP<STRING, LONG>").load()
    val cc = spark.read.format("graftserver")
      .options(oc + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING").load()
    val q = oo.join(cc, oo("ck") === cc("_id"))
      .select($"name", explode(oo("metrics")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: metrics MAP") &&
      plan.contains("PushedJoin: INNER"), plan)
    assert(!plan.contains("Generate") && !plan.contains("Join "), plan)
    assert(q.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq ==
      Seq(("alice", "a", 1L), ("alice", "b", 2L), ("bob", "b", 3L)))
  }

  test("live: mirrored unwind-over-join — pre-unwound RIGHT relation drives (r16)") {
    live()
    import spark.implicits._
    val od = opts("miro"); val oc = opts("mirc")
    Seq((1L, 10L, Seq("x", "y")), (2L, 99L, Seq("z")))
      .toDF("k", "ck", "tags")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    Seq((10L, "alice"), (30L, "carol")).toDF("k", "name")
      .write.format("graftserver").options(oc)
      .option("id_column", "k").mode("append").save()
    val oo = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, ck LONG, tags ARRAY<STRING>").load()
    val cc = spark.read.format("graftserver")
      .options(oc + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, name STRING").load()
    val e = oo.select(oo("ck"), explode(oo("tags")).as("tag"))
    val q = cc.join(e, cc("_id") === e("ck"), "right_outer")
      .select($"name", $"tag")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedUnwind: tags") &&
      plan.contains("PushedJoin: LEFT OUTER"), plan)
    assert(!plan.contains("Generate") && !plan.contains("Join "), plan)
    assert(q.collect()
      .map(r => (Option(r.getString(0)).getOrElse("∅"), r.getString(1)))
      .sorted.toSeq ==
      Seq(("alice", "x"), ("alice", "y"), ("∅", "z")))
  }

  test("live: RANGE join — $expr carries the inequality conjuncts; nulls never match (r17)") {
    live()
    import spark.implicits._
    val od = opts("rjo"); val oc = opts("rjd")
    // e: _id, bkt, v (one null v); d: _id, bkt, lo, hi (one null lo).
    // Pins the aggregation $lt/$gt null edge: an unguarded
    // `$lt: [null, x]` would MATCH in BSON total order — the pipeline's
    // `$gt: [$$r0, null]` guard plus the non-null right $match must
    // make null operands behave exactly like Spark (no match;
    // LEFT OUTER null-extends).
    Seq((1L, 0L, java.lang.Long.valueOf(5L)),
        (2L, 0L, java.lang.Long.valueOf(25L)),
        (3L, 0L, null.asInstanceOf[java.lang.Long]),
        (4L, 1L, java.lang.Long.valueOf(5L)))
      .toDF("k", "bkt", "v")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    Seq((10L, 0L, java.lang.Long.valueOf(0L), 10L),
        (11L, 0L, java.lang.Long.valueOf(20L), 30L),
        (12L, 0L, null.asInstanceOf[java.lang.Long], 99L),
        (13L, 1L, java.lang.Long.valueOf(50L), 60L))
      .toDF("k", "bkt", "lo", "hi")
      .write.format("graftserver").options(oc)
      .option("id_column", "k").mode("append").save()
    val ee = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, bkt LONG, v LONG").load()
    val dd = spark.read.format("graftserver")
      .options(oc + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, bkt LONG, lo LONG, hi LONG").load()
    val q = ee.join(dd, ee("bkt") === dd("bkt") &&
        ee("v") >= dd("lo") && ee("v") < dd("hi"))
      .select(ee("_id").as("ekey"), dd("_id").as("dkey"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedJoin: INNER") && plan.contains(">= lo") &&
      !plan.contains("Join "), plan)
    // e1 in [0,10); e2 in [20,30); e3 null v and e4 out-of-bracket drop;
    // the null-lo dim matches nothing
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 11L)))
    // LEFT OUTER: null v and unmatched rows null-extend, never match
    val lo = ee.join(dd, ee("bkt") === dd("bkt") &&
        ee("v") >= dd("lo") && ee("v") < dd("hi"), "left_outer")
      .select(ee("_id").as("ekey"), dd("_id").as("dkey"))
    assert(lo.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq ==
      Seq((1L, 10L), (2L, 11L), (3L, -1L), (4L, -1L)))
  }

  test("live: COMPUTED bin columns — $set/$mod pipeline, null-input rule, negative pmod (r17)") {
    live()
    import spark.implicits._
    val od = opts("cbo"); val oc = opts("cbd")
    // the $mod null rule and the pmod nesting were built BLIND against
    // the fake: a null/missing input must produce a NULL computed value
    // (grouping under the null key / never joining), and a NEGATIVE
    // input must land in the non-negative pmod bin via
    // {$mod: [{$add: [{$mod: [a, n]}, n]}, n]}
    Seq((1L, java.lang.Long.valueOf(10L)), (2L, java.lang.Long.valueOf(-10L)),
        (3L, null.asInstanceOf[java.lang.Long]), (4L, java.lang.Long.valueOf(24L)))
      .toDF("k", "v")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    Seq((3L, "three"), (4L, "four")).toDF("k", "lbl")
      .write.format("graftserver").options(oc)
      .option("id_column", "k").mode("append").save()
    val ee = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, v LONG").load()
    val dd = spark.read.format("graftserver")
      .options(oc + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, lbl STRING").load()
    // grouped pipeline: $match + $set + $group on the derived bin
    val g = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .groupBy($"bkt").agg(count(lit(1)).as("n"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("PushedComputed: [bkt = pmod(v, 7)]") &&
      gPlan.contains("PushedGroupedAggregate"), gPlan)
    // 10 -> 3, -10 -> 4 (pmod, NOT -3), null -> null group, 24 -> 3
    assert(g.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((-1L, 1L), (3L, 2L), (4L, 1L)))
    // derived-bin join: $set + $lookup; null bin never matches
    val j = ee.withColumn("bkt", pmod($"v", lit(7L)))
      .join(dd, $"bkt" === dd("_id"))
      .select(ee("_id").as("ekey"), $"lbl")
    val jPlan = j.queryExecution.executedPlan.toString
    assert(jPlan.contains("PushedComputed") &&
      jPlan.contains("PushedJoin: INNER") && !jPlan.contains("Join "), jPlan)
    assert(j.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "three"), (2L, "four"), (4L, "three")))
    // INT-width promotion: an IntegerType bin renders an int32 $mod
    // literal, so the server's result stays int32 — the width the
    // declared column decodes (a long literal would promote to int64
    // and an int column would refuse the read). Reasoned blind; this
    // pins it.
    val oi = opts("cbi")
    Seq((1L, 7), (2L, -7)).toDF("k", "iv")
      .write.format("graftserver").options(oi)
      .option("id_column", "k").mode("append").save()
    val ii = spark.read.format("graftserver")
      .options(oi + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, iv INT").load()
    val gi = ii.withColumn("b", pmod($"iv", lit(5)))
      .groupBy($"b").agg(count(lit(1)).as("n"))
    assert(gi.queryExecution.executedPlan.toString
      .contains("PushedComputed: [b = pmod(iv, 5)]"))
    assert(gi.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq ==
      Seq((2, 1L), (3, 1L))) // 7 -> 2, -7 -> 3 (pmod)
  }

  test("live: DATE-function bins — $year/$dateTrunc pipeline, calendar edges, week start (r18)") {
    live()
    import spark.implicits._
    val od = opts("dbo")
    // the calendar dialect was built BLIND against java.time: a real
    // server must agree on (a) the null-input -> null rule for date
    // operators, (b) PROLEPTIC Gregorian years for pre-1582 and
    // pre-1970 instants (timelib has no Julian switch — this pins it),
    // (c) $dateTrunc week starting MONDAY under startOfWeek, and
    // (d) the explicit timezone: "UTC" rendering
    val rows = Seq(
      (1L, java.lang.Long.valueOf(-14831769600000L)), // 1500-01-01 (proleptic)
      (2L, java.lang.Long.valueOf(-86400000L)),       // 1969-12-31
      (3L, java.lang.Long.valueOf(951782400000L)),    // 2000-02-29 (leap day)
      (4L, java.lang.Long.valueOf(1640995200000L)),   // 2022-01-01 (a Saturday)
      (5L, null.asInstanceOf[java.lang.Long]))
    rows.toDF("k", "ms").select($"k", timestamp_millis($"ms").as("ts"))
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    val ee = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, ts TIMESTAMP").load()
    val g = ee.groupBy(year($"ts").as("y")).agg(count(lit(1)).as("n"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("= year(ts)") &&
      gPlan.contains("PushedGroupedAggregate"), gPlan)
    assert(g.collect().map(r =>
      (if (r.isNullAt(0)) -1 else r.getInt(0), r.getLong(1))).sorted.toSeq ==
      Seq((-1, 1L), (1500, 1L), (1969, 1L), (2000, 1L), (2022, 1L)))
    // $dateTrunc week (startOfWeek: monday): 2022-01-01 is a Saturday —
    // the Monday of its week is 2021-12-27 (1640563200000); the leap
    // day's week-Monday is 2000-02-28 (951696000000)
    val w = ee.groupBy(date_trunc("week", $"ts").as("w"))
      .agg(count(lit(1)).as("n"))
    assert(w.queryExecution.executedPlan.toString
      .contains("= date_trunc(week, ts)"))
    val wMs = w.collect().map(r =>
      if (r.isNullAt(0)) -1L
      else r.getTimestamp(0).getTime).sorted.toSeq
    assert(wMs.contains(1640563200000L) && wMs.contains(951696000000L), wMs)
    // PRE-EPOCH $dateTrunc: binSize 1 truncates to the NATURAL unit
    // boundary on both sides of the 2000-01-01 reference grid —
    // 1969-12-31 (a Wednesday) week-truncates to Monday 1969-12-29
    assert(wMs.contains(-259200000L), wMs)
    // month/dayofmonth over the leap day; $dateTrunc quarter of the
    // Saturday row lands on 2022-01-01 itself (951782400000 stays for
    // the leap day's quarter start 2000-01-01 = 946684800000)
    val md = ee.filter($"_id" === 3L)
      .groupBy(month($"ts").as("m"), dayofmonth($"ts").as("dm"),
        date_trunc("quarter", $"ts").as("q"))
      .agg(count(lit(1)).as("n"))
    val r0 = md.collect().head
    assert(r0.getInt(0) == 2 && r0.getInt(1) == 29 &&
      r0.getTimestamp(2).getTime == 946684800000L, r0)
    // r18 second wave: $dayOfWeek is Sunday-1 (2022-01-01 is a Saturday
    // -> 7), $isoWeek is ISO 8601 (2022-01-01 belongs to 2021-W52 ->
    // 52), $dayOfYear of the leap day -> 60 — all pinned blind against
    // java.time, verified here on the real wire
    val dw = ee.filter($"_id" === 4L)
      .groupBy(dayofweek($"ts").as("dw"), weekofyear($"ts").as("wk"),
        hour($"ts").as("h"))
      .agg(count(lit(1)).as("n"))
    val rw = dw.collect().head
    assert(rw.getInt(0) == 7 && rw.getInt(1) == 52 && rw.getInt(2) == 0, rw)
    val dy = ee.filter($"_id" === 3L)
      .groupBy(dayofyear($"ts").as("doy")).agg(count(lit(1)).as("n"))
    assert(dy.collect().head.getInt(0) == 60)
  }

  test("live: CHAINED range stage — per-stage $expr inequality + guards on a real server (r18)") {
    live()
    import spark.implicits._
    val od = opts("cro"); val ol = opts("crl"); val ob = opts("crb")
    // the chained-stage $expr rendering (per-var let rebinding across
    // the flatten $project, null guards, BSON-order comparisons) was
    // built blind against the fake — this pins a real server's
    // evaluation of the SECOND stage's inequality, including the
    // null-operand row that must drop under INNER
    Seq((1L, 10L, 5L), (2L, 10L, 25L), (3L, 20L, 5L),
        (4L, 20L, -1L), (5L, 10L, -1L))
      .map { case (k, g, v) => (k, g, if (v < 0) null
        else java.lang.Long.valueOf(v)) }
      .toDF("k", "g", "v")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    Seq((10L, "g10"), (20L, "g20")).toDF("g", "lbl")
      .write.format("graftserver").options(ol).mode("append").save()
    Seq((100L, 10L, 0L, 10L), (101L, 10L, 10L, 30L), (102L, 20L, 0L, 10L))
      .toDF("bk", "g", "lo", "hi")
      .write.format("graftserver").options(ob).mode("append").save()
    def rd(o: Map[String, String], schema: String) =
      spark.read.format("graftserver")
        .options(o + ("assume_uniform_storage" -> "true"))
        .schema(schema).load()
    val e0 = rd(od, "_id LONG, g LONG, v LONG")
    val l0 = rd(ol, "g LONG, lbl STRING")
    val b0 = rd(ob, "bk LONG, g LONG, lo LONG, hi LONG")
    val q = e0.join(l0, e0("g") === l0("g"))
      .join(b0, e0("g") === b0("g") && e0("v") >= b0("lo") && e0("v") < b0("hi"))
      .select(e0("_id").as("k"), $"lbl", b0("bk"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("THEN INNER") && plan.contains("v >= lo") &&
      plan.contains("v < hi") && !plan.contains("Join "), plan)
    // k=1 -> bracket 100; k=2 -> 101; k=3 -> 102; k=4/5 null v drop
    assert(q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq ==
      Seq((1L, "g10", 100L), (2L, "g10", 101L), (3L, "g20", 102L)))
  }

  test("live: STRING range keys — binary collation IS Spark's UTF-8 order (r18 ascii gate)") {
    live()
    import spark.implicits._
    val od = opts("sro"); val ob = opts("srb")
    // the ascii_columns admission rests on: a real server's simple
    // (binary) collation compares UTF-8 bytes = Spark's UTF8String
    // order. Pin it with ASCII brackets AND with values straddling the
    // ASCII boundary — the LIVE wire must match Spark even off the
    // ASCII plane (the sandbox refuses those; live is exact regardless,
    // which is why a wrong declaration can never corrupt live results)
    Seq((1L, 0L, "apple"), (2L, 0L, "fig"), (3L, 0L, "zebra"),
        (4L, 0L, "Ápple"), (5L, 0L, null.asInstanceOf[String]))
      .toDF("k", "bkt", "s")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    Seq((10L, 0L, "a", "g"), (11L, 0L, "g", "{"))
      .toDF("k", "bkt", "s_lo", "s_hi")
      .write.format("graftserver").options(ob)
      .option("id_column", "k").mode("append").save()
    val e0 = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true",
        "ascii_columns" -> "s"))
      .schema("_id LONG, bkt LONG, s STRING").load()
    val b0 = spark.read.format("graftserver")
      .options(ob + ("assume_uniform_storage" -> "true",
        "ascii_columns" -> "s_lo,s_hi"))
      .schema("_id LONG, bkt LONG, s_lo STRING, s_hi STRING").load()
    val q = e0.join(b0, e0("bkt") === b0("bkt") &&
        e0("s") >= b0("s_lo") && e0("s") < b0("s_hi"))
      .select(e0("_id").as("k"), b0("_id").as("bk"))
    assert(q.queryExecution.executedPlan.toString.contains("s >= s_lo"))
    // apple/fig -> [a,g); zebra -> [g,{); Ápple (U+00C1 > 'z' in UTF-8
    // AND UTF-16 alike — but < '{'? No: '{' is 0x7B < 0xC1, so Ápple
    // matches NEITHER bracket in BOTH orders); null s drops.
    // NOTE: the 'Ápple' row violates the ascii declaration — on a LIVE
    // server the comparison is still Spark-exact (binary collation);
    // this shape PROVES that, which is why only the sandbox throws.
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 10L), (3L, 11L)))
  }

  test("live: STRING order surfaces — cursor sort + $min/$max binary order (r18 ascii gate)") {
    live()
    import spark.implicits._
    val od = opts("sos")
    // cursor sorts and $min/$max on a real server use the binary
    // collation (= Spark's UTF-8 order); the ascii admission's returned-
    // value verification must pass on clean ASCII data end-to-end
    Seq((1L, "pear", 0L), (2L, "apple", 0L), (3L, "fig", 1L),
        (4L, null.asInstanceOf[String], 1L), (5L, "apple", 1L))
      .toDF("k", "name", "g")
      .write.format("graftserver").options(od)
      .option("id_column", "k").mode("append").save()
    val e0 = spark.read.format("graftserver")
      .options(od + ("assume_uniform_storage" -> "true",
        "ascii_columns" -> "name"))
      .schema("_id LONG, name STRING, g LONG").load()
    val t = e0.orderBy($"name".asc_nulls_first, $"_id".asc).limit(3)
      .select($"_id", $"name")
    assert(t.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(t.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) "-" else r.getString(1))).toSeq ==
      Seq((4L, "-"), (2L, "apple"), (5L, "apple")))
    val mm = e0.groupBy($"g")
      .agg(min($"name").as("lo"), max($"name").as("hi"))
    assert(mm.queryExecution.executedPlan.toString
      .contains("PushedGroupedAggregate"))
    assert(mm.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq == Seq((0L, "apple", "pear"), (1L, "apple", "fig")))
  }
}
