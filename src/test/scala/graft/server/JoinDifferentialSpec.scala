package graft.server

import graft.{GraftConf, SparkSpec}
import graft.bson._
import graft.store.InsertOne

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Differential check of the pushed `$lookup` join: every join shape runs
  * three ways over the same rows — pushed into one graftserver pipeline
  * (the sandbox transport, [[DirServerFactory]]), over the same
  * graftserver collections with join pushdown off (Spark joins the two
  * scans), and on Spark over the rows in memory. The results must be
  * equal as multisets.
  *
  * Shapes: 2-way INNER, LEFT OUTER and RIGHT OUTER joins, and 3-way
  * chains (INNER, LEFT OUTER, and one whose stages carry range conjuncts
  * under `assume_uniform_storage`). Each runs plain, under GROUP BY and
  * under ORDER BY … LIMIT.
  *
  * Two data sets, both generated from fixed seeds:
  *  - Spark-written rows whose join keys repeat, are null, or are
  *    missing (a second append without the columns), with non-ASCII
  *    string keys;
  *  - raw BSON docs stored through the store's `bulkWrite`, which no
  *    Spark write can produce: one key value stored as Int32, Int64 and
  *    integral Double (read as `DOUBLE`). These compare the pushed arm
  *    against the unpushed one only.
  */
class JoinDifferentialSpec extends SparkSpec {

  // ---- Spark-written rows ----

  private val lSchema = StructType(Seq(
    StructField("_id", LongType), StructField("k", LongType),
    StructField("s", StringType), StructField("v", LongType),
    StructField("g", IntegerType)))
  private val rSchema = StructType(Seq(
    StructField("_id", LongType), StructField("k", LongType),
    StructField("s", StringType), StructField("lo", LongType),
    StructField("hi", LongType), StructField("c", LongType)))
  private val cSchema = StructType(Seq(
    StructField("_id", LongType), StructField("w", LongType),
    StructField("label", StringType)))

  private val strings = Seq("a", "b", "é", "日本", "ß")

  /** One Spark-written collection: `full` rows, then `bare` rows stored
    * by a second append with only the `kept` columns (the rest are
    * missing from their docs). */
  private final case class Rel(ns: String, schema: StructType, full: Seq[Row],
      bare: Seq[Row], kept: Seq[String]) {
    def rows: Seq[Row] = full ++ bare
  }

  /** `v`, or null one time in eight. */
  private def maybe(r: scala.util.Random)(v: => AnyRef): AnyRef =
    if (r.nextInt(8) == 0) null else v

  private lazy val lRel: Rel = {
    val r = new scala.util.Random(20261020L)
    val m = maybe(r) _
    Rel("db.l", lSchema, (1 to 60).map { i =>
      Row(i.toLong, m(Long.box(r.nextInt(8))), m(strings(r.nextInt(strings.size))),
        m(Long.box(r.nextInt(100))), r.nextInt(4))
    }, (61 to 66).map(i => Row(i.toLong, null, null, null, i % 4)), Seq("_id", "g"))
  }

  private lazy val rRel: Rel = {
    val r = new scala.util.Random(20261021L)
    val m = maybe(r) _
    Rel("db.r", rSchema, (1 to 30).map { i =>
      val lo = Option(m(Long.box(r.nextInt(3) * 30L))).map(_.asInstanceOf[java.lang.Long])
      Row(i.toLong, m(Long.box(r.nextInt(10))), m(strings(r.nextInt(strings.size))),
        lo.orNull, lo.map(x => Long.box(x + 40)).orNull, m(Long.box(r.nextInt(6))))
    }, (31 to 34).map(i => Row(i.toLong, null, null, null, null, null)), Seq("_id"))
  }

  private lazy val cRel: Rel = Rel("db.c", cSchema,
    (0 until 5).map(i => Row(i.toLong, (i + 1) * 20L, if (i % 2 == 0) s"seg$i" else s"ségment$i")),
    Nil, Nil)

  private lazy val serverDir: String = {
    val dir = Files.createTempDirectory("graft-jdiff").toString
    Seq(lRel, rRel, cRel).foreach { rel =>
      def write(df: DataFrame): Unit = df.write.format("graftserver")
        .option("server_dir", dir).option("ns", rel.ns).option("id_column", "_id")
        .mode("append").save()
      write(spark.createDataFrame(rel.full.asJava, rel.schema))
      if (rel.bare.nonEmpty)
        write(spark.createDataFrame(rel.bare.asJava, rel.schema).select(rel.kept.map(col): _*))
    }
    dir
  }

  // ---- raw BSON docs ----

  private val rawL = "_id INT, k DOUBLE, g INT"
  private val rawR = "_id INT, k DOUBLE, x DOUBLE"
  private val rawC = "_id INT, ck DOUBLE, label STRING"

  /** One small key value in one of its numeric storages, null or
    * missing (None). */
  private def rawKey(r: scala.util.Random, range: Int): Option[BsonValue] = r.nextInt(9) match {
    case 0 => None
    case 1 => Some(BNull)
    case 2 | 3 => Some(BInt32(r.nextInt(range)))
    case 4 | 5 => Some(BInt64(r.nextInt(range).toLong))
    case 6 => Some(BDouble(r.nextInt(range) + 0.5))
    case _ => Some(BDouble(r.nextInt(range).toDouble))
  }

  private lazy val rawServerDir: String = {
    val dir = Files.createTempDirectory("graft-jdiff-raw").toString
    val client = new FakeServerClient(Some(dir))
    val r = new scala.util.Random(20261022L)
    def doc(id: Int, fields: (String, Option[BsonValue])*): BDoc =
      BDoc((("_id" -> (BInt32(id): BsonValue)) +: fields.flatMap { case (n, v) => v.map(n -> _) }): _*)
    client.bulkWrite("db.rl", (1 to 50).iterator.map(i =>
      InsertOne(doc(i, "k" -> rawKey(r, 6), "g" -> Some(BInt32(i % 3))))), ordered = true)
    client.bulkWrite("db.rr", (1 to 30).iterator.map(i =>
      InsertOne(doc(i, "k" -> rawKey(r, 8), "x" -> rawKey(r, 4)))), ordered = true)
    client.bulkWrite("db.rc", (1 to 6).iterator.map(i =>
      InsertOne(doc(i, "ck" -> rawKey(r, 4), "label" -> Some(BString(s"c${i % 3}"))))),
      ordered = true)
    client.close()
    dir
  }

  // ---- shapes ----

  /** One join shape over three relations: the joined frame, its GROUP BY
    * key, and the ORDER BY keys (the output of the LIMIT arm, so ties
    * are identical rows). `chained` shapes must push as one pipeline
    * with a second stage. */
  private final case class Shape(name: String, chained: Boolean,
      join: (DataFrame, DataFrame, DataFrame) => DataFrame,
      groupKey: String, orderKeys: Seq[String])

  private val shapes: Seq[Shape] = Seq(
    Shape("inner", chained = false, (l, r, _) => l.join(r, l("k") === r("k"))
      .select(l("_id").as("lid"), r("_id").as("rid"), l("s"), l("v"), l("g")),
      "g", Seq("lid", "rid")),
    Shape("left outer on a string key", chained = false,
      (l, r, _) => l.join(r, l("s") === r("s"), "left_outer")
        .select(l("_id").as("lid"), r("_id").as("rid"), l("s"), r("k"), l("g")),
      "s", Seq("lid", "rid")),
    Shape("right outer", chained = false, (l, r, _) => l.join(r, l("k") === r("k"), "right_outer")
      .select(l("_id").as("lid"), r("_id").as("rid"), r("k"), r("c"), l("g")),
      "c", Seq("rid", "lid")),
    Shape("3-way inner", chained = true, (l, r, c) => l.join(r, l("k") === r("k"))
      .join(c, r("c") === c("_id"))
      .select(l("_id").as("lid"), r("_id").as("rid"), c("label"), l("v"), l("g")),
      "label", Seq("lid", "rid")),
    Shape("3-way left outer", chained = true,
      (l, r, c) => l.join(r, l("k") === r("k"), "left_outer")
        .join(c, r("c") === c("_id"), "left_outer")
        .select(l("_id").as("lid"), r("_id").as("rid"), c("w"), c("label"), l("g")),
      "label", Seq("lid", "rid")),
    Shape("3-way range", chained = true,
      (l, r, c) => l.join(r, l("k") === r("k") && l("v") >= r("lo") && l("v") < r("hi"))
        .join(c, r("c") === c("_id") && l("v") < c("w"))
        .select(l("_id").as("lid"), r("_id").as("rid"), c("w"), l("v"), l("g")),
      "g", Seq("lid", "rid")))

  private val rawShapes: Seq[Shape] = Seq(
    Shape("raw inner", chained = false, (l, r, _) => l.join(r, l("k") === r("k"))
      .select(l("_id").as("lid"), r("_id").as("rid"), l("k"), r("x"), l("g")),
      "k", Seq("lid", "rid")),
    Shape("raw left outer", chained = false, (l, r, _) => l.join(r, l("k") === r("k"), "left_outer")
      .select(l("_id").as("lid"), r("_id").as("rid"), l("k"), l("g")),
      "g", Seq("lid", "rid")),
    Shape("raw 3-way", chained = true, (l, r, c) => l.join(r, l("k") === r("k"))
      .join(c, r("x") === c("ck"))
      .select(l("_id").as("lid"), r("_id").as("rid"), c("_id").as("cid"), c("label")),
      "label", Seq("lid", "rid", "cid")))

  /** The three ways each shape runs. */
  private def variants(s: Shape): Seq[(String, (DataFrame, DataFrame, DataFrame) => DataFrame)] = Seq(
    s"${s.name} plain" -> s.join,
    s"${s.name} group" -> ((l: DataFrame, r: DataFrame, c: DataFrame) =>
      s.join(l, r, c).groupBy(col(s.groupKey).as("key"))
        .agg(count(lit(1)).as("n"), max(col("lid")).as("mx"), min(col("rid")).as("mn"))),
    s"${s.name} topn" -> ((l: DataFrame, r: DataFrame, c: DataFrame) =>
      s.join(l, r, c).orderBy(s.orderKeys.map(k => col(k).desc_nulls_last): _*).limit(7)
        .select(s.orderKeys.map(col): _*)))

  private def multiset(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs `f` with DSv2 join pushdown off: Spark joins the two scans. */
  private def unpushed[T](f: => T): T = {
    spark.conf.set(GraftConf.JoinPushdownConf, "false")
    try f finally spark.conf.set(GraftConf.JoinPushdownConf, "true")
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Pushed arms whose plan also carries a pipeline tail. */
  private val tails = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  /** The pushed arm: the plan must carry the pushed join (with a second
    * stage for a chain) and no Spark join operator. */
  private def pushed(name: String, s: Shape, df: DataFrame): Seq[String] = {
    val p = plan(df)
    assert(p.contains("PushedJoin:") && (!s.chained || p.contains(" THEN ")),
      s"$name: join not pushed:\n$p")
    assert(!p.contains("Join "), s"$name: Spark join left in the plan:\n$p")
    Seq("PushedGroupedAggregate", "PushedTopN").filter(p.contains).foreach(t => tails(t) += 1)
    multiset(df)
  }

  private def unpushedRows(name: String, df: => DataFrame): Seq[String] = unpushed {
    val d = df
    assert(!plan(d).contains("PushedJoin"), s"$name: join pushed with pushdown off")
    multiset(d)
  }

  test("join shapes agree pushed, unpushed and in memory") {
    def read(ns: String, schema: StructType) = spark.read.format("graftserver").schema(schema)
      .option("server_dir", serverDir).option("ns", ns)
      .option("assume_uniform_storage", "true").load()
    val Seq(l, r, c) = Seq(lRel, rRel, cRel).map(rel => read(rel.ns, rel.schema))
    val Seq(ml, mr, mc) = Seq(lRel, rRel, cRel).map(rel =>
      spark.createDataFrame(rel.rows.asJava, rel.schema))
    shapes.flatMap(s => variants(s).map((s, _))).foreach { case (s, (name, q)) =>
      val expected = multiset(q(ml, mr, mc))
      assert(unpushedRows(name, q(l, r, c)) == expected, s"$name unpushed")
      assert(pushed(name, s, q(l, r, c)) == expected, s"$name pushed")
    }
    assert(multiset(shapes.head.join(ml, mr, mc)).nonEmpty)
    assert(tails("PushedGroupedAggregate") > 0 && tails("PushedTopN") > 0,
      s"pipeline tails not reached: $tails")
  }

  test("raw BSON docs (one key value in mixed numeric storages) agree pushed and unpushed") {
    def read(ns: String, schema: String) = spark.read.format("graftserver").schema(schema)
      .option("server_dir", rawServerDir).option("ns", ns).load()
    val (l, r, c) = (read("db.rl", rawL), read("db.rr", rawR), read("db.rc", rawC))
    rawShapes.flatMap(s => variants(s).map((s, _))).foreach { case (s, (name, q)) =>
      val expected = unpushedRows(name, q(l, r, c))
      assert(pushed(name, s, q(l, r, c)) == expected, s"$name: $expected")
    }
    // the fixture joins across storages: an Int32 key meets an Int64 or
    // integral Double one
    assert(multiset(rawShapes.head.join(l, r, c)).size > 10)
  }

  test("a DOUBLE key joins on the value Spark reads: Int64 2^53+1 meets Double 2^53") {
    val dir = Files.createTempDirectory("graft-jdiff-2p53").toString
    val client = new FakeServerClient(Some(dir))
    def docs(ks: BsonValue*) = ks.zipWithIndex.iterator.map { case (k, i) =>
      InsertOne(BDoc("_id" -> BInt32(i), "k" -> k)) }
    // each left key reads as the same Spark double as the right key at
    // its position: 2^53+1 rounds to 2^53, -0.0 equals 0, NaN equals NaN
    client.bulkWrite("db.bl", docs(BInt64(9007199254740993L), BDouble(-0.0),
      BDouble(Double.NaN), BInt64(7L)), ordered = true)
    client.bulkWrite("db.br", docs(BDouble(9007199254740992.0), BInt32(0),
      BDouble(Double.NaN), BDouble(7.5)), ordered = true)
    client.close()
    def read(ns: String) = spark.read.format("graftserver").schema("_id INT, k DOUBLE")
      .option("server_dir", dir).option("ns", ns).load()
    val s = Shape("2^53", chained = false, (l, r, _) => l.join(r, l("k") === r("k"))
      .select(l("_id").as("lid"), r("_id").as("rid"), l("k")), "k", Seq("lid", "rid"))
    val (l, r) = (read("db.bl"), read("db.br"))
    variants(s).foreach { case (name, q) =>
      val expected = unpushedRows(name, q(l, r, r))
      assert(pushed(name, s, q(l, r, r)) == expected, s"$name: $expected")
    }
    assert(multiset(s.join(l, r, r)).size == 3)
  }
}
