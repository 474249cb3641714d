package graft.source

import graft.SparkSpec
import graft.bson._
import graft.store.{BsonCollection, InsertOne}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Differential check of the pushed `$unwind` (explode) rule: every
  * explode shape runs on a graftbson collection, on a graftserver
  * collection (the sandbox transport, [[graft.server.DirServerFactory]])
  * and — where Spark can write the rows — on Spark over the same rows in
  * memory; the results must be equal as multisets.
  *
  * Shapes: explode, explode_outer, posexplode and posexplode_outer of an
  * array column, explode of an array of structs, and explode /
  * explode_outer of a map column. Each runs with and without an element
  * (or pos) filter, three ways: plain, under GROUP BY (the pushed grouped
  * aggregate) and under ORDER BY … LIMIT (on the server, the unwound row
  * pipeline).
  *
  * Two data sets, both generated from fixed seeds:
  *  - Spark-written rows: arrays that are non-empty (null elements
  *    included), empty, null or missing (a second append without the
  *    columns), struct elements, and a map column;
  *  - raw BSON docs stored through the store's `bulkWrite`, which no
  *    Spark write can produce: Int32/Int64/Double elements mixed in one
  *    array (read as `ARRAY<DOUBLE>`), a scalar where the array sits, and
  *    mixed-storage map values. These compare graftbson against
  *    graftserver only.
  */
class UnwindDifferentialSpec extends SparkSpec {

  private val Rows = 60
  private val Missing = 8
  private val RawDocs = 40

  // ---- Spark-written rows ----

  private val item = StructType(Seq(StructField("x", IntegerType), StructField("s", StringType)))
  private val schema = StructType(Seq(
    StructField("_id", LongType),
    StructField("g", IntegerType),
    StructField("nums", ArrayType(LongType)),
    StructField("items", ArrayType(item)),
    StructField("m", MapType(StringType, LongType))))

  private val longs: Seq[java.lang.Long] = Seq(-2L, 0L, 1L, 2L, 3L, 5L, 1L << 40).map(Long.box)
  private val strings = Seq("a", "b", "é", "日本")
  private val keys = Seq("a", "b", "c", "é")

  /** null one time in six, empty one in six, else 1–4 generated elements. */
  private def arrayOf[T](r: scala.util.Random, el: => T): Seq[T] = r.nextInt(6) match {
    case 0 => null
    case 1 => Seq.empty
    case _ => Seq.fill(1 + r.nextInt(4))(el)
  }

  private lazy val rows: Seq[Row] = {
    val r = new scala.util.Random(20261018L)
    def num: java.lang.Long = if (r.nextInt(8) == 0) null else longs(r.nextInt(longs.size))
    val written = (1 to Rows).map { k =>
      val items = arrayOf(r, Row(
        if (r.nextInt(8) == 0) null else Int.box(r.nextInt(5) - 1),
        strings(r.nextInt(strings.size))))
      val m = arrayOf(r, keys(r.nextInt(keys.size)) -> num)
      Row(k.toLong, r.nextInt(4), arrayOf(r, num), items, Option(m).map(_.toMap).orNull)
    }
    // the second append stores docs without the three columns
    written ++ (Rows + 1 to Rows + Missing).map(k => Row(k.toLong, k % 4, null, null, null))
  }

  private def writeSpark(df: DataFrame => org.apache.spark.sql.DataFrameWriter[Row]): Unit = {
    val (full, bare) = rows.partition(_.getLong(0) <= Rows)
    df(spark.createDataFrame(full.asJava, schema)).mode("append").save()
    df(spark.createDataFrame(bare.asJava, schema).select("_id", "g")).mode("append").save()
  }

  private lazy val fileDir: String = {
    val dir = Files.createTempDirectory("graft-udiff").toString
    writeSpark(_.write.format("graftbson").option("path", dir))
    dir
  }

  private lazy val serverDir: String = {
    val dir = Files.createTempDirectory("graft-udiff-srv").toString
    writeSpark(_.write.format("graftserver")
      .option("server_dir", dir).option("ns", "db.udiff"))
    dir
  }

  // ---- raw BSON docs ----

  private val rawSchema = "_id INT, g INT, nums ARRAY<DOUBLE>, m MAP<STRING, DOUBLE>"

  private lazy val rawDocs: Seq[BDoc] = {
    val r = new scala.util.Random(20261019L)
    def num: BsonValue = r.nextInt(7) match {
      case 0 => BNull
      case 1 | 2 => BInt32(r.nextInt(7) - 2)
      case 3 | 4 => BInt64(r.nextInt(7) - 2L)
      case _ => BDouble((r.nextInt(13) - 4) / 2.0)
    }
    (1 to RawDocs).map { k =>
      val nums: Option[BsonValue] = r.nextInt(8) match {
        case 0 => None
        case 1 => Some(BNull)
        case 2 => Some(BArray(Vector.empty))
        case 3 => Some(num) // a scalar where the array sits
        case _ => Some(BArray(Vector.fill(1 + r.nextInt(4))(num)))
      }
      val m: Option[BsonValue] = r.nextInt(6) match {
        case 0 => None
        case 1 => Some(BNull)
        case 2 => Some(BDoc.empty)
        case _ => Some(BDoc(keys.filter(_ => r.nextBoolean()).map(_ -> num): _*))
      }
      BDoc((Seq("_id" -> BInt32(k), "g" -> BInt32(k % 3)) ++
        nums.map("nums" -> _) ++ m.map("m" -> _)): _*)
    }
  }

  private lazy val rawFileDir: String = {
    val dir = Files.createTempDirectory("graft-udiff-raw").toString
    new BsonCollection(dir).bulkWrite(rawDocs.iterator.map(InsertOne(_)))
    dir
  }

  private lazy val rawServerDir: String = {
    val dir = Files.createTempDirectory("graft-udiff-rawsrv").toString
    val client = new graft.server.FakeServerClient(Some(dir))
    client.bulkWrite("db.raw", rawDocs.iterator.map(InsertOne(_)), ordered = true)
    dir
  }

  // ---- shapes ----

  /** One explode shape: the unwound frame (`_id`, `g`, the generator
    * outputs), the element or pos filter, the GROUP BY key, and the
    * all-numeric ORDER BY keys (the output of the LIMIT arm, so ties are
    * identical rows). */
  private final case class Shape(name: String, unwind: DataFrame => DataFrame,
      filter: Column, groupKey: Column, orderKeys: Seq[Column])

  private def shapes(numFilter: Column): Seq[Shape] = Seq(
    Shape("explode", _.select(col("_id"), col("g"), explode(col("nums")).as("el")),
      numFilter, col("el"), Seq(col("_id"), col("el"))),
    Shape("explode_outer", _.select(col("_id"), col("g"), explode_outer(col("nums")).as("el")),
      numFilter, col("el"), Seq(col("_id"), col("el"))),
    Shape("posexplode",
      _.select(col("_id"), col("g"), posexplode(col("nums")).as(Seq("pos", "el"))),
      col("pos") =!= 1, col("pos"), Seq(col("_id"), col("pos"))),
    Shape("posexplode_outer",
      _.select(col("_id"), col("g"), posexplode_outer(col("nums")).as(Seq("pos", "el"))),
      col("pos") < 2, col("pos"), Seq(col("_id"), col("pos"))),
    Shape("explode map", _.select(col("_id"), col("g"), explode(col("m")).as(Seq("k", "el"))),
      numFilter, col("k"), Seq(col("_id"), col("el"))),
    Shape("explode_outer map",
      _.select(col("_id"), col("g"), explode_outer(col("m")).as(Seq("k", "el"))),
      col("k") =!= "b", col("k"), Seq(col("_id"), col("el"))),
    Shape("explode struct", _.select(col("_id"), col("g"), explode(col("items")).as("el")),
      col("el.x") > 0, col("el.s"), Seq(col("_id"), col("el.x"))))

  /** The Spark-written arm skips the outer map shape (the raw arm runs
    * it); the raw arm has no struct column. The raw arm runs one
    * non-outer, one outer-with-pos and one map shape: its storages
    * (mixed numerics, scalars, null elements) reach every branch of the
    * element enumerator with those. */
  private val SparkShapes = Set("explode", "explode_outer", "posexplode", "posexplode_outer",
    "explode map", "explode struct")
  private val RawShapes = Set("explode", "posexplode_outer", "explode_outer map")

  /** The three ways each shape runs, with or without its filter. */
  private def variants(s: Shape): Seq[(String, DataFrame => DataFrame)] =
    Seq(false, true).flatMap { filtered =>
      def base(df: DataFrame): DataFrame = {
        val u = s.unwind(df)
        if (filtered) u.filter(s.filter) else u
      }
      val tag = s"${s.name}${if (filtered) " filtered" else ""}"
      Seq(
        s"$tag plain" -> (base _),
        s"$tag group" -> ((df: DataFrame) => base(df).groupBy(s.groupKey.as("key"))
          .agg(count(lit(1)).as("n"), max(col("_id")).as("mx"), min(col("g")).as("mg"))),
        s"$tag topn" -> ((df: DataFrame) => base(df)
          .orderBy(s.orderKeys.map(_.desc_nulls_last): _*).limit(7).select(s.orderKeys: _*)))
    }

  private def multiset(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every graft plan must carry the pushed unwind; counts the plans
    * with a pushed aggregate (graftbson pushes none) and those whose
    * LIMIT/TopN tail counts unwound rows. */
  private final class PlanTally {
    var grouped = 0
    var tails = 0
    def check(name: String, df: DataFrame): DataFrame = {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedUnwind"), s"$name: unwind not pushed:\n$plan")
      if (plan.contains("PushedGroupedAggregate")) grouped += 1
      if (plan.contains("UnwoundTails")) tails += 1
      df
    }
  }

  test("explode shapes agree on graftbson, graftserver and in-memory Spark") {
    val memory = spark.createDataFrame(rows.asJava, schema)
    def file = spark.read.format("graftbson").schema(schema)
      .option("assume_uniform_storage", "true").load(fileDir)
    // engine-written data is uniformly stored, which lets Long keys
    // reach the server's pushed sort
    def server = spark.read.format("graftserver").schema(schema)
      .option("server_dir", serverDir).option("ns", "db.udiff")
      .option("assume_uniform_storage", "true").load()
    val fileTally = new PlanTally
    val serverTally = new PlanTally
    val cases = shapes(col("el") > 1L).filter(s => SparkShapes.contains(s.name)).flatMap(variants)
    cases.foreach { case (name, q) =>
      val expected = multiset(q(memory))
      assert(multiset(fileTally.check(name, q(file))) == expected, s"$name graftbson")
      assert(multiset(serverTally.check(name, q(server))) == expected, s"$name graftserver")
    }
    assert(serverTally.grouped > 0 && serverTally.tails > 0,
      s"server pipelines not reached: ${serverTally.grouped} grouped, ${serverTally.tails} tails")
    assert(fileTally.grouped == 0, s"${fileTally.grouped} graftbson aggregates pushed")
    assert(fileTally.tails > 0, "no graftbson unwound LIMIT/TopN tail pushed")
  }

  test("raw BSON docs (mixed numeric storage, scalars at the array) agree across transports") {
    def file = spark.read.format("graftbson").schema(rawSchema).load(rawFileDir)
    def server = spark.read.format("graftserver").schema(rawSchema)
      .option("server_dir", rawServerDir).option("ns", "db.raw").load()
    val serverTally = new PlanTally
    val cases = shapes(col("el") > 0.5).filter(s => RawShapes.contains(s.name)).flatMap(variants)
    cases.foreach { case (name, q) =>
      val expected = multiset(q(file))
      assert(multiset(serverTally.check(name, q(server))) == expected, s"$name: $expected")
    }
    assert(serverTally.tails > 0, "server row pipeline not reached")
  }
}
