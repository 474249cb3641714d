package graft.source

import graft.SparkSpec

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Differential check of the shared filter pushdown ([[Pushdown.splitFilters]]
  * and [[graft.query.FilterTranslator]]): generated filter trees run as the
  * same `df.filter` on a graftbson collection, on a graftserver collection
  * (the sandbox transport), and on Spark over the same rows in memory; the
  * three results must be equal as multisets. Fixed seeds keep every run
  * identical.
  *
  * Columns cover every path of the split: Int, Long and Double (NaN and the
  * infinities included), String (non-ASCII included), a nested struct
  * field, a `column_mapping`-renamed column and a `computed_columns`
  * derived column. The server arm alternates `assume_uniform_storage`
  * (true holds for engine-written data) so both the read-semantics and
  * the bracket query forms are exercised.
  */
class FilterDifferentialSpec extends SparkSpec {

  private val Cases = 40
  private val Rows = 90

  private val schema = StructType(Seq(
    StructField("_id", LongType),
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("st", StructType(Seq(
      StructField("x", IntegerType), StructField("y", StringType)))),
    StructField("m", IntegerType)))

  private val ints = Seq(Int.MinValue, -7, -1, 0, 1, 2, 3, 7, Int.MaxValue)
  private val longs = Seq(Long.MinValue, -3L, 0L, 5L, 1L << 40, (1L << 53) + 1, Long.MaxValue)
  private val doubles = Seq(Double.NegativeInfinity, -1.5, 0.0, 0.5, 2.5, 1e300,
    Double.PositiveInfinity, Double.NaN)
  private val strings = Seq("", "a", "ab", "b", "Z", "é", "ée", "日本", "aé", "😀")
  private val prefixes = Seq("", "a", "é", "日", "😀")

  private val Mapping = """{"m": "doc_m"}"""
  private val Computed = """[{"out": "bin", "fn": "pmod", "field": "i", "n": 3, "t": "int"}]"""

  /** A pool value, or null one time in six. */
  private def pick(r: scala.util.Random, xs: Seq[Any]): Any =
    if (r.nextInt(6) == 0) null else xs(r.nextInt(xs.size))

  private lazy val rows: Seq[Row] = {
    val r = new scala.util.Random(20261017L)
    (1 to Rows).map { k =>
      val st = if (r.nextInt(8) == 0) null
        else Row(pick(r, ints), pick(r, strings))
      Row(k.toLong, pick(r, ints), pick(r, longs), pick(r, doubles),
        pick(r, strings), st, pick(r, ints))
    }
  }

  /** In-memory arm: the same rows, the derived column computed by Spark. */
  private lazy val memory: DataFrame =
    spark.createDataFrame(rows.asJava, schema).withColumn("bin", pmod(col("i"), lit(3)))

  private val readSchema = schema.add("bin", IntegerType)

  private lazy val fileDir: String = {
    val dir = Files.createTempDirectory("graft-fdiff").toString
    spark.createDataFrame(rows.asJava, schema).write.format("graftbson")
      .option("column_mapping", Mapping).mode("append").save(dir)
    dir
  }

  private lazy val serverDir: String = {
    val dir = Files.createTempDirectory("graft-fdiff-srv").toString
    spark.createDataFrame(rows.asJava, schema).write.format("graftserver")
      .option("server_dir", dir).option("ns", "db.fdiff")
      .option("column_mapping", Mapping).mode("append").save()
    dir
  }

  private def fileRead: DataFrame = spark.read.format("graftbson").schema(readSchema)
    .option("column_mapping", Mapping).option("computed_columns", Computed)
    .load(fileDir)

  private def serverRead(uniform: Boolean): DataFrame = spark.read.format("graftserver")
    .schema(readSchema).option("server_dir", serverDir).option("ns", "db.fdiff")
    .option("column_mapping", Mapping).option("computed_columns", Computed)
    .option("assume_uniform_storage", uniform.toString).load()

  // ---- generated filter trees ----

  private val comparisons: Seq[(Column, Column) => Column] =
    Seq(_ === _, _ =!= _, _ < _, _ <= _, _ > _, _ >= _, _ <=> _)

  private def leafOn(c: Column, pool: Seq[Any]): Gen[Column] = {
    val value = Gen.oneOf(pool).map(lit)
    Gen.frequency(
      6 -> Gen.zip(Gen.oneOf(comparisons), value).map { case (op, v) => op(c, v) },
      2 -> Gen.choose(1, 3).flatMap(n => Gen.pick(n, pool)).map(vs => c.isin(vs.toSeq: _*)),
      1 -> Gen.const(c.isNull),
      1 -> Gen.const(c.isNotNull))
  }

  private val leaf: Gen[Column] = Gen.frequency(
    3 -> leafOn(col("i"), ints),
    2 -> leafOn(col("l"), longs),
    3 -> leafOn(col("d"), doubles),
    3 -> leafOn(col("s"), strings),
    2 -> Gen.oneOf(prefixes).map(p => col("s").startsWith(p)),
    2 -> leafOn(col("st.x"), ints),
    1 -> leafOn(col("st.y"), strings),
    2 -> leafOn(col("m"), ints),
    2 -> leafOn(col("bin"), Seq(-1, 0, 1, 2)))

  private def tree(depth: Int): Gen[Column] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (a, b) => a && b },
      2 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (a, b) => a || b },
      1 -> tree(depth - 1).map(not))

  private def multiset(df: DataFrame, f: Column): Seq[String] =
    df.filter(f).select(readSchema.fieldNames.map(col).toSeq: _*)
      .collect().map(_.toString).toSeq.sorted

  test("generated filter trees agree on graftbson, graftserver and in-memory Spark") {
    var pushedCases = 0
    (0 until Cases).foreach { k =>
      val f = tree(3).apply(Gen.Parameters.default, Seed(9100L + k))
        .getOrElse(fail(s"case $k: generator gave up"))
      val expected = multiset(memory, f)
      val file = fileRead
      val server = serverRead(uniform = k % 2 == 0)
      assert(multiset(file, f) == expected, s"case $k graftbson: $f")
      assert(multiset(server, f) == expected, s"case $k graftserver: $f")
      val plan = file.filter(f).queryExecution.executedPlan.toString
      if (!plan.contains("PushedQuery: True ReadSchema:")) pushedCases += 1
    }
    // the generated filters must actually reach the pushed query
    assert(pushedCases >= Cases / 4, s"only $pushedCases of $Cases cases pushed a filter")
  }
}
