package graft.source

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The one plan spelling of every graft scan ([[GraftScan.describe]]): a
  * head naming transport, target, pushed query and read schema, then each
  * pushed part once, in one order, on both transports and on the joined
  * server scan. Pins the parts only one transport used to show: a plain
  * scan's pushed LIMIT, graftbson's pushed OFFSET and its unwound tails.
  */
class ScanDescriptionSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-desc").toString

  private def seed(df: DataFrame, format: String, dir: String, ns: String): Unit = {
    val w = df.write.format(format).option("id_column", "_id").mode("append")
    if (format == "graftserver") w.option("server_dir", dir).option("ns", ns).save()
    else w.save(dir)
  }

  private def rows: DataFrame = {
    import spark.implicits._
    (0L until 20L).map(i => (i, i.toInt % 4, Seq("x", "y"))).toDF("_id", "v", "tags")
  }

  private def fileScan(dir: String, opts: (String, String)*): DataFrame =
    spark.read.format("graftbson").options(opts.toMap)
      .schema("_id LONG, v INT, tags ARRAY<STRING>").load(dir)

  private def serverScan(dir: String, ns: String, opts: (String, String)*): DataFrame =
    spark.read.format("graftserver").options(opts.toMap)
      .option("server_dir", dir).option("ns", ns)
      .schema("_id LONG, v INT, tags ARRAY<STRING>").load()

  /** The description of the plan's one graft scan. */
  private def described(df: DataFrame): String = {
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan.description() }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    scans.head
  }

  test("a plain LIMIT shows PushedLimit on both transports") {
    val dir = freshDir()
    seed(rows, "graftbson", dir, "")
    val file = fileScan(dir).select("_id", "v").limit(5)
    assert(described(file) ==
      s"graftbson path=$dir PushedQuery: True ReadSchema: struct<_id:bigint,v:int> PushedLimit: 5")
    assert(file.count() == 5)

    val sdir = freshDir()
    seed(rows, "graftserver", sdir, "db.d")
    val served = serverScan(sdir, "db.d").select("_id", "v").limit(5)
    assert(described(served) ==
      "graftserver ns=db.d PushedQuery: True ReadSchema: struct<_id:bigint,v:int> PushedLimit: 5")
    assert(served.count() == 5)
  }

  test("a graftbson splitter=single OFFSET shows PushedOffset") {
    val dir = freshDir()
    seed(rows.coalesce(1), "graftbson", dir, "")
    val df = fileScan(dir, "splitter" -> "single").select("_id").offset(15)
    assert(described(df) ==
      s"graftbson path=$dir PushedQuery: True ReadSchema: struct<_id:bigint> PushedOffset: 15")
    assert(df.count() == 5)
  }

  test("an unwound graftbson LIMIT shows UnwoundTails, after every pushed part") {
    val dir = freshDir()
    seed(rows, "graftbson", dir, "")
    val df = fileScan(dir).select(col("_id"), explode(col("tags")).as("tag")).limit(3)
    val d = described(df)
    assert(d.startsWith(s"graftbson path=$dir PushedQuery: ") &&
      d.contains(" PushedUnwind: tags ") && d.endsWith(" PushedLimit: 3 UnwoundTails"), d)
    assert(df.count() == 3)

    val sdir = freshDir()
    seed(rows, "graftserver", sdir, "db.d")
    val served = serverScan(sdir, "db.d").select(col("_id"), explode(col("tags")).as("tag"))
      .limit(3)
    val s = described(served)
    assert(s.startsWith("graftserver ns=db.d PushedQuery: ") &&
      s.contains(" PushedUnwind: tags ") && s.endsWith(" PushedLimit: 3 UnwoundTails"), s)
    assert(served.count() == 3)
  }

  test("both transports spell a TopN alike") {
    val dir = freshDir()
    seed(rows, "graftbson", dir, "")
    val file = fileScan(dir).select("_id", "v").orderBy(col("v").desc, col("_id")).limit(2)
    assert(described(file) == s"graftbson path=$dir PushedQuery: True " +
      "ReadSchema: struct<_id:bigint,v:int> PushedTopN: ORDER BY v DESC, _id ASC LIMIT 2")

    val sdir = freshDir()
    seed(rows, "graftserver", sdir, "db.d")
    // a LONG order key is cursor-exact only under uniform storage
    val served = serverScan(sdir, "db.d", "assume_uniform_storage" -> "true")
      .select("_id", "v").orderBy(col("v").desc, col("_id")).limit(2)
    assert(described(served) == "graftserver ns=db.d PushedQuery: True " +
      "ReadSchema: struct<_id:bigint,v:int> PushedTopN: ORDER BY v DESC, _id ASC LIMIT 2")
    assert(file.collect().toSeq == served.collect().toSeq)
  }

  test("a collections scan names every entry's path in the head") {
    val d1 = freshDir()
    val d2 = freshDir()
    seed(rows, "graftbson", d1, "")
    seed(rows, "graftbson", d2, "")
    val df = spark.read.format("graftbson").schema("_id LONG, v INT")
      .option("collections", s"""[{"path": "$d1"}, {"path": "$d2"}]""").load()
    assert(described(df) ==
      s"graftbson path=$d1,$d2 PushedQuery: True ReadSchema: struct<_id:bigint,v:int>")
    assert(df.count() == 40)
  }

  test("the joined server scan spells through the same describer") {
    import spark.implicits._
    val dir = freshDir()
    seed(rows.withColumn("ck", col("v").cast("long")), "graftserver", dir, "db.o")
    seed((0L until 4L).map(i => (i, s"c$i")).toDF("_id", "name"), "graftserver", dir, "db.c")
    // LONG join keys compare exactly only under uniform storage
    def side(ns: String, schema: String) = spark.read.format("graftserver")
      .option("server_dir", dir).option("ns", ns).option("assume_uniform_storage", "true")
      .schema(schema).load()
    val o = side("db.o", "_id LONG, ck LONG")
    val c = side("db.c", "_id LONG, name STRING")
    val j = o.join(c, o("ck") === c("_id")).select(o("_id"), $"name").limit(7)
    val d = described(j)
    assert(d == "graftserver ns=db.o PushedQuery: Exists(ck,true) " +
      // keys included: Spark builds a joined scan before pruneColumns and requires this width
      "ReadSchema: struct<_id:bigint,ck:bigint,_id_1:bigint,name:string> " +
      "PushedJoin: INNER db.c ON ck = _id_1 " +
      "PushedLimit: 7", d)
    assert(j.count() == 7)
  }
}
