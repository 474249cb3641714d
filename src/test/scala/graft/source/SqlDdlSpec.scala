package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.BsonFiles

import java.nio.file.Files

/** SQL-catalog DDL surface (Hive `CREATE TABLE ... STORED BY
  * MongoStorageHandler` parity, hive/.../MongoStorageHandler.java:59-128):
  * `CREATE TABLE ... USING graftbson OPTIONS (path ...)` registers the
  * connector in the session catalog, and the whole query surface —
  * pushdown, option-level queries, writes — works through `spark.sql`.
  * Re-runs the HiveQueryTest goldens (979/195/0) through catalog tables.
  */
class SqlDdlSpec extends SparkSpec {

  private def writeHiveFixture(): String = {
    val dir = Files.createTempDirectory("graft-ddl").toString
    val docs = (0 until 1000).map(i => BDoc(
      "_id" -> BInt32(i), "i" -> BInt32(i), "j" -> BInt32(i % 5)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    dir
  }

  private def withTable(name: String)(body: => Unit): Unit =
    try body finally spark.sql(s"DROP TABLE IF EXISTS $name")

  test("HiveQueryTest goldens 979/195/0 through CREATE TABLE + spark.sql") {
    val dir = writeHiveFixture()
    withTable("hive_docs") {
      spark.sql(s"CREATE TABLE hive_docs USING graftbson OPTIONS (path '$dir')")
      assert(spark.sql("SELECT count(*) FROM hive_docs WHERE i > 20")
        .head.getLong(0) === 979L)
      assert(spark.sql("SELECT count(*) FROM hive_docs WHERE i > 20 AND i < 10")
        .head.getLong(0) === 0L)
    }
    withTable("hive_docs_q") {
      // option-level table query AND-composes with SQL predicates, the
      // mongo.input.query table-property analog
      spark.sql(s"""CREATE TABLE hive_docs_q USING graftbson
        OPTIONS (path '$dir', query '{"j": 0}')""")
      assert(spark.sql("SELECT count(*) FROM hive_docs_q WHERE i > 20")
        .head.getLong(0) === 195L)
    }
  }

  test("SQL predicates reach the source as pushed queries") {
    val dir = writeHiveFixture()
    withTable("push_docs") {
      spark.sql(s"CREATE TABLE push_docs USING graftbson OPTIONS (path '$dir')")
      val df = spark.sql("SELECT i FROM push_docs WHERE i > 990")
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(scan.contains("PushedQuery:") && scan.contains("Gt(i,BInt32(990))"),
        s"scan was: $scan")
      assert(df.count() === 9L)
    }
  }

  test("INSERT INTO a catalog table writes through the connector") {
    val dir = writeHiveFixture()
    withTable("ins_docs") {
      spark.sql(s"CREATE TABLE ins_docs USING graftbson OPTIONS (path '$dir')")
      spark.sql("INSERT INTO ins_docs VALUES (1000, 1000, 0), (1001, 1001, 1)")
      assert(spark.sql("SELECT count(*) FROM ins_docs").head.getLong(0) === 1002L)
      assert(spark.sql("SELECT i FROM ins_docs WHERE _id = 1001")
        .head.getInt(0) === 1001)
    }
  }

  test("aggregate pushdown works through the catalog table") {
    val dir = writeHiveFixture()
    withTable("agg_docs") {
      spark.sql(s"CREATE TABLE agg_docs USING graftbson OPTIONS (path '$dir')")
      // graftbson pushes only the bare COUNT(*); Spark folds MIN/MAX
      val bare = spark.sql("SELECT count(*) FROM agg_docs")
      assert(bare.queryExecution.executedPlan.toString
        .contains("PushedGroupedAggregate: GLOBAL [count(*)]"))
      assert(bare.head.getLong(0) === 1000L)
      val df = spark.sql("SELECT count(*), min(i), max(i) FROM agg_docs")
      assert(!df.queryExecution.executedPlan.toString.contains("PushedGroupedAggregate"))
      val r = df.head
      assert((r.getLong(0), r.getInt(1), r.getInt(2)) === ((1000L, 0, 999)))
    }
  }

  test("SERVER catalog tables: CREATE TABLE USING graftserver, SQL join pushes the pipeline") {
    import spark.implicits._
    val sdir = Files.createTempDirectory("graft-ddl-srv").toString
    Seq((1L, 10L, 2.0), (2L, 10L, 3.0), (3L, 20L, 4.0))
      .toDF("_id", "ck", "price")
      .write.format("graftserver")
      .options(Map("server_dir" -> sdir, "ns" -> "db.o"))
      .option("id_column", "_id").mode("append").save()
    Seq((10L, "a"), (20L, "b")).toDF("_id", "name")
      .write.format("graftserver")
      .options(Map("server_dir" -> sdir, "ns" -> "db.c"))
      .option("id_column", "_id").mode("append").save()
    withTable("srv_o") { withTable("srv_c") {
      spark.sql(s"""CREATE TABLE srv_o (_id LONG, ck LONG, price DOUBLE)
        USING graftserver
        OPTIONS (server_dir '$sdir', ns 'db.o', assume_uniform_storage 'true')""")
      spark.sql(s"""CREATE TABLE srv_c (_id LONG, name STRING)
        USING graftserver
        OPTIONS (server_dir '$sdir', ns 'db.c', assume_uniform_storage 'true')""")
      // the whole SQL surface rides the same pushdowns: the equi-join
      // plans as the $lookup pipeline, the aggregate as its $group tail
      val df = spark.sql("""
        SELECT name, count(*) AS n, sum(price) AS s
        FROM srv_o JOIN srv_c ON srv_o.ck = srv_c._id
        GROUP BY name ORDER BY name""")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedJoin:") &&
        plan.contains("PushedGroupedAggregate: GROUP BY name"), plan)
      assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSeq === Seq(("a", 2L, 5.0), ("b", 1L, 4.0)))
      // INSERT INTO the server table writes through the bulk path
      spark.sql("INSERT INTO srv_o VALUES (4, 20, 6.0)")
      assert(spark.sql("SELECT count(*) FROM srv_o").head.getLong(0) === 4L)
    } }
  }
}
