package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** [[AliasPullup]] (r15): rename-only Projects inside a pushable join's
  * legs move above the join — Spark's `pushDownJoin` needs
  * attribute-only leg projections, so the everyday pre-join
  * `select($"_id".as("okey"), ...)` silently demoted the pushed
  * `$lookup` to a Spark shuffle join. Renames are join-type-agnostic
  * (a rename of a null-extended column is null either way); computed
  * aliases stay put.
  */
class AliasPullupSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-apu").toString

  private def seed(dir: String): Unit = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, (i % 8).toLong, (i * 3).toDouble))
      .toDF("_id", "custkey", "price")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.o"))
      .option("id_column", "_id").mode("append").save()
    (0 until 5).map(i => (i.toLong, s"c$i"))
      .toDF("_id", "name")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.c"))
      .option("id_column", "_id").mode("append").save()
  }

  private def o(dir: String): DataFrame = spark.read.format("graftserver")
    .options(Map("server_dir" -> dir, "ns" -> "db.o",
      "assume_uniform_storage" -> "true"))
    .schema("_id LONG, custkey LONG, price DOUBLE").load()

  private def c(dir: String): DataFrame = spark.read.format("graftserver")
    .options(Map("server_dir" -> dir, "ns" -> "db.c",
      "assume_uniform_storage" -> "true"))
    .schema("_id LONG, name STRING").load()

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a pre-join rename no longer blocks the pushed join") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val oo = o(dir).select($"_id".as("okey"), $"custkey")
    val cc = c(dir)
    val q = oo.join(cc, $"custkey" === cc("_id")).select($"okey", $"name")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: INNER db.c"), plan)
    assert(!plan.contains("Join "), s"no Spark join exec expected:\n$plan")
    // keys 0..4 match customers; custkey = _id % 8 → ids with _id%8 <= 4
    val exp = (0 until 40).filter(i => i % 8 <= 4).map(_.toLong).sorted
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == exp)
  }

  test("a leg naming the default client_factory shares the other leg's connection: the rename pulls up") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // the same server twice: once by default, once by the factory's name
    def query(): DataFrame = {
      val oo = o(dir).select($"_id".as("okey"), $"custkey")
      val cc = spark.read.format("graftserver")
        .options(Map("server_dir" -> dir, "ns" -> "db.c",
          "assume_uniform_storage" -> "true",
          "client_factory" -> classOf[graft.server.DirServerFactory].getName))
        .schema("_id LONG, name STRING").load()
      oo.join(cc, $"custkey" === cc("_id")).select($"okey", $"name")
    }
    val q = query()
    assert(planOf(q).contains("PushedJoin: INNER db.c"), planOf(q))
    spark.conf.set(graft.GraftConf.JoinPushdownConf, "false")
    val exp = try query().collect().map(_.toString).sorted.toSeq
      finally spark.conf.set(graft.GraftConf.JoinPushdownConf, "true")
    assert(q.collect().map(_.toString).sorted.toSeq == exp)
    assert(exp.size == (0 until 40).count(_ % 8 <= 4))
  }

  test("renames on BOTH legs and in the join condition pull together") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val oo = o(dir).select($"_id".as("okey"), $"custkey".as("ck"))
    val cc = c(dir).select($"_id".as("cid"), $"name".as("cname"))
    val q = oo.join(cc, $"ck" === $"cid").select($"okey", $"cname")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: INNER db.c"), plan)
    assert(!plan.contains("Join "), plan)
    assert(q.count() == (0 until 40).count(_ % 8 <= 4))
  }

  test("rename under a LEFT OUTER join stays exact for null-extended rows") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    val oo = o(dir).select($"_id".as("okey"), $"custkey")
    val cc = c(dir).select($"_id".as("cid"), $"name".as("cname"))
    val q = oo.join(cc, $"custkey" === $"cid", "left_outer")
      .select($"okey", $"cname")
    val plan = planOf(q)
    assert(plan.contains("PushedJoin: LEFT OUTER db.c"), plan)
    assert(q.count() == 40)
    assert(q.filter($"cname".isNull).count() ==
      (0 until 40).count(_ % 8 > 4))
  }

  test("computed aliases stay in the leg (no pullup, join falls back to Spark)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // coalesce-style computed columns must NOT move above an outer join
    // (null-extension would change their value); AliasPullup leaves any
    // computed alias alone — the join stays in Spark, results exact
    val oo = o(dir).select($"_id".as("okey"), $"custkey",
      coalesce($"price", lit(0.0)).as("p0"))
    val cc = c(dir)
    val q = oo.join(cc, $"custkey" === cc("_id")).select($"okey", $"p0", $"name")
    val plan = planOf(q)
    assert(!plan.contains("PushedJoin"), plan)
    assert(q.count() == (0 until 40).count(_ % 8 <= 4))
  }

  test("semi/anti joins are out of scope (their output is the LEFT side only)") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // a concatenated left++right restore-Project would reference right
    // attributes a semi/anti join does not output — the rule must not
    // fire (r15 review fix: this crashed at physical planning)
    val oo = o(dir).select($"_id".as("okey"), $"custkey")
    val cc = c(dir)
    val semi = oo.join(cc, $"custkey" === cc("_id"), "left_semi")
    assert(semi.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 40).filter(_ % 8 <= 4).map(_.toLong))
    val anti = oo.join(cc, $"custkey" === cc("_id"), "left_anti")
    assert(anti.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 40).filter(_ % 8 > 4).map(_.toLong))
  }

  test("a pulled rename of a non-nullable column stays NULL-testable above an outer join") {
    import spark.implicits._
    val dir = freshDir()
    seed(dir)
    // count(*) is non-nullable below the join; after the pullup the
    // alias must carry the JOIN's null-extended nullability, or
    // NullPropagation folds isNull(n) to false and returns an empty
    // result (r15 review fix)
    val agg = c(dir).groupBy($"_id".as("ck"))
      .agg(count(lit(1)).as("cnt"))
      .select($"ck", $"cnt".as("n"))
    val oo = o(dir)
    val q = oo.join(agg, oo("custkey") === $"ck", "left_outer")
      .filter($"n".isNull)
      .select(oo("_id"))
    // customers 0..4 exist; custkey = _id % 8, so keys 5..7 unmatched
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 40).filter(_ % 8 > 4).map(_.toLong),
      q.queryExecution.executedPlan.toString)
  }

  test("foreign (non-server) legs are never perturbed") {
    import spark.implicits._
    val dir = freshDir()
    // file-transport relations are outside the rule's scope (joins only
    // push on the server transport) — the rename Project stays put
    Seq((1L, 2L), (2L, 3L)).toDF("_id", "k")
      .write.format("graftbson").option("id_column", "_id")
      .mode("append").save(dir)
    val f = spark.read.format("graftbson")
      .schema("_id LONG, k LONG").load(dir)
      .select($"_id".as("fid"), $"k")
    val g = spark.read.format("graftbson")
      .schema("_id LONG, k LONG").load(dir)
      .select($"_id".as("gid"))
    val q = f.join(g, $"k" === $"gid")
    assert(!planOf(q).contains("PushedJoin"))
    assert(q.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq ==
      Seq((1L, 2L)))
  }
}
