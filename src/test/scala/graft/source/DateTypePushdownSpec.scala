package graft.source

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** DateType pushdown (round 13): a Spark DATE column is SINGLE-bracket
  * (only BDate storage reads as one — RowCodec) and the epoch-day floor
  * is monotone over BSON date order, so date GROUP keys, MIN/MAX, and
  * TopN orders push on BOTH sources without the uniform-storage opt-in;
  * date JOIN keys stay uniform-gated (two stored millis within one day
  * read equal but never `$eq`). Calendar keys are the commonest grouping
  * in any events/orders corpus — pre-r13 they all fell back to scans.
  */
class DateTypePushdownSpec extends SparkSpec {
  private def freshDir(): String =
    Files.createTempDirectory("graft-date").toString

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def seed(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (1 to 30).map(i => (i.toLong, java.sql.Date.valueOf(
      f"2024-01-${(i % 9) + 1}%02d"), i * 1.0))
      .toDF("_id", "day", "v")
  }

  test("FILE: date GROUP key, MIN/MAX, and TopN push") {
    import spark.implicits._
    val dir = freshDir()
    seed(spark).write.format("graftbson")
      .option("id_column", "_id").mode("append").save(dir)
    def rd = spark.read.format("graftbson")
      .schema("_id LONG, day DATE, v DOUBLE")
    // graftbson folds no aggregate: Spark groups the read dates
    val g = rd.load(dir).groupBy($"day")
      .agg(count(lit(1)).as("n"), min($"day").as("mn"))
    assert(!planOf(g).contains("PushedGroupedAggregate"), planOf(g))
    val expect = seed(spark).groupBy($"day").agg(count(lit(1)), min($"day"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getDate(2).toString)).toMap
    val got = g.collect().map(r =>
      r.getDate(0).toString -> (r.getLong(1), r.getDate(2).toString)).toMap
    assert(got == expect)
    // global MIN/MAX over the date column
    val mm = rd.load(dir).agg(min($"day").as("mn"), max($"day").as("mx"))
    assert(!planOf(mm).contains("PushedGroupedAggregate"), planOf(mm))
    val r0 = mm.collect().head
    assert(r0.getDate(0).toString == "2024-01-01" &&
      r0.getDate(1).toString == "2024-01-09")
    // date TopN (ties on day broken by _id ASC keep it deterministic)
    val top = rd.load(dir).orderBy($"day".desc, $"_id".asc).limit(4).select($"_id")
    assert(planOf(top).contains("PushedTopN: ORDER BY day DESC"), planOf(top))
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(8L, 17L, 26L, 7L))
  }

  test("SERVER: date keys ride the $group pipeline and the cursor sort") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.dt")
    seed(spark).write.format("graftserver").options(opts)
      .option("id_column", "_id").mode("append").save()
    val rd = spark.read.format("graftserver").options(opts)
      .schema("_id LONG, day DATE, v DOUBLE")
    val g = rd.load().groupBy($"day").agg(count(lit(1)).as("n"))
    assert(planOf(g).contains("PushedGroupedAggregate: GROUP BY day"), planOf(g))
    assert(g.collect().map(_.getLong(1)).sum == 30L)
    val mm = rd.load().agg(min($"day"), max($"day")).collect().head
    assert(mm.getDate(0).toString == "2024-01-01" &&
      mm.getDate(1).toString == "2024-01-09")
    // the DATE key alone is always safe; the Long `_id` TIEBREAK still
    // needs the uniform opt-in (correctly refused without it)
    val plainTop = rd.load().orderBy($"day".desc, $"_id".asc).limit(4)
    assert(!planOf(plainTop).contains("PushedTopN"), planOf(plainTop))
    val top = spark.read.format("graftserver")
      .options(opts + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, day DATE, v DOUBLE").load()
      .orderBy($"day".desc, $"_id".asc).limit(4).select($"_id")
    assert(planOf(top).contains("PushedTopN: ORDER BY day DESC"), planOf(top))
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(8L, 17L, 26L, 7L))

    // a date JOIN key refuses WITHOUT assume_uniform_storage (equality
    // over stored millis, not read days) and pushes with it
    Seq((java.sql.Date.valueOf("2024-01-03"), "holiday"))
      .toDF("d", "label")
      .write.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.days"))
      .option("id_column", "d").mode("append").save()
    val days = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.days"))
      .schema("_id DATE, label STRING").load()
    val left = rd.load()
    val refuse = left.join(days, left("day") === days("_id"))
    assert(!planOf(refuse).contains("PushedJoin"), planOf(refuse))
    assert(refuse.count() > 0)
    val daysU = spark.read.format("graftserver")
      .options(Map("server_dir" -> dir, "ns" -> "db.days",
        "assume_uniform_storage" -> "true"))
      .schema("_id DATE, label STRING").load()
    val leftU = spark.read.format("graftserver")
      .options(opts + ("assume_uniform_storage" -> "true"))
      .schema("_id LONG, day DATE, v DOUBLE").load()
    val pushed = leftU.join(daysU, leftU("day") === daysU("_id"))
    assert(planOf(pushed).contains("PushedJoin"), planOf(pushed))
    assert(pushed.count() == refuse.count())
  }
}
