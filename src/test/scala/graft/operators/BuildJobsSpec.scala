package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.Portable.spaceSplit
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

/** Jobs a catalog query starts while it is BUILT (`CatalogQuery.run`,
  * before any action on its result): each one is a driver round trip
  * paid on every run. q102 carries its one number in the plan, and q94
  * runs only its histogram probe, so a new eager action in either
  * builder fails here.
  */
class BuildJobsSpec extends SparkSpec {
  import spark.implicits._

  private def buildJobs(name: String): Int =
    JobCount(spark.sparkContext)(Catalog.byName(name).run(spark, sf0001))._2

  test("q102 builds with no job") {
    assert(buildJobs("q102_surprisal") === 0)
  }

  test("q94 builds with only its probe's jobs") {
    val probeJobs = JobCount(spark.sparkContext) {
      Tables.documents(spark, sf0001)
        .select(size(spaceSplit(coalesce($"text", lit("")))).cast("long").as("n_tok"))
        .groupBy($"n_tok").count().limit((1 << 16) + 1).collect()
    }._2
    assert(probeJobs > 0)
    assert(buildJobs("q94_range_shard_plan") === probeJobs)
  }
}
