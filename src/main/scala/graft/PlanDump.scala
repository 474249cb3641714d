package graft
import org.apache.spark.sql.SparkSession
import graft.operators.{Catalog, ConnectorQueries}
/** Dump the FINAL physical plan of catalog queries (executes each query
  * first so AQE finishes re-planning — runtime effects like ReusedExchange
  * and coalesced shuffle reads are visible; `SPARK_GRAFT_PLAN_EXEC=0`
  * skips execution and prints the initial plan instead). The arguments
  * name the queries; with none, every [[ConnectorQueries]] query (the
  * connector surface whose plans pushdown changes move).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.tuned(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val exec = sys.env.getOrElse("SPARK_GRAFT_PLAN_EXEC", "1") == "1"
    val names = if (args.isEmpty) ConnectorQueries.all.map(_.name) else args.toSeq
    for (name <- names) {
      val df = Catalog.byName(name).run(spark, d)
      // collect() executes THIS df's QueryExecution (a sink write would
      // spawn its own), so the printed plan is the adaptive final one
      if (exec) df.collect()
      println(s"######## $name")
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
