package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.sys.process._

/** The timing decorator changes nothing but the counters: same rows as
  * [[graft.server.DirServerFactory]], and call counts a hand count
  * predicts. Runs on a generated sf0.001 fixture. */
class TimingServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: Path = _
  private def fixture = dir.resolve("fixture").toString
  private val Timing = classOf[TimingServerFactory].getName

  override def beforeAll(): Unit = {
    dir = Files.createDirectories(Paths.get("target", "spec-work"))
      .resolve(s"timing-${System.nanoTime()}")
    assert(Seq("python3", "gen.py", fixture, "0.001", "7").! == 0)
    spark = graft.GraftConf.tuned(SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(dir)
  }

  private def lineitem: DataFrame = spark.read.parquet(s"$fixture/lineitem.parquet")

  private def seeded(name: String): String = {
    val server = dir.resolve(name).toString
    lineitem.write.format("graftserver").option("server_dir", server)
      .option("ns", "db.lineitem").mode("append").save()
    server
  }

  private def read(server: String, factory: Option[String]): DataFrame = {
    val r = spark.read.format("graftserver").schema(lineitem.schema)
      .option("server_dir", server).option("ns", "db.lineitem")
    factory.fold(r)(f => r.option("client_factory", f)).load()
  }

  test("the timing factory returns the same rows as DirServerFactory") {
    val server = seeded("same-rows")
    val programs: Seq[DataFrame => DataFrame] = Seq(
      identity,
      _.filter(col("l_quantity") >= 25.0).select("l_orderkey", "l_quantity"),
      _.groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum("l_quantity").as("q")))
    programs.foreach { p =>
      assert(Workloads.rowsOf(p(read(server, Some(Timing)))) ==
        Workloads.rowsOf(p(read(server, None))))
    }
  }

  test("find and bulkWrite call counts match a hand count") {
    ServerCalls.reset()
    val server = dir.resolve("counts").toString
    val n = 1000L
    lineitem.limit(n.toInt).coalesce(1).write.format("graftserver")
      .option("server_dir", server).option("ns", "db.lineitem")
      .option("client_factory", Timing).option("batch_size", "100")
      .mode("append").save()
    val bw = ServerCalls.stats("bulkWrite")
    assert(bw.calls.get == 10L)
    assert(bw.docs.get == n)

    ServerCalls.reset()
    val rows = spark.read.format("graftserver").schema(lineitem.schema)
      .option("server_dir", server).option("ns", "db.lineitem")
      .option("client_factory", Timing).option("splitter", "single").load()
      .filter(col("l_quantity") >= 25.0).collect().length
    ServerCalls.closeOpen()
    val find = ServerCalls.stats("find")
    assert(find.calls.get == 1L)
    assert(find.docs.get == rows.toLong)
    assert(rows < n)
  }
}
