package perfbench

import graft.bson.BsonCodec
import graft.operators.Catalog
import graft.store.BsonCollection
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One timed operation: `build` makes the DataFrame (for catalog queries
  * this is `CatalogQuery.run`, eager actions included), `run` executes it.
  * `storedDocs` is how many docs the collections it scans hold, `docs`
  * how many it writes, `mode` its write mode ("" for reads).
  */
final case class Op(name: String, build: () => DataFrame, run: DataFrame => Unit,
    storedDocs: Long = 0L, docs: Long = 0L, mode: String = "")

/** A workload: its ops, its set-up, and how each op's output is checked. */
trait Workload {
  /** Build the inputs the ops read; called several times, the last call's
    * result is the one used. */
  def prep(rep: Int): Unit
  /** `traced` routes server calls through [[TimingServerFactory]]. */
  def ops(traced: Boolean): Seq[Op]
  /** Untimed reset before every pass. */
  def beforePass(): Unit = ()
  /** Run `op` once in its checking form; Some(reason) when the output is
    * wrong. Outputs the oracle checks later are written under `results`. */
  def check(op: Op): Option[String]
  /** DuckDB oracle SQL per op name, for outputs written by [[check]]. */
  def oracle: Map[String, String] = Map.empty
  /** Bytes on disk of the collections the workload stored ÷ BSON bytes of
    * the docs they hold. */
  def storedBytesPerDocByte(): Double
  /** Bytes on disk of what the last pass wrote (0 for read workloads). */
  def bytesWritten(): Long = 0L
}

object Workloads {
  /** The catalog slice: the cheapest query of each family (Curation's,
    * q102, is still heavy), so per-query fixed cost (builder-side eager
    * actions, planning, job launch) does most of the work. q94 and q102
    * run Spark jobs while they build.
    * q56 makes the count odd, so the median op latency falls inside one
    * query's samples rather than between two queries'. */
  val CatalogOps: Seq[String] = Seq(
    "q09_topk_orders",      // Relational
    "q88_chunk_docs",       // Text
    "q60_repeat_scrub",     // CorpusStats
    "q56_source_stats",     // CorpusStats
    "q94_range_shard_plan", // Sampling
    "q102_surprisal",       // Curation
    "q77_pq_audit")         // Similarity

  /** Heavy corpus kernels, run on the salted scale fixture. */
  val CorpusOps: Seq[String] = Seq(
    "q20_dedup_minhash", "q89_bm25_topk", "q103_containment")

  def apply(name: String, spark: SparkSession, fixture: String, work: String,
      seed: Long): Workload =
    name match {
      case "catalog_sf01" => new CatalogWorkload(spark, CatalogOps, fixture, work, "lineitem")
      case "corpus_scale" => new CatalogWorkload(spark, CorpusOps, fixture, work, "documents")
      case "collection_read" => new ReadWorkload(spark, fixture, work)
      case "collection_write" => new WriteWorkload(spark, fixture, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  def bytesOnDisk(root: Path): Long = if (!Files.exists(root)) 0L else {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Bytes on disk under `roots` ÷ encoded bytes of the live docs of every
    * collection found there. */
  def storedRatio(roots: Seq[Path]): Double = {
    val colls = roots.filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator.asScala.filter(Files.isDirectory(_)).toList finally s.close()
    }.map(d => new BsonCollection(d.toString)).filter(_.exists)
    val logical = colls.map(_.readAll().map(d => BsonCodec.encode(d).length.toLong).sum).sum
    roots.map(bytesOnDisk).sum.toDouble / math.max(1L, logical)
  }

  /** Order-free fingerprint of a result: its rows as sorted strings. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
}

/** Catalog queries over a parquet fixture, noop sink, caches cleared per
  * op (the `graft.Bench` protocol). Checked against the catalog's DuckDB
  * oracle on the same fixture. */
final class CatalogWorkload(spark: SparkSession, names: Seq[String], fixture: String,
    work: String, storedTable: String) extends Workload {
  private val queries = names.map(Catalog.byName)
  private val results = Paths.get(work, "results")
  private val stored = Paths.get(work, "stored")

  /** Stores the fixture's main table with graft's file store, so the
    * store's size overhead is measured here too. */
  override def prep(rep: Int): Unit = {
    Workloads.deleteTree(stored)
    spark.read.parquet(s"$fixture/$storedTable.parquet")
      .write.format("graftbson").mode("append").save(stored.toString)
  }

  override def ops(traced: Boolean): Seq[Op] = queries.map { q =>
    Op(q.name, () => q.run(spark, fixture), Workloads.noop)
  }

  override def check(op: Op): Option[String] = {
    op.build().coalesce(1).write.mode("overwrite").parquet(results.resolve(op.name).toString)
    None
  }

  override def oracle: Map[String, String] =
    queries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  override def storedBytesPerDocByte(): Double = Workloads.storedRatio(Seq(stored))
}

/** Seven DataFrame programs over `lineitem` and `orders`, each run on both
  * transports and checked against the same program over the parquet
  * originals; plus, each pass, `orders` stored into a fresh collection on
  * both transports, the write side of the same store code (checked by
  * reading back its count and key sum). */
final class ReadWorkload(spark: SparkSession, fixture: String, work: String) extends Workload {
  import spark.implicits._
  // every prep writes under a new directory: a graftserver store keeps a
  // per-directory `_id` cache for the JVM's lifetime, so a deleted and
  // re-created store is not the same as a fresh one
  private var dir = Paths.get(work, "read")
  private def bsonDir = dir.resolve("bson")
  private def serverDir = dir.resolve("server")
  private val schemas = Map(
    "lineitem" -> spark.read.parquet(s"$fixture/lineitem.parquet").schema,
    "orders" -> ReadWorkload.ordersParquet(spark, fixture).schema)
  private lazy val counts = Seq("lineitem", "orders").map(t =>
    t -> spark.read.parquet(s"$fixture/$t.parquet").count()).toMap

  override def prep(rep: Int): Unit = {
    Workloads.deleteTree(dir)
    dir = Paths.get(work, s"read$rep")
    Seq("lineitem", "orders").foreach { t =>
      val df = spark.read.parquet(s"$fixture/$t.parquet")
      val id = if (t == "orders") Map("id_column" -> "o_orderkey") else Map.empty[String, String]
      df.write.format("graftbson").options(id).mode("append").save(bsonDir.resolve(t).toString)
      df.write.format("graftserver").options(id).option("server_dir", serverDir.toString)
        .option("ns", s"db.$t").mode("append").save()
    }
  }

  private def loader(transport: String, traced: Boolean): String => DataFrame = t => {
    val r = spark.read.schema(schemas(t)).option("assume_uniform_storage", "true")
    transport match {
      case "bson" => r.format("graftbson").load(bsonDir.resolve(t).toString)
      case "server" =>
        val s = r.format("graftserver").option("server_dir", serverDir.toString)
          .option("ns", s"db.$t")
        (if (traced) s.option("client_factory", classOf[TimingServerFactory].getName) else s).load()
      case "parquet" =>
        if (t == "orders") ReadWorkload.ordersParquet(spark, fixture)
        else spark.read.parquet(s"$fixture/$t.parquet")
    }
  }

  private def programs(p: String => DataFrame): Seq[(String, Seq[String], () => DataFrame)] = Seq(
    ("scan_full", Seq("lineitem"), () => p("lineitem")),
    ("range_project", Seq("lineitem"), () => p("lineitem")
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_partkey", $"l_extendedprice", $"l_discount")),
    ("residual_filter", Seq("lineitem"), () => p("lineitem")
      .filter($"l_extendedprice" * (lit(1.0) - $"l_discount") > 90000.0)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")),
    ("group_agg", Seq("lineitem"), () => p("lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"),
        min($"l_extendedprice").as("lo"), max($"l_extendedprice").as("hi"))),
    ("order_limit", Seq("orders"), () => p("orders")
      .orderBy($"o_totalprice".desc, $"_id".asc).limit(100)
      .select($"_id", $"o_totalprice")),
    ("join_agg", Seq("orders", "lineitem"), () => p("orders")
      .filter($"o_orderdate" >= lit("1999-01-01").cast("timestamp"))
      .join(p("lineitem").filter($"l_quantity" >= 40.0), $"_id" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"))),
    ("count", Seq("lineitem"), () => p("lineitem").agg(count(lit(1)).as("n"))))

  private var pass = Paths.get(work, "store")
  private var passNo = 0
  override def beforePass(): Unit = {
    Workloads.deleteTree(pass)
    passNo += 1
    pass = Paths.get(work, s"store$passNo")
  }

  private def store(transport: String, traced: Boolean)(df: DataFrame): Unit = {
    val w = df.write.mode("append")
    if (transport == "bson") w.format("graftbson").save(pass.resolve("bson").toString)
    else {
      val s = w.format("graftserver").option("server_dir", pass.resolve("server").toString)
        .option("ns", "db.orders")
      (if (traced) s.option("client_factory", classOf[TimingServerFactory].getName) else s).save()
    }
  }

  override def ops(traced: Boolean): Seq[Op] =
    (for (transport <- Seq("bson", "server");
          (name, tables, build) <- programs(loader(transport, traced)))
      yield Op(s"$transport.$name", build, Workloads.noop, storedDocs = tables.map(counts).sum)) ++
      Seq("bson", "server").map(t => Op(s"$t.store_orders",
        () => ReadWorkload.ordersParquet(spark, fixture), store(t, traced),
        docs = counts("orders"), mode = "insert"))

  private lazy val expected: Map[String, Seq[String]] =
    programs(loader("parquet", traced = false)).map { case (n, _, b) => n -> Workloads.rowsOf(b()) }.toMap

  override def check(op: Op): Option[String] = if (op.mode == "insert") {
    op.run(op.build())
    val back = if (op.name.startsWith("bson")) spark.read.format("graftbson")
      .load(pass.resolve("bson").toString)
    else spark.read.format("graftserver").option("server_dir", pass.resolve("server").toString)
      .option("ns", "db.orders").load()
    val agg = (df: DataFrame) => df.agg(count(lit(1)), sum($"_id")).collect().head.toSeq
    val (got, want) = (agg(back), agg(ReadWorkload.ordersParquet(spark, fixture)))
    if (got == want) None else Some(s"read back $got, expected $want")
  } else {
    val got = Workloads.rowsOf(op.build())
    val want = expected(op.name.split('.')(1))
    if (got == want) None
    else Some(s"rows differ from the parquet program: ${got.size} vs ${want.size} rows, " +
      s"first difference ${got.zipAll(want, "<none>", "<none>").find { case (a, b) => a != b }}")
  }

  override def storedBytesPerDocByte(): Double =
    Workloads.storedRatio(Seq(bsonDir, serverDir, pass))
  override def bytesWritten(): Long = Workloads.bytesOnDisk(pass)
}

object ReadWorkload {
  /** orders as the collections store it: `o_orderkey` is the `_id`. */
  def ordersParquet(spark: SparkSession, fixture: String): DataFrame =
    spark.read.parquet(s"$fixture/orders.parquet").withColumnRenamed("o_orderkey", "_id")
}

/** Keyed and bulk writes into fresh collections on both transports:
  * insert, upsert ($inc), update ($set), replace, and a sharded insert.
  * graftbson writes every `orders` key; graftserver writes a seed-chosen
  * ~10% of them into the full collection. Checked by reading back counts
  * and sums and comparing them with values derived from the parquet. */
final class WriteWorkload(spark: SparkSession, fixture: String, work: String,
    seed: Long) extends Workload {
  import spark.implicits._
  // fresh directories per prep and per pass (see ReadWorkload)
  private var pristine = Paths.get(work, "pristine")
  private var pass = Paths.get(work, "pass")
  private var passNo = 0
  private def lineitem = spark.read.parquet(s"$fixture/lineitem.parquet")
  private def orders = ReadWorkload.ordersParquet(spark, fixture)

  /** Keys each transport writes: all for graftbson, the seed's subset for
    * graftserver. */
  private def keys(transport: String): DataFrame =
    if (transport == "bson") orders
    else orders.filter(pmod(xxhash64($"_id", lit(seed)), lit(10L)) === 0L)
  /** One key in twenty also gets an unseen twin key, so upserts insert. */
  private def upserts(transport: String): DataFrame = {
    val k = keys(transport).select($"_id", lit(1L).as("o_inc"))
    k.union(k.filter(pmod($"_id", lit(20L)) === 0L).select(($"_id" + 100000000L).as("_id"), $"o_inc"))
  }
  private def updates(transport: String): DataFrame =
    keys(transport).select($"_id", ($"o_totalprice" + 1.0).as("o_totalprice"))
  private def replaces(transport: String): DataFrame =
    keys(transport).withColumn("o_orderstatus", lit("R"))

  private lazy val sizes: Map[String, Long] =
    Seq("bson", "server").flatMap(t => Seq(
      s"$t.upsert" -> upserts(t).count(), s"$t.update" -> updates(t).count(),
      s"$t.replace" -> replaces(t).count())).toMap ++
      Map("lineitem" -> lineitem.count(), "orders" -> orders.count())

  override def prep(rep: Int): Unit = {
    Workloads.deleteTree(pristine)
    pristine = Paths.get(work, s"pristine$rep")
    orders.write.format("graftbson").mode("append").save(pristine.resolve("bson").toString)
    orders.write.format("graftserver").option("server_dir", pristine.resolve("server").toString)
      .option("ns", "db.orders").mode("append").save()
  }

  override def beforePass(): Unit = {
    Workloads.deleteTree(pass)
    passNo += 1
    pass = Paths.get(work, s"pass$passNo")
    for (t <- Seq("bson", "server"); m <- Seq("upsert", "update", "replace"))
      Workloads.copyTree(pristine.resolve(t), pass.resolve(s"$t.$m"))
  }

  private def target(name: String): String = pass.resolve(name).toString

  private def bson(df: DataFrame, name: String, opts: (String, String)*): Unit =
    df.write.format("graftbson").options(opts.toMap).mode("append").save(target(name))

  private def server(traced: Boolean, ns: String)(df: DataFrame, name: String,
      opts: (String, String)*): Unit = {
    val w = df.write.format("graftserver").options(opts.toMap)
      .option("server_dir", target(name)).option("ns", ns).mode("append")
    (if (traced) w.option("client_factory", classOf[TimingServerFactory].getName) else w).save()
  }

  override def ops(traced: Boolean): Seq[Op] = {
    val srv = server(traced, "db.orders") _
    val keyed = for (t <- Seq("bson", "server");
                     (m, df, opts) <- Seq(
                       ("upsert", () => upserts(t), Seq("mode" -> "upsert", "update_op" -> "inc")),
                       ("update", () => updates(t), Seq("mode" -> "update", "update_op" -> "set")),
                       ("replace", () => replaces(t), Seq("mode" -> "replace"))))
      yield Op(s"$t.$m", df, (d: DataFrame) =>
        if (t == "bson") bson(d, s"$t.$m", opts: _*) else srv(d, s"$t.$m", opts),
        docs = sizes(s"$t.$m"), mode = m)
    Seq(
      Op("bson.insert", () => lineitem, bson(_, "bson.insert"),
        docs = sizes("lineitem"), mode = "insert"),
      Op("server.insert", () => lineitem, server(traced, "db.lineitem")(_, "server.insert"),
        docs = sizes("lineitem"), mode = "insert"),
      Op("bson.sharded_insert", () => orders, bson(_, "bson.sharded_insert", "shards" -> "4"),
        docs = sizes("orders"), mode = "sharded_insert")) ++ keyed
  }

  private def readBack(name: String): DataFrame =
    if (name.startsWith("bson")) spark.read.format("graftbson").load(target(name))
    else spark.read.format("graftserver").option("server_dir", target(name))
      .option("ns", if (name == "server.insert") "db.lineitem" else "db.orders").load()

  private def one(df: DataFrame): Row = df.collect().head

  override def check(op: Op): Option[String] = {
    op.run(op.build())
    val t = op.name.split('.')(0)
    val back = readBack(op.name)
    val dec = (c: String) => sum(col(c).cast("decimal(20,2)"))
    val (got, want) = op.mode match {
      case "insert" =>
        (one(back.agg(count(lit(1)), dec("l_quantity"))),
          one(lineitem.agg(count(lit(1)), dec("l_quantity"))))
      case "sharded_insert" =>
        (one(back.agg(count(lit(1)), sum($"o_custkey"))),
          one(orders.agg(count(lit(1)), sum($"o_custkey"))))
      case "upsert" =>
        val u = upserts(t)
        (one(back.agg(count(lit(1)), sum($"o_inc"))),
          one(orders.select($"_id").join(u, Seq("_id"), "full_outer")
            .agg(count(lit(1)), sum($"o_inc"))))
      case "update" =>
        (one(back.agg(count(lit(1)), dec("o_totalprice"))),
          one(orders.agg(count(lit(1)), (dec("o_totalprice") + lit(sizes(op.name))))))
      case "replace" =>
        (one(back.agg(count(lit(1)), sum(when($"o_orderstatus" === "R", 1L).otherwise(0L)))),
          one(orders.agg(count(lit(1)), lit(sizes(op.name)))))
    }
    if (got.toSeq.map(String.valueOf) == want.toSeq.map(String.valueOf)) None
    else Some(s"read back $got, expected $want")
  }

  override def storedBytesPerDocByte(): Double = Workloads.storedRatio(Seq(pass))
  override def bytesWritten(): Long = Workloads.bytesOnDisk(pass)
}
