package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.{BsonFiles, BsonSplitTool}

import java.nio.file.{Files, Paths}

class MultiCollectionSpec extends SparkSpec {

  test("multi-collection scan: per-collection queries union into one frame") {
    val dirA = Files.createTempDirectory("collA").toString
    val dirB = Files.createTempDirectory("collB").toString
    BsonFiles.write(s"$dirA/data.bson",
      (0 until 100).map(i => BDoc("_id" -> BInt32(i), "src" -> BString("A"))).iterator)
    BsonFiles.write(s"$dirB/data.bson",
      (0 until 100).map(i => BDoc("_id" -> BInt32(i), "src" -> BString("B"))).iterator)
    val df = spark.read.format("graftbson")
      .option("collections",
        s"""[{"path": "$dirA", "query": {"_id": {"$$lt": 10}}},
            |{"path": "$dirB", "query": {"_id": {"$$gte": 90}}}]""".stripMargin)
      .load()
    assert(df.count() == 20)
    val bySrc = df.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("A" -> 10L, "B" -> 10L))
  }

  test("per-collection splitter/options: two collections plan differently") {
    val dirA = Files.createTempDirectory("collA2").toString
    val dirB = Files.createTempDirectory("collB2").toString
    BsonFiles.write(s"$dirA/data.bson",
      (0 until 500).map(i => BDoc("_id" -> BInt32(i), "src" -> BString("A"))).iterator)
    BsonFiles.write(s"$dirB/data.bson",
      (0 until 500).map(i => BDoc("_id" -> BInt32(i), "src" -> BString("B"))).iterator)
    // A: size-based key-range splits on _id; B: one unsplit partition with
    // a per-collection limit — per-entry splitter + options, the
    // MultiCollectionSplitBuilder surface
    val df = spark.read.format("graftbson")
      .option("collections",
        s"""[{"path": "$dirA", "splitter": "size", "split_size": 4096, "min_docs": 50},
            |{"path": "$dirB", "splitter": "single", "limit": 7}]""".stripMargin)
      .load()
    val scan = new GraftScanBuilder(df.schema,
      Map("collections" ->
        s"""[{"path": "$dirA", "splitter": "size", "split_size": 4096, "min_docs": 50},
            |{"path": "$dirB", "splitter": "single", "limit": 7}]""".stripMargin),
      FileTransport)
      .build().toBatch
    val parts = scan.planInputPartitions().collect { case p: GraftInputPartition => p }
    val aParts = parts.filter(_.path.startsWith(dirA))
    val bParts = parts.filter(_.path.startsWith(dirB))
    assert(aParts.length > 1, "size splitter must produce multiple key-range splits")
    assert(aParts.forall(p => !(p.query == graft.query.BQuery.True)),
      "size splits carry key-range queries")
    assert(bParts.length === 1 && bParts.head.limit === Some(7),
      "single splitter with per-collection limit")
    // end-to-end: A contributes all 500, B is limited to 7
    val bySrc = df.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("A") === 500L)
    assert(bySrc("B") === 7L)
  }

  test("SparkSessionExtensions injection registers both functions") {
    // NOTE: spark.sql.extensions only takes effect for a brand-new
    // SparkSession; the shared test JVM already has one, so assert the
    // injection hook itself (the end-to-end SQL path is covered by
    // GraftFunctions.register in ObjectIdFunctionsSpec).
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext) // must not throw
  }

  test("BsonSplitTool cuts a dump into doc-aligned parts (and can gzip)") {
    val in = Files.createTempFile("tool", ".bson").toString
    val docs = (0 until 2000).map(i => BDoc("_id" -> BInt32(i), "pad" -> BString("x" * 40)))
    BsonFiles.write(in, docs.iterator)
    val out = Files.createTempDirectory("toolout").toString
    val n = BsonSplitTool.run(in, out, targetSplitBytes = 16 * 1024, gzip = false)
    assert(n > 1, s"expected multiple parts, got $n")
    val readBack = (0 until n).flatMap { p =>
      BsonFiles.readAll(f"$out/${Paths.get(in).getFileName.toString.stripSuffix(".bson")}-part-$p%05d.bson")
    }
    assert(readBack == docs)
    // gzip variant produces .gz files
    val out2 = Files.createTempDirectory("toolout2").toString
    val n2 = BsonSplitTool.run(in, out2, targetSplitBytes = 16 * 1024, gzip = true)
    assert(Files.list(Paths.get(out2)).iterator().asScala.count(_.toString.endsWith(".gz")) == n2)
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
