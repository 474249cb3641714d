package graft.source

import graft.SparkSpec
import graft.bson._
import graft.files.BsonFiles
import graft.functions.BsonFunctions
import graft.query.UpdateDsl
import graft.store.BsonCollection

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class GridFsAndExtrasSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-extra").toString

  test("gridfs binary mode: chunk rows reassemble the original file") {
    val dir = freshDir()
    val payload = (0 until 100000).map(i => (i % 251).toByte).toArray
    Files.write(Paths.get(dir, "blob.bin"), payload)
    val df = spark.read.format("graftgridfs")
      .option("mode", "binary").option("chunk_size", "16384").load(dir)
    val rows = df.orderBy("chunk_id").collect()
    assert(rows.length == 7, s"100000/16384 -> 7 chunks, got ${rows.length}")
    val reassembled = rows.flatMap(_.getAs[Array[Byte]]("content"))
    assert(java.util.Arrays.equals(reassembled, payload))
    assert(rows.map(_.getAs[Long]("length")).sum == 100000L)
  }

  test("gridfs text mode: boundary-spanning tokens are neither lost nor duplicated") {
    val dir = freshDir()
    val lines = (0 until 5000).map(i => s"line-$i-${"x" * (i % 13)}")
    Files.write(Paths.get(dir, "text.txt"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("graftgridfs")
      .option("mode", "text").option("chunk_size", "4096").load(dir)
    val got = df.select("token").collect().map(_.getString(0)).toSeq
    assert(got.sorted == lines.sorted, s"got ${got.length} tokens, want ${lines.length}")
  }

  test("gridfs text mode: custom multi-byte delimiter") {
    val dir = freshDir()
    val toks = Seq("alpha", "beta", "gamma", "delta")
    Files.write(Paths.get(dir, "t.txt"), toks.mkString("::").getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("graftgridfs")
      .option("mode", "text").option("delimiter", "::").load(dir)
    assert(df.select("token").collect().map(_.getString(0)).toSeq == toks)
  }

  test("limit pushdown: per-partition limit reaches the reader, global result exact") {
    val dir = freshDir()
    val docs = (0 until 2000).map(i => BDoc("_id" -> BInt32(i)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    val df = spark.read.format("graftbson").option("split_size", "4096").load(dir).limit(7)
    assert(df.count() == 7)
  }

  test("column-name remapping: spark column reads a dotted doc field, pushdown remapped") {
    val dir = freshDir()
    val docs = (0 until 100).map(i => BDoc(
      "_id" -> BInt32(i),
      "meta" -> BDoc("score" -> BInt32(i * 2))))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_id", IntegerType), StructField("score", IntegerType)))
    val df = spark.read.format("graftbson")
      .schema(schema)
      .option("column_mapping", """{"score": "meta.score"}""")
      .load(dir)
    assert(df.filter(df("score") > 100).count() == 49) // i*2>100 -> i in 51..99
    val scan = df.filter(df("score") > 100).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    assert(scan.contains("Gt(meta.score,BInt32(100))"), s"scan: $scan")
  }

  test("update DSL: $name placeholders bind per row (JSONPigReplace parity)") {
    val row = BDoc("id" -> BInt32(7), "avg" -> BDouble(4.25), "who" -> BString("x"))
    val q = UpdateDsl.parse("""{"_id": "$id"}""").bind(row)
    assert(q == BDoc("_id" -> BInt32(7)))
    val u = UpdateDsl.parse("""{"$set": {"bc10Year": "$avg", "tag": "lit", "esc": "$$avg"}}""").bind(row)
    assert(u.getPath("$set.bc10Year").contains(BDouble(4.25)))
    assert(u.getPath("$set.tag").contains(BString("lit")))
    assert(u.getPath("$set.esc").contains(BString("$avg")))
  }

  test("writer honors query/update templates end-to-end") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, "a", 0), (2, "b", 0)).toDF("_id", "name", "hits")
      .write.format("graftbson").mode("append").save(dir)
    // template update: bump hits for the row's key
    Seq((1, 10), (1, 5), (2, 3)).toDF("k", "delta")
      .write.format("graftbson")
      .option("mode", "update")
      .option("query_template", """{"_id": "$k"}""")
      .option("update_template", """{"$inc": {"hits": "$delta"}}""")
      .mode("append").save(dir)
    val docs = new BsonCollection(dir).readAll().toSeq
    def hits(id: Int) = docs.find(_.get("_id").contains(BInt32(id))).get.get("hits")
    assert(hits(1).contains(BInt32(15)))
    assert(hits(2).contains(BInt32(3)))
  }

  test("to_binary SQL registration is expression-based and matches the Column API") {
    import spark.implicits._
    BsonFunctions.register(spark)
    val df = Seq(("hello", "coll", "42")).toDF("s", "ref", "id")
    df.createOrReplaceTempView("tb_reg")
    val viaSql = spark.sql(
      "SELECT to_binary(s) AS b, to_dbref(ref, id) AS d FROM tb_reg")
    val viaCol = df.select(
      BsonFunctions.to_binary($"s").as("b"),
      BsonFunctions.to_dbref($"ref", $"id").as("d"))
    def render(rows: Seq[org.apache.spark.sql.Row]): Seq[(Seq[Byte], String)] =
      rows.map(r => (r.getAs[Array[Byte]]("b").toSeq, r.getStruct(1).toString))
    assert(render(viaSql.collect().toSeq) === render(viaCol.collect().toSeq))
    // expression-based: no ScalaUDF node in the SQL path's plan
    assert(!viaSql.queryExecution.executedPlan.toString.contains("UDF"),
      "to_binary must not register as a Scala UDF")
  }

  test("to_binary and to_dbref column functions") {
    import spark.implicits._
    val df = Seq(("abc", "users", "42")).toDF("s", "ref", "id")
      .select(
        BsonFunctions.to_binary($"s").as("b"),
        BsonFunctions.to_dbref($"ref", $"id").as("d"))
    val r = df.collect().head
    assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("b"), "abc".getBytes("UTF-8")))
    val dbref = r.getStruct(1)
    assert(dbref.getString(0) == "users" && dbref.getString(1) == "42")
  }

  test("streaming sink: micro-batches accumulate via upsert+$inc (flume-sink parity)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val dir = freshDir()
    val input = MemoryStream[(Long, Long)]
    val counts = input.toDF().toDF("_id", "n")
    val q = graft.streaming.GraftStreaming.startCollectionSink(
      counts, dir, Map("mode" -> "upsert", "update_op" -> "inc"),
      outputMode = "append")
    input.addData((1L, 2L), (2L, 5L))
    q.processAllAvailable()
    input.addData((1L, 3L))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("graftbson").load(dir)
      .selectExpr("_id", "n").as[(Long, Long)].collect().toMap
    assert(back == Map(1L -> 5L, 2L -> 5L), s"got $back")
  }
  test("per-partition sort option orders within each partition (reference cursor.sort parity)") {
    val dir = freshDir()
    // deliberately unsorted docs
    val docs = Seq(5, 1, 9, 3, 7, 2, 8, 4, 6, 0).map(i => BDoc("_id" -> BInt32(i)))
    BsonFiles.write(s"$dir/data.bson", docs.iterator)
    val df = spark.read.format("graftbson").option("sort", "_id").load(dir)
    // single file below split size -> one partition -> fully sorted
    val got = df.selectExpr("_id").collect().map(_.getInt(0)).toSeq
    assert(got == (0 to 9), s"per-partition sort not applied: $got")
    // multi-partition: each partition individually sorted (non-decreasing runs)
    val big = (0 until 2000).map(i => BDoc("_id" -> BInt32((i * 7919) % 2000)))
    BsonFiles.write(s"$dir/big.bson", big.iterator)
    val df2 = spark.read.format("graftbson").option("sort", "_id")
      .option("split_size", "4096").load(dir)
    import org.apache.spark.sql.functions.spark_partition_id
    val rows = df2.select(spark_partition_id().as("p"), org.apache.spark.sql.functions.col("_id"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val byPart = rows.groupBy(_._1).values
    assert(byPart.forall(part => part.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1))),
      "a partition emitted out-of-order rows")
  }

  test("reported per-partition ordering elides a redundant sortWithinPartitions") {
    val dir = freshDir()
    BsonFiles.write(s"$dir/data.bson",
      Seq(5, 1, 9, 3).map(i => BDoc("_id" -> BInt32(i))).iterator)
    val sorted = spark.read.format("graftbson").option("sort", "_id").load(dir)
      .sortWithinPartitions("_id")
    sorted.collect()
    val planSorted = sorted.queryExecution.executedPlan.toString
    assert(!planSorted.contains("Sort ["),
      s"reported ordering should elide the sortWithinPartitions, plan: $planSorted")
    // without the option, the sort must stay
    val unsorted = spark.read.format("graftbson").load(dir)
      .sortWithinPartitions("_id")
    unsorted.collect()
    assert(unsorted.queryExecution.executedPlan.toString.contains("Sort ["),
      "without a reported ordering the sort must remain")
  }

  /** `v` of a one-partition read over `values` (read as `ddl`, no
    * uniform storage) with the `sort` option on `v` and a
    * sortWithinPartitions on the same column: the option may report its
    * order only where the BSON order of the stored values is Spark's
    * order of the values it reads. */
  private def sortOptionRead(values: Seq[BsonValue], ddl: String): Seq[Any] = {
    val dir = freshDir()
    BsonFiles.write(s"$dir/data.bson", values.zipWithIndex.map { case (v, i) =>
      BDoc("_id" -> BInt32(i), "v" -> v) }.iterator)
    spark.read.format("graftbson").schema(s"_id INT, v $ddl")
      .option("sort", "v").load(dir)
      .sortWithinPartitions("v").select("v").collect().map(_.get(0)).toSeq
  }

  test("sort option over LONG with Int64 and Date storage returns Spark's order") {
    assert(sortOptionRead(Seq(BInt64(5L), BDate(1L), BInt64(3L)), "LONG") ===
      Seq(1L, 3L, 5L))
  }

  test("sort option over STRING with String and ObjectId storage returns Spark's order") {
    val oid = "000000000000000000000001"
    assert(sortOptionRead(Seq(BString("b"), BObjectId(oid), BString("c")), "STRING") ===
      Seq(oid, "b", "c"))
  }

  test("sort option over STRING returns Spark's code-point order past U+E000") {
    val emoji = new String(Character.toChars(0x1F600))
    assert(sortOptionRead(Seq(BString(emoji), BString("\uE000")), "STRING") ===
      Seq("\uE000", emoji))
  }

  test("sort option over LONG above 2^53 returns Spark's order") {
    val big = 1L << 53
    assert(sortOptionRead(Seq(BInt64(big + 1), BInt64(big)), "LONG") ===
      Seq(big, big + 1))
  }
}
