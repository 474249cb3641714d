package graft.source

import graft.SparkSpec
import graft.bson._
import graft.store.BsonCollection

import java.nio.file.Files

/** Keyed-write semantic edges pinned after review: dotted document-space
  * keys, id_column vs pre-existing _id, replace retaining key fields,
  * operator documents in query templates, and strict unordered bulks.
  */
class WriteSemanticsSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-ws").toString

  test("dotted keys from column_mapping address the nested field, not BNull") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, 5), (2, 7)).toDF("c", "v")
      .write.format("graftbson")
      .option("column_mapping", """{"c": "b.c"}""")
      .mode("append").save(dir)
    // upsert keyed on the dotted path: each row must hit ITS doc
    Seq((1, 100), (2, 200)).toDF("c", "v")
      .write.format("graftbson")
      .option("column_mapping", """{"c": "b.c"}""")
      .option("mode", "upsert").option("keys", "b.c")
      .mode("append").save(dir)
    val docs = new BsonCollection(dir).readAll().toSeq
    assert(docs.size === 2, s"rows must not collapse into one doc: $docs")
    val byKey = docs.map(d => d.getPath("b.c").get -> d.get("v").get).toMap
    assert(byKey(BInt32(1)) === BInt32(100))
    assert(byKey(BInt32(2)) === BInt32(200))
  }

  test("id_column wins over a pre-existing _id column") {
    import spark.implicits._
    val dir = freshDir()
    Seq((111L, 7L, "x")).toDF("_id", "userId", "name")
      .write.format("graftbson")
      .option("id_column", "userId")
      .mode("append").save(dir)
    val doc = new BsonCollection(dir).readAll().toSeq.head
    assert(doc.get("_id").contains(BInt64(7L)), s"id_column must win: $doc")
    assert(doc.get("userId").isEmpty)
  }

  test("replace keeps non-_id key fields in the stored doc") {
    import spark.implicits._
    val dir = freshDir()
    Seq(("a", 1L)).toDF("sku", "qty")
      .write.format("graftbson").mode("append").save(dir)
    Seq(("a", 5L)).toDF("sku", "qty")
      .write.format("graftbson")
      .option("mode", "replace").option("keys", "sku")
      .mode("append").save(dir)
    val doc = new BsonCollection(dir).readAll().toSeq.head
    assert(doc.get("sku").contains(BString("a")), s"key field stripped: $doc")
    assert(doc.get("qty").contains(BInt64(5L)))
  }

  test("query_template operator documents select by comparison, not equality") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 5L), (2L, 50L)).toDF("_id", "qty")
      .write.format("graftbson").mode("append").save(dir)
    // decrement qty where qty < threshold (bound per row)
    Seq(10L).toDF("threshold")
      .write.format("graftbson")
      .option("mode", "update")
      .option("query_template", """{"qty": {"$lt": "$threshold"}}""")
      .option("update_template", """{"$inc": {"qty": -1}}""")
      .mode("append").save(dir)
    val m = new BsonCollection(dir).readAll()
      .map(d => d.get("_id").get -> d.get("qty").get).toMap
    assert(m(BInt64(1L)) === BInt32(4) || m(BInt64(1L)) === BInt64(4L), s"got $m")
    assert(m(BInt64(2L)) === BInt64(50L), "qty=50 must not match $lt 10")
  }

  test("query_template operator documents select by comparison on graftserver too") {
    import spark.implicits._
    val dir = freshDir()
    val opts = Map("server_dir" -> dir, "ns" -> "db.qty")
    Seq((1L, 5L), (2L, 50L)).toDF("_id", "qty")
      .write.format("graftserver").options(opts).mode("append").save()
    Seq(10L).toDF("threshold")
      .write.format("graftserver").options(opts)
      .option("mode", "update")
      .option("query_template", """{"qty": {"$lt": "$threshold"}}""")
      .option("update_template", """{"$inc": {"qty": -1}}""")
      .mode("append").save()
    val client = new graft.server.FakeServerClient(Some(dir))
    val m = try client.find("db.qty", graft.server.Find())
      .map(d => d.get("_id").get -> d.get("qty").get).toMap
    finally client.close()
    assert(m(BInt64(1L)) === BInt32(4) || m(BInt64(1L)) === BInt64(4L), s"got $m")
    assert(m(BInt64(2L)) === BInt64(50L), "qty=50 must not match $lt 10")
  }

  test("unordered bulk errors fail the commit unless explicitly ignored") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a")).toDF("_id", "v")
      .write.format("graftbson").mode("append").save(dir)
    val dup = Seq((1L, "b"), (2L, "c")).toDF("_id", "v")
    val e = intercept[Exception] {
      dup.write.format("graftbson")
        .option("bulk_ordered", "false").mode("append").save(dir)
    }
    assert(e.getMessage != null)
    // opt-out: completes, non-duplicate row written
    dup.write.format("graftbson")
      .option("bulk_ordered", "false").option("ignore_write_errors", "true")
      .mode("append").save(dir)
    val ids = new BsonCollection(dir).readAll().flatMap(_.get("_id")).toSet
    assert(ids === Set(BInt64(1L), BInt64(2L)))
  }
}
