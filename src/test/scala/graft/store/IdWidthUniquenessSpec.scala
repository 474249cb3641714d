package graft.store

import graft.bson._
import graft.server.FakeServerClient
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `_id` uniqueness compares numbers by value, as a MongoDB unique index
  * does: Int32 5, Int64 5 and Double 5.0 are one key. Both store paths
  * probe every width ([[BsonCollection.idLookups]]): graftbson's staged
  * apply and the server stand-in's insert append.
  */
class IdWidthUniquenessSpec extends AnyFunSuite {

  private val first = BDoc("_id" -> BInt32(5), "v" -> BString("int32"))
  private val wider = Seq(
    BDoc("_id" -> BInt64(5L), "v" -> BString("int64")),
    BDoc("_id" -> BDouble(5.0), "v" -> BString("double")))

  private def freshDir(): String = Files.createTempDirectory("graft-idw").toString

  /** Runs the cross-width cases against one store: each wider insert
    * fails an ordered write, an unordered write reports one error per
    * duplicate, and `stored` is left with the first document only. */
  private def check(write: (Seq[BDoc], Boolean) => BulkResult, stored: () => Seq[BDoc]): Unit = {
    assert(write(Seq(first), true).inserted == 1)
    wider.foreach { d =>
      val e = intercept[IllegalStateException](write(Seq(d), true))
      assert(e.getMessage.contains("duplicate key"), e.getMessage)
    }
    val r = write(wider, false)
    assert(r.inserted == 0 && r.errors.size == 2 &&
      r.errors.forall(_.contains("duplicate key")), r)
    // within one unordered bulk too: the first width wins
    val in = write(Seq(BDoc("_id" -> BInt64(7L)), BDoc("_id" -> BInt32(7)),
      BDoc("_id" -> BDouble(7.0))), false)
    assert(in.inserted == 1 && in.errors.size == 2, in)
    assert(stored().filter(_.get("_id").contains(BInt32(5))) == Seq(first))
    assert(stored().size == 2, stored())
  }

  test("graftbson's staged apply rejects a cross-width duplicate _id") {
    val coll = new BsonCollection(freshDir())
    check((docs, ordered) => coll.bulkWrite(docs.iterator.map(InsertOne(_)), ordered),
      () => coll.readAll().toSeq)
  }

  test("the server stand-in's insert append rejects a cross-width duplicate _id") {
    val client = new FakeServerClient(Some(freshDir()))
    try check((docs, ordered) => client.bulkWrite("db.ids", docs.iterator.map(InsertOne(_)), ordered),
      () => client.find("db.ids", graft.server.Find()).toSeq)
    finally client.close()
  }
}
