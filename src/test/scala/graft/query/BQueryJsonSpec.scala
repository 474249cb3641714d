package graft.query

import graft.bson._
import org.scalatest.funsuite.AnyFunSuite

/** Option-level query parsing (MongoConfigUtilTest analog) and partition
  * task-serializability (MongoInputSplitTest analog — a split must survive
  * the driver->executor hop).
  */
class BQueryJsonSpec extends AnyFunSuite {

  test("equality, operator docs, $and/$or parse and evaluate") {
    val q = BQueryJson.parse(
      """{"j": 0, "i": {"$gt": 20, "$lte": 100}, "name": {"$in": ["a", "b"]}}""")
    assert(q.matches(BDoc("j" -> BInt32(0), "i" -> BInt32(50), "name" -> BString("a"))))
    assert(!q.matches(BDoc("j" -> BInt32(1), "i" -> BInt32(50), "name" -> BString("a"))))
    assert(!q.matches(BDoc("j" -> BInt32(0), "i" -> BInt32(101), "name" -> BString("a"))))
    assert(!q.matches(BDoc("j" -> BInt32(0), "i" -> BInt32(50), "name" -> BString("z"))))

    val or = BQueryJson.parse("""{"$or": [{"a": 1}, {"b": {"$exists": true}}]}""")
    assert(or.matches(BDoc("a" -> BInt32(1))))
    assert(or.matches(BDoc("b" -> BString("x"))))
    assert(!or.matches(BDoc("c" -> BInt32(9))))
  }

  test("numeric literals keep width; doubles and bools parse") {
    val q = BQueryJson.parse("""{"big": 5000000000, "d": 1.5, "f": true}""")
    assert(q.matches(BDoc("big" -> BInt64(5000000000L), "d" -> BDouble(1.5), "f" -> BBool(true))))
  }

  test("unsupported operator is rejected loudly") {
    intercept[IllegalArgumentException] {
      BQueryJson.parse("""{"a": {"$where": "x"}}""")
    }
  }

  test("$ne and $nin match missing fields (mongo semantics, not Spark's)") {
    val ne = BQueryJson.parse("""{"a": {"$ne": 1}}""")
    assert(!ne.matches(BDoc("a" -> BInt32(1))))
    assert(ne.matches(BDoc("a" -> BInt32(2))))
    assert(ne.matches(BDoc("b" -> BInt32(1)))) // missing field: $ne matches
    assert(ne.matches(BDoc("a" -> BString("1")))) // other type bracket

    val nin = BQueryJson.parse("""{"a": {"$nin": [1, 2]}}""")
    assert(!nin.matches(BDoc("a" -> BInt32(2))))
    assert(nin.matches(BDoc("a" -> BInt32(3))))
    assert(nin.matches(BDoc.empty))
  }

  test("$regex is a partial match honoring $options") {
    val q = BQueryJson.parse("""{"name": {"$regex": "^ab.*z$"}}""")
    assert(q.matches(BDoc("name" -> BString("abcz"))))
    assert(!q.matches(BDoc("name" -> BString("Abcz"))))
    assert(!q.matches(BDoc("name" -> BInt32(5)))) // non-string never matches
    assert(!q.matches(BDoc.empty))

    val qi = BQueryJson.parse("""{"name": {"$regex": "^ab", "$options": "i"}}""")
    assert(qi.matches(BDoc("name" -> BString("ABX"))))

    val partial = BQueryJson.parse("""{"name": {"$regex": "bc"}}""")
    assert(partial.matches(BDoc("name" -> BString("xabcy"))), "mongo $regex is find(), not full match")
  }

  test("input partitions and queries survive Java serialization (task hop)") {
    def roundTrip[A <: AnyRef](a: A): A = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(a); out.close()
      val in = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      in.readObject().asInstanceOf[A]
    }
    val query = BQuery.And(Seq(
      BQuery.Gt("i", BInt32(20)),
      BQuery.KeyRange("_id", Some(BInt64(0L)), Some(BInt64(100L))),
      BQuery.In("s", Seq(BString("a"), BString("b"))),
      BQuery.Or(Seq(BQuery.Exists("x", yes = true), BQuery.Eq("b", BBinary(Array[Byte](1, 2)))))))
    val back = roundTrip(query)
    assert(back == query)
    assert(back.matches(BDoc("i" -> BInt32(21), "_id" -> BInt64(5L),
      "s" -> BString("a"), "x" -> BInt32(1))))

    val p = graft.source.GraftInputPartition("/tmp/x.bson", 0L, 1000L, query,
      limit = Some(7), sortKey = Some("b.c"))
    val pBack = roundTrip(p)
    assert(pBack == p)

    val um = UpdateModel(query, BDoc("$set" -> BDoc("v" -> BInt32(1))),
      upsert = true, multi = true)
    assert(roundTrip(um) == um)
  }

  test("$size / $all / $mod / $type parse and evaluate (array + numeric ops)") {
    val size = BQueryJson.parse("""{"arr": {"$size": 3}}""")
    assert(size.matches(BDoc("arr" -> BArray(Vector(BInt32(1), BInt32(2), BInt32(3))))))
    assert(!size.matches(BDoc("arr" -> BArray(Vector(BInt32(1))))))
    assert(!size.matches(BDoc("arr" -> BInt32(3))), "$size never matches a non-array")

    val all = BQueryJson.parse("""{"arr": {"$all": [2, 5]}}""")
    assert(all.matches(BDoc("arr" -> BArray(Vector(BInt32(5), BInt32(9), BInt32(2))))))
    assert(!all.matches(BDoc("arr" -> BArray(Vector(BInt32(5), BInt32(9))))))
    // int64 storage of the same value matches (value equality)
    assert(all.matches(BDoc("arr" -> BArray(Vector(BInt64(2L), BInt64(5L))))))
    // a non-array field equals a singleton $all
    assert(BQueryJson.parse("""{"x": {"$all": [7]}}""")
      .matches(BDoc("x" -> BInt32(7))))
    // $all: [] matches nothing (mongo's rule)
    assert(!BQueryJson.parse("""{"arr": {"$all": []}}""")
      .matches(BDoc("arr" -> BArray(Vector(BInt32(1))))))

    val mod = BQueryJson.parse("""{"n": {"$mod": [4, 1]}}""")
    assert(mod.matches(BDoc("n" -> BInt32(9))))
    assert(mod.matches(BDoc("n" -> BDouble(9.7))), "doubles truncate toward zero")
    assert(!mod.matches(BDoc("n" -> BInt32(8))))
    assert(!mod.matches(BDoc("n" -> BString("9"))))

    val typ = BQueryJson.parse("""{"v": {"$type": "string"}}""")
    assert(typ.matches(BDoc("v" -> BString("x"))))
    assert(!typ.matches(BDoc("v" -> BInt32(1))))
    val num = BQueryJson.parse("""{"v": {"$type": "number"}}""")
    assert(num.matches(BDoc("v" -> BInt32(1))))
    assert(num.matches(BDoc("v" -> BDouble(1.5))))
    assert(num.matches(BDoc("v" -> BInt64(1L))))
    assert(!num.matches(BDoc("v" -> BString("1"))))
    val multi = BQueryJson.parse("""{"v": {"$type": ["int", "bool"]}}""")
    assert(multi.matches(BDoc("v" -> BBool(true))))
    assert(!multi.matches(BDoc("v" -> BString("t"))))
  }

  test("$elemMatch: value form and document form") {
    // value form: operators on the element itself; NO single element
    // in [3, 12] here even though the bounds match separately — the
    // whole point of $elemMatch vs plain operators
    val vf = BQueryJson.parse("""{"a": {"$elemMatch": {"$gte": 3, "$lte": 12}}}""")
    assert(vf.matches(BDoc("a" -> BArray(Vector(BInt32(1), BInt32(7))))))
    assert(!vf.matches(BDoc("a" -> BArray(Vector(BInt32(1), BInt32(20))))))
    assert(!vf.matches(BDoc("a" -> BInt32(7))), "non-array never matches")

    // document form: a query over the element's fields
    val df = BQueryJson.parse(
      """{"items": {"$elemMatch": {"k": "x", "n": {"$gt": 5}}}}""")
    val el = (k: String, n: Int) => BDoc("k" -> BString(k), "n" -> BInt32(n))
    assert(df.matches(BDoc("items" -> BArray(Vector(el("y", 9), el("x", 6))))))
    assert(!df.matches(BDoc("items" -> BArray(Vector(el("x", 3), el("y", 9))))),
      "one element must satisfy ALL conjuncts")
  }

  test("$not and $nor negate with mongo missing-field semantics") {
    val not = BQueryJson.parse("""{"a": {"$not": {"$gt": 5}}}""")
    assert(!not.matches(BDoc("a" -> BInt32(9))))
    assert(not.matches(BDoc("a" -> BInt32(3))))
    assert(not.matches(BDoc("b" -> BInt32(9))), "$not matches missing fields")

    val nor = BQueryJson.parse("""{"$nor": [{"a": 1}, {"b": {"$exists": true}}]}""")
    assert(nor.matches(BDoc("a" -> BInt32(2))))
    assert(!nor.matches(BDoc("a" -> BInt32(1))))
    assert(!nor.matches(BDoc("a" -> BInt32(2), "b" -> BInt32(0))))
  }

  test("option-level $exists is pure PRESENCE: explicit nulls match (mongo semantics)") {
    val q = BQueryJson.parse("""{"a": {"$exists": true}}""")
    assert(q == BQuery.And(Seq(BQuery.ExistsField("a", yes = true))))
    assert(q.matches(BDoc("a" -> BNull)),
      "mongo's $exists: true matches a field holding an explicit null")
    assert(q.matches(BDoc("a" -> BInt32(1))))
    assert(!q.matches(BDoc("b" -> BInt32(1))))
    val no = BQueryJson.parse("""{"a": {"$exists": false}}""")
    assert(!no.matches(BDoc("a" -> BNull)), "an explicit null IS present")
    assert(no.matches(BDoc("b" -> BInt32(1))))
    // the pushed-filter node keeps Spark null semantics — distinct
    assert(BQuery.Exists("a", yes = true).matches(BDoc("a" -> BNull)) == false)
  }

  test("equality nodes traverse arrays at the LEAF like a live server (r14)") {
    // scalar literal: {p: 5} matches p=5 AND p=[4,5] (implicit traversal)
    val s = BQueryJson.parse("""{"p": 5}""")
    assert(s.matches(BDoc("p" -> BInt32(5))))
    assert(s.matches(BDoc("p" -> BArray(Vector(BInt32(4), BInt32(5))))))
    assert(!s.matches(BDoc("p" -> BArray(Vector(BInt32(4), BInt32(6))))))
    // array literal: {p: [1,2]} matches whole-value AND element containment
    val a = BQueryJson.parse("""{"p": [1, 2]}""")
    val arr12 = BArray(Vector(BInt32(1), BInt32(2)))
    assert(a.matches(BDoc("p" -> arr12)))
    assert(a.matches(BDoc("p" -> BArray(Vector(BInt32(3), arr12)))),
      "array literal matches as an ELEMENT of an array field too")
    assert(!a.matches(BDoc("p" -> BArray(Vector(BInt32(2), BInt32(1))))),
      "order matters for whole-array equality and no element equals [1,2]")
    // doc literal: {p: {a: 1}} matches the doc value and an element
    val d = BQueryJson.parse("""{"p": {"a": 1}}""")
    val doc = BDoc("a" -> BInt32(1))
    assert(d.matches(BDoc("p" -> doc)))
    assert(d.matches(BDoc("p" -> BArray(Vector(BString("x"), doc)))))
    // $in / $ne / $nin follow the same traversal
    val in = BQueryJson.parse("""{"p": {"$in": [5, 9]}}""")
    assert(in.matches(BDoc("p" -> BArray(Vector(BInt32(9))))))
    val ne = BQueryJson.parse("""{"p": {"$ne": 5}}""")
    assert(!ne.matches(BDoc("p" -> BArray(Vector(BInt32(4), BInt32(5))))),
      "$ne rejects an array CONTAINING the value, like the server")
    assert(ne.matches(BDoc("p" -> BArray(Vector(BInt32(4))))))
    val nin = BQueryJson.parse("""{"p": {"$nin": [5]}}""")
    assert(!nin.matches(BDoc("p" -> BArray(Vector(BInt32(5))))))
  }

  test("$all with an array-valued operand also matches by whole-field equality") {
    val q = BQueryJson.parse("""{"tags": {"$all": [[1, 2]]}}""")
    // field EQUALS [1,2]: mongo's whole-array match
    assert(q.matches(BDoc("tags" -> BArray(Vector(BInt32(1), BInt32(2))))))
    // field CONTAINS [1,2] as an element
    assert(q.matches(BDoc("tags" -> BArray(Vector(
      BString("x"), BArray(Vector(BInt32(1), BInt32(2))))))))
    // neither: [2,1] is a different array value
    assert(!q.matches(BDoc("tags" -> BArray(Vector(BInt32(2), BInt32(1))))))
    // scalar operands keep plain containment
    val s = BQueryJson.parse("""{"tags": {"$all": [1, 2]}}""")
    assert(s.matches(BDoc("tags" -> BArray(Vector(BInt32(2), BInt32(1), BInt32(3))))))
    assert(!s.matches(BDoc("tags" -> BArray(Vector(BInt32(1))))))
  }

  // ---- r15: server-faithful traversal at INTERMEDIATE segments,
  // range operators, and the null/missing edge ----

  private def mdoc(ms: BsonValue*): BDoc = BDoc("m" -> BArray(ms.toVector))

  test("intermediate dotted segments traverse arrays of documents (r15)") {
    val q = BQueryJson.parse("""{"m.a": 5}""")
    assert(q.matches(mdoc(BDoc("a" -> BInt32(5)), BDoc("b" -> BInt32(2)))))
    assert(!q.matches(mdoc(BDoc("a" -> BInt32(6)))))
    // two levels of arrays: m=[{a:[{b:7}]}] matches {"m.a.b": 7}
    val deep = BQueryJson.parse("""{"m.a.b": 7}""")
    assert(deep.matches(mdoc(BDoc("a" -> BArray(Vector(BDoc("b" -> BInt32(7))))))))
    // doc storage unchanged
    assert(q.matches(BDoc("m" -> BDoc("a" -> BInt32(5)))))
    // numeric segments ALSO index positionally
    val pos = BQueryJson.parse("""{"m.1": 9}""")
    assert(pos.matches(BDoc("m" -> BArray(Vector(BInt32(5), BInt32(9))))))
    assert(!pos.matches(BDoc("m" -> BArray(Vector(BInt32(9), BInt32(5))))))
  }

  test("range operators traverse arrays at the leaf and intermediates (r15)") {
    val lt = BQueryJson.parse("""{"p": {"$lt": 5}}""")
    assert(lt.matches(BDoc("p" -> BArray(Vector(BInt32(3), BInt32(9))))),
      "element 3 < 5 matches the doc")
    assert(!lt.matches(BDoc("p" -> BArray(Vector(BInt32(7), BInt32(9))))))
    val gt = BQueryJson.parse("""{"m.a": {"$gt": 5}}""")
    assert(gt.matches(mdoc(BDoc("a" -> BInt32(3)), BDoc("a" -> BInt32(8)))))
    assert(!gt.matches(mdoc(BDoc("a" -> BInt32(3)))))
    // brackets still respected: a string never $lt a number
    assert(!lt.matches(BDoc("p" -> BArray(Vector(BString("x"))))))
  }

  test("{p: null} matches missing and dead-end slots, mongo's rule (r15)") {
    val q = BQueryJson.parse("""{"p": null}""")
    assert(q.matches(BDoc("x" -> BInt32(1))), "missing field matches null")
    assert(q.matches(BDoc("p" -> BNull)))
    assert(q.matches(BDoc("p" -> BArray(Vector(BInt32(1), BNull)))))
    assert(!q.matches(BDoc("p" -> BArray(Vector(BInt32(1), BInt32(2))))))
    val nested = BQueryJson.parse("""{"m.a": null}""")
    assert(nested.matches(mdoc(BDoc("a" -> BInt32(1)), BDoc("b" -> BInt32(2)))),
      "an element LACKING the field is a dead end null matches")
    assert(!nested.matches(mdoc(BDoc("a" -> BInt32(1)))))
    // $ne: null rejects missing (the negation)
    val ne = BQueryJson.parse("""{"p": {"$ne": null}}""")
    assert(!ne.matches(BDoc("x" -> BInt32(1))))
    assert(ne.matches(BDoc("p" -> BInt32(1))))
  }

  test("$exists / $size / $elemMatch / $regex / $mod / $type traverse (r15)") {
    val ex = BQueryJson.parse("""{"m.a": {"$exists": true}}""")
    assert(ex.matches(mdoc(BDoc("b" -> BInt32(1)), BDoc("a" -> BNull))),
      "$exists true sees the null-valued slot through the array")
    assert(!ex.matches(mdoc(BDoc("b" -> BInt32(1)))))
    val exNo = BQueryJson.parse("""{"m.a": {"$exists": false}}""")
    assert(exNo.matches(mdoc(BDoc("b" -> BInt32(1)))))

    val sz = BQueryJson.parse("""{"m.a": {"$size": 2}}""")
    assert(sz.matches(mdoc(BDoc("a" -> BArray(Vector(BInt32(1), BInt32(2)))))))

    val em = BQueryJson.parse("""{"m.a": {"$elemMatch": {"$gt": 1, "$lt": 4}}}""")
    assert(em.matches(mdoc(BDoc("a" -> BArray(Vector(BInt32(0), BInt32(2)))))))

    val re = BQueryJson.parse("""{"p": {"$regex": "ab"}}""")
    assert(re.matches(BDoc("p" -> BArray(Vector(BString("xaby"))))))
    assert(!re.matches(BDoc("p" -> BArray(Vector(BString("xy"))))))

    val mod = BQueryJson.parse("""{"p": {"$mod": [3, 1]}}""")
    assert(mod.matches(BDoc("p" -> BArray(Vector(BInt32(6), BInt32(7))))))

    val ty = BQueryJson.parse("""{"p": {"$type": "string"}}""")
    assert(ty.matches(BDoc("p" -> BArray(Vector(BInt32(1), BString("s"))))))
    val tyArr = BQueryJson.parse("""{"p": {"$type": "array"}}""")
    assert(tyArr.matches(BDoc("p" -> BArray(Vector(BInt32(1))))))
  }

  test("$all values may match via DIFFERENT slots ($and-of-equalities, r15 review fix)") {
    // {"m.p": {$all: [1,2]}} on m=[{p:1},{p:2}]: each value satisfied by
    // a different element — a live server matches
    val q = BQueryJson.parse("""{"m.p": {"$all": [1, 2]}}""")
    assert(q.matches(mdoc(BDoc("p" -> BInt32(1)), BDoc("p" -> BInt32(2)))))
    assert(!q.matches(mdoc(BDoc("p" -> BInt32(1)))))
    // per-element arrays too: m=[{p:[1]},{p:[2]}]
    assert(q.matches(mdoc(
      BDoc("p" -> BArray(Vector(BInt32(1)))),
      BDoc("p" -> BArray(Vector(BInt32(2)))))))
    // $all: [null] matches a missing field ({p: null} equivalence)
    val n = BQueryJson.parse("""{"p": {"$all": [null]}}""")
    assert(n.matches(BDoc("x" -> BInt32(1))))
    assert(n.matches(BDoc("p" -> BNull)))
  }

  test("the Spark-semantics Exists node never traverses (pushed-filter contract)") {
    // pushed IsNotNull(m.a) compiles to Exists — Spark row semantics
    // over schema-faithful storage; array-of-doc storage at m is a
    // FOREIGN shape the pushed filter must not silently element-match
    val sparkExists = BQuery.Exists("m.a", yes = true)
    assert(!sparkExists.matches(mdoc(BDoc("a" -> BInt32(5)))))
    assert(sparkExists.matches(BDoc("m" -> BDoc("a" -> BInt32(5)))))
  }
}
