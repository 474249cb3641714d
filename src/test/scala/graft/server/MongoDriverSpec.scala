package graft.server

import graft.bson._
import graft.query.BQuery

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The driver-free half of the mongodb-driver binding: every document
  * [[QueryDocs]] constructs is pinned here, and the renderable subset is
  * property-checked for matches-parity by round-tripping rendered docs
  * through [[BQuery.parse]] (the engine's own mongo-JSON reader) — if the
  * rendered doc parses back to a query that keeps/drops different docs,
  * the server would too. The reflection transport itself
  * ([[MongoDriverClient]]) cannot run in this sandbox (no driver jar);
  * its absence-failure mode and its class surface are pinned instead, so
  * a classpath typo fails THIS suite, not a user's first live run.
  */
class MongoDriverSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(41L + i)))

  // --- render: one pinned doc per operator ---------------------------------

  test("render pins the wire shape of every renderable operator") {
    import BQuery._
    assert(QueryDocs.render(True).contains(BDoc.empty))
    assert(QueryDocs.render(Eq("a", BInt32(1))).contains(BDoc("a" -> BInt32(1))))
    assert(QueryDocs.render(Lt("a", BInt32(1)))
      .contains(BDoc("a" -> BDoc("$lt" -> BInt32(1)))))
    assert(QueryDocs.render(Lte("a", BInt32(1)))
      .contains(BDoc("a" -> BDoc("$lte" -> BInt32(1)))))
    assert(QueryDocs.render(Gt("a", BInt32(1)))
      .contains(BDoc("a" -> BDoc("$gt" -> BInt32(1)))))
    assert(QueryDocs.render(Gte("a", BInt32(1)))
      .contains(BDoc("a" -> BDoc("$gte" -> BInt32(1)))))
    assert(QueryDocs.render(Ne("a", BInt32(1)))
      .contains(BDoc("a" -> BDoc("$ne" -> BInt32(1)))))
    assert(QueryDocs.render(In("a", Seq(BInt32(1), BInt32(2))))
      .contains(BDoc("a" -> BDoc("$in" -> BArray(Vector(BInt32(1), BInt32(2)))))))
    assert(QueryDocs.render(Nin("a", Seq(BInt32(1))))
      .contains(BDoc("a" -> BDoc("$nin" -> BArray(Vector(BInt32(1)))))))
    assert(QueryDocs.render(Regex("a", "^x", "i"))
      .contains(BDoc("a" -> BDoc("$regex" -> BString("^x"), "$options" -> BString("i")))))
    assert(QueryDocs.render(Regex("a", "^x"))
      .contains(BDoc("a" -> BDoc("$regex" -> BString("^x")))))
    // engine Exists carries SPARK null semantics (IsNotNull/IsNull
    // compile to it), so the faithful wire form is null-(in)equality —
    // mongo's `$exists` would also match/skip explicit nulls
    assert(QueryDocs.render(Exists("a", yes = true))
      .contains(BDoc("a" -> BDoc("$ne" -> BNull))))
    assert(QueryDocs.render(Exists("a", yes = false))
      .contains(BDoc("a" -> BDoc("$eq" -> BNull))))
    assert(QueryDocs.render(Or(Seq(Eq("a", BInt32(1)), Eq("b", BInt32(2)))))
      .contains(BDoc("$or" -> BArray(Vector(
        BDoc("a" -> BInt32(1)), BDoc("b" -> BInt32(2)))))))
  }

  test("And merges disjoint keys flat, keeps $and on key collision") {
    import BQuery._
    assert(QueryDocs.render(And(Seq(Eq("a", BInt32(1)), Gt("b", BInt32(2)))))
      .contains(BDoc("a" -> BInt32(1), "b" -> BDoc("$gt" -> BInt32(2)))))
    // two predicates on ONE field cannot merge (the second key would
    // overwrite the first in a flat doc) — must nest under $and
    assert(QueryDocs.render(And(Seq(Gt("a", BInt32(1)), Lt("a", BInt32(9)))))
      .contains(BDoc("$and" -> BArray(Vector(
        BDoc("a" -> BDoc("$gt" -> BInt32(1))),
        BDoc("a" -> BDoc("$lt" -> BInt32(9))))))))
  }

  test("Eq against an operator-shaped literal doc wraps in $eq") {
    val lit = BDoc("$gt" -> BInt32(5))
    assert(QueryDocs.render(BQuery.Eq("a", lit))
      .contains(BDoc("a" -> BDoc("$eq" -> lit))))
  }

  test("Spark-read-semantics nodes and nested KeyRange refuse to render") {
    import BQuery._
    assert(QueryDocs.render(ReadStrCmp("a", "x", ReadStrOp.Eq)).isEmpty)
    assert(QueryDocs.render(ReadLongCmp("a", 1L, ReadStrOp.Lt)).isEmpty)
    assert(QueryDocs.render(ReadStrIn("a", Seq("x"))).isEmpty)
    assert(QueryDocs.render(ReadLongIn("a", Seq(1L))).isEmpty)
    assert(QueryDocs.render(ReadStrRegex("a", "^x")).isEmpty)
    assert(QueryDocs.render(KeyRange("k", Some(BInt32(1)), None)).isEmpty)
    // an Or with one unrenderable branch cannot be split soundly
    assert(QueryDocs.render(Or(Seq(
      Eq("a", BInt32(1)), ReadStrCmp("b", "x", ReadStrOp.Eq)))).isEmpty)
  }

  // --- plan: the server/client split ---------------------------------------

  test("plan splits range ∧ renderable ∧ residual the way find() composes them") {
    import BQuery._
    val q = and(and(
      KeyRange("k", Some(BInt32(10)), Some(BInt32(20))),
      Eq("status", BString("A"))),
      ReadStrCmp("_id", "0" * 24, ReadStrOp.Gte))
    val p = QueryDocs.plan(q)
    assert(p.keyBounds.contains(("k", Some(BInt32(10)), Some(BInt32(20)))))
    assert(p.serverQuery === BDoc("status" -> BString("A")))
    assert(p.residual.contains(ReadStrCmp("_id", "0" * 24, ReadStrOp.Gte)))
    assert(!p.isExact)
  }

  test("plan keeps only the FIRST KeyRange as cursor bounds") {
    import BQuery._
    val r1 = KeyRange("k", Some(BInt32(1)), None)
    val r2 = KeyRange("k", None, Some(BInt32(9)))
    val p = QueryDocs.plan(And(Seq(r1, r2)))
    assert(p.keyBounds.contains(("k", Some(BInt32(1)), None)))
    assert(p.residual.contains(r2))
  }

  test("plan of a fully-renderable query is exact") {
    val p = QueryDocs.plan(BQuery.Eq("a", BInt32(1)))
    assert(p.isExact && p.keyBounds.isEmpty)
    assert(p.serverQuery === BDoc("a" -> BInt32(1)))
  }

  // --- matches-parity: rendered docs parse back to the same query ----------

  private def toJson(v: BsonValue): String = v match {
    case BDoc(fs) =>
      fs.map { case (k, x) => "\"" + k + "\":" + toJson(x) }.mkString("{", ",", "}")
    case BArray(xs) => xs.map(toJson).mkString("[", ",", "]")
    case BString(s) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case BInt32(x) => x.toString
    case BInt64(x) => x.toString
    case BDouble(x) => x.toString
    case BBool(b) => b.toString
    case BNull => "null"
    case other => fail(s"scalar-subset writer got $other")
  }

  private val scalarGen: Gen[BsonValue] = Gen.oneOf(
    Gen.choose(-5, 5).map(BInt32(_)),
    Gen.oneOf("a", "b", "zz").map(BString(_)),
    Gen.oneOf(true, false).map(BBool(_)))

  private val queryGen: Gen[BQuery] = {
    val field = Gen.oneOf("x", "y", "z")
    val leaf: Gen[BQuery] = for {
      f <- field
      v <- scalarGen
      q <- Gen.oneOf[BsonValue => BQuery](
        BQuery.Eq(f, _), BQuery.Ne(f, _), BQuery.Lt(f, _), BQuery.Lte(f, _),
        BQuery.Gt(f, _), BQuery.Gte(f, _),
        (x: BsonValue) => BQuery.In(f, Seq(x)),
        (x: BsonValue) => BQuery.Nin(f, Seq(x)))
    } yield q(v)
    for {
      a <- leaf; b <- leaf; c <- leaf
      combine <- Gen.oneOf[Seq[BQuery] => BQuery](BQuery.And(_), BQuery.Or(_))
    } yield combine(Seq(a, b, c))
  }

  private val docGen: Gen[BDoc] = for {
    xs <- Gen.listOfN(3, scalarGen)
    present <- Gen.listOfN(3, Gen.oneOf(true, false))
  } yield BDoc(scala.collection.immutable.ListMap(
    Seq("x", "y", "z").zip(xs).zip(present).collect {
      case ((k, v), true) => k -> v
    }: _*))

  test("rendered query docs round-trip through BQuery.parse with matches-parity") {
    val docs = samples(docGen, 60)
    samples(queryGen, 200).foreach { q =>
      val rendered = QueryDocs.render(q)
        .getOrElse(fail(s"scalar query must render: $q"))
      val parsed = graft.query.BQueryJson.parse(toJson(rendered))
      docs.foreach { d =>
        assert(parsed.matches(d) === q.matches(d),
          s"parity broke for $q on $d via $rendered")
      }
    }
  }

  test("the stub backend's doc parser inverts render with matches-parity") {
    // the fake "server" must evaluate exactly what the binding rendered,
    // or the resolved-driver tests would compare Spark against a
    // different query than a real server would run
    val docs = samples(docGen, 60)
    samples(queryGen, 200).foreach { q =>
      val rendered = QueryDocs.render(q)
        .getOrElse(fail(s"scalar query must render: $q"))
      val parsed = StubDriverBackend.parseQueryDoc(rendered)
      docs.foreach { d =>
        assert(parsed.matches(d) === q.matches(d),
          s"stub-parser parity broke for $q on $d via $rendered")
      }
    }
    // the operator-doc corner cases render() emits
    assert(StubDriverBackend.parseQueryDoc(BDoc.empty) === BQuery.True)
    val wrapped = QueryDocs.render(
      BQuery.Eq("a", BDoc("$gt" -> BInt32(5)))).get
    assert(StubDriverBackend.parseQueryDoc(wrapped)
      .matches(BDoc("a" -> BDoc("$gt" -> BInt32(5)))))
  }

  test("array/negation operators render verbatim and round-trip the stub parser") {
    import BQuery._
    val arrDocs = Seq(
      BDoc("a" -> BArray(Vector(BInt32(1), BInt32(7), BInt32(12))), "n" -> BInt32(9)),
      BDoc("a" -> BArray(Vector(BInt32(20))), "n" -> BInt32(8)),
      BDoc("a" -> BInt32(7), "n" -> BDouble(9.7)),
      BDoc("a" -> BArray(Vector(
        BDoc("k" -> BString("x"), "v" -> BInt32(6)),
        BDoc("k" -> BString("y"), "v" -> BInt32(2))))),
      BDoc("n" -> BString("9")),
      BDoc.empty)
    val queries = Seq(
      Size("a", 3),
      All("a", Seq(BInt32(7), BInt32(12))),
      ElemMatch("a", BQuery.and(Gte(ElemPath, BInt32(3)),
        Lte(ElemPath, BInt32(12))), valueForm = true),
      ElemMatch("a", BQuery.and(Eq("k", BString("x")),
        Gt("v", BInt32(5))), valueForm = false),
      NotOp("n", Gt("n", BInt32(5))),
      Nor(Seq(Eq("n", BInt32(9)), Exists("a", yes = true))),
      Mod("n", 4, 1),
      TypeIs("n", Seq("number")),
      TypeIs("a", Seq("array", "int")))
    queries.foreach { q =>
      val rendered = QueryDocs.render(q)
        .getOrElse(fail(s"array operator must render: $q"))
      val parsed = StubDriverBackend.parseQueryDoc(rendered)
      arrDocs.foreach { d =>
        assert(parsed.matches(d) === q.matches(d),
          s"stub-parser parity broke for $q on $d via $rendered")
      }
    }
    // pinned wire shapes for the two composite bodies
    assert(QueryDocs.render(ElemMatch("a",
      BQuery.and(Gte(ElemPath, BInt32(3)), Lte(ElemPath, BInt32(12))),
      valueForm = true)).contains(
      BDoc("a" -> BDoc("$elemMatch" ->
        BDoc("$gte" -> BInt32(3), "$lte" -> BInt32(12))))))
    assert(QueryDocs.render(NotOp("n", Gt("n", BInt32(5)))).contains(
      BDoc("n" -> BDoc("$not" -> BDoc("$gt" -> BInt32(5))))))
  }

  test("residual re-check is exact over the widened HEAD projection (fieldPaths completeness)") {
    // MongoDriverClient's residual find() projects the cursor to
    // `projection ∪ heads(fieldPaths(residual))` (r16) — sound ONLY
    // while BQuery.fieldPaths reports every path matches() reads
    // (ADVICE r16). This property pins that contract across the node
    // zoo on nested/array docs: a future residual node whose evaluation
    // reads an unreported field would flip the verdict on the projected
    // doc and fail here, instead of silently dropping rows on a live
    // server.
    import BQuery._
    val nestedDocGen: Gen[BDoc] = for {
      x <- Gen.option(scalarGen)
      m <- Gen.option(Gen.oneOf(
        scalarGen.map(v => BDoc("a" -> v): BsonValue),
        scalarGen,
        Gen.const(BNull: BsonValue),
        Gen.listOfN(2, scalarGen).map(xs => BArray(xs.toVector): BsonValue)))
      arr <- Gen.option(Gen.oneOf(
        Gen.listOfN(2, scalarGen).map(xs => BArray(xs.toVector): BsonValue),
        scalarGen.map(v => BArray(Vector(BDoc("k" -> v))): BsonValue),
        Gen.const(BArray(Vector.empty): BsonValue),
        scalarGen))
      extra <- Gen.option(scalarGen) // never referenced by any query
    } yield BDoc(scala.collection.immutable.ListMap(
      (x.map("x" -> _) ++ m.map("m" -> _) ++ arr.map("arr" -> _) ++
        extra.map("unrelated" -> _)).toSeq: _*))
    val path = Gen.oneOf("x", "m", "m.a", "arr", "arr.0", "arr.k")
    val valGen: Gen[BsonValue] = Gen.oneOf(scalarGen, Gen.const(BNull))
    val leaf: Gen[BQuery] = for {
      p <- path
      v <- valGen
      q <- Gen.oneOf[BQuery](
        Eq(p, v), Ne(p, v), Lt(p, v), Lte(p, v), Gt(p, v), Gte(p, v),
        In(p, Seq(v)), Nin(p, Seq(v)),
        Exists(p, yes = true), Exists(p, yes = false),
        Size(p, 2), All(p, Seq(v)),
        ElemMatch(p, BQuery.and(Gte(ElemPath, BInt32(0)),
          Lte(ElemPath, BInt32(4))), valueForm = true),
        ElemMatch(p, Eq("k", v), valueForm = false),
        NotOp(p, Gt(p, v)), Mod(p, 3, 1),
        TypeIs(p, Seq("number")), Regex(p, "^a", ""))
    } yield q
    val zooGen: Gen[BQuery] = for {
      a <- leaf; b <- leaf; c <- leaf
      combine <- Gen.oneOf[Seq[BQuery] => BQuery](
        And(_), Or(_), Nor(_),
        (qs: Seq[BQuery]) => And(Seq(qs.head, Or(qs.tail))))
    } yield combine(Seq(a, b, c))
    val docs = samples(nestedDocGen, 80)
    samples(zooGen, 400).foreach { q =>
      val heads = GraftServerSource.pruneProjection(
        BQuery.fieldPaths(q).toSeq.map(_.split('.').head).sorted.distinct)
      docs.foreach { d =>
        val projected = QueryDocs.projectClient(d, heads)
        assert(q.matches(d) === q.matches(projected),
          s"fieldPaths incomplete for $q on $d (projected to $heads -> $projected)")
      }
    }
  }

  // --- the remaining wire docs ---------------------------------------------

  test("command and cursor-option docs are pinned") {
    assert(QueryDocs.collStatsCmd("docs") === BDoc("collStats" -> BString("docs")))
    assert(QueryDocs.splitVectorCmd("db.docs", "k", 8L << 20) === BDoc(
      "splitVector" -> BString("db.docs"),
      "keyPattern" -> BDoc("k" -> BInt32(1)),
      "maxChunkSizeBytes" -> BInt64(8L << 20)))
    assert(QueryDocs.sampleStages("k", 7) === Seq(
      BDoc("$sample" -> BDoc("size" -> BInt32(7))),
      BDoc("$project" -> BDoc("_id" -> BInt32(0), "k" -> BInt32(1)))))
    // sampling on _id must not suppress _id
    assert(QueryDocs.sampleStages("_id", 3)(1) ===
      BDoc("$project" -> BDoc("_id" -> BInt32(1))))
    assert(QueryDocs.sortDoc("k", descending = false) === BDoc("k" -> BInt32(1)))
    assert(QueryDocs.sortDoc("k", descending = true) === BDoc("k" -> BInt32(-1)))
    // engine projection semantics: ONLY listed fields — _id suppressed
    // unless asked for (the fake client and RowCodec read the same way)
    assert(QueryDocs.projectionDoc(Seq("a", "b")) ===
      BDoc("_id" -> BInt32(0), "a" -> BInt32(1), "b" -> BInt32(1)))
    assert(QueryDocs.projectionDoc(Seq("_id", "a")) ===
      BDoc("_id" -> BInt32(1), "a" -> BInt32(1)))
  }

  test("updateDoc rewrites legacy $pushAll to $push + $each") {
    val u = BDoc(
      "$set" -> BDoc("a" -> BInt32(1)),
      "$pushAll" -> BDoc("tags" -> BArray(Vector(BString("x"), BString("y")))))
    assert(QueryDocs.updateDoc(u) === BDoc(
      "$set" -> BDoc("a" -> BInt32(1)),
      "$push" -> BDoc("tags" -> BDoc("$each" -> BArray(Vector(BString("x"), BString("y")))))))
    // merges with an existing $push instead of dropping it
    val both = BDoc(
      "$push" -> BDoc("log" -> BString("e")),
      "$pushAll" -> BDoc("tags" -> BArray(Vector(BString("x")))))
    assert(QueryDocs.updateDoc(both) === BDoc(
      "$push" -> BDoc(
        "log" -> BString("e"),
        "tags" -> BDoc("$each" -> BArray(Vector(BString("x")))))))
    // no $pushAll → untouched
    val plain = BDoc("$inc" -> BDoc("n" -> BInt32(1)))
    assert(QueryDocs.updateDoc(plain) eq plain)
  }

  test("nsParts splits at the FIRST dot; hostList strips the replica-set prefix") {
    assert(QueryDocs.nsParts("db.coll") === ("db", "coll"))
    assert(QueryDocs.nsParts("db.system.profile") === ("db", "system.profile"))
    intercept[IllegalArgumentException](QueryDocs.nsParts("nodot"))
    intercept[IllegalArgumentException](QueryDocs.nsParts("db."))
    assert(QueryDocs.hostList("rs0/h1:27017,h2:27017") === Seq("h1:27017", "h2:27017"))
    assert(QueryDocs.hostList("h1:27017") === Seq("h1:27017"))
  }

  // --- the reflection transport's sandbox behavior -------------------------

  test("MongoDriverFactory fails loudly (and only at use) without the driver jar") {
    val factory = new MongoDriverFactory
    intercept[IllegalArgumentException](factory.create(Map.empty)) // uri required
    val e = intercept[IllegalStateException](
      factory.create(Map("uri" -> "mongodb://localhost:27017")))
    assert(e.getMessage.contains("mongodb-driver-sync"))
    assert(e.getMessage.contains("DirServerFactory"),
      "the error must name the sandbox alternative")
  }

  test("the reflection surface names only public driver/bson classes") {
    MongoDriverClient.Rf.surface.foreach { name =>
      assert(name.startsWith("com.mongodb.") || name.startsWith("org.bson."),
        s"unexpected class in the reflection surface: $name")
    }
    // and none of them is resolvable here — the suite above really did
    // exercise the absent-driver path. (The stub tests below compile the
    // driver surface into an ISOLATED loader, so plain Class.forName
    // stays unresolvable even after they run.)
    MongoDriverClient.Rf.surface.foreach { name =>
      intercept[ClassNotFoundException](Class.forName(name))
    }
  }

  // --- the resolved-driver path: runtime-compiled stub driver --------------
  //
  // ORDER MATTERS: these tests must stay AFTER the absent-driver tests
  // above. Rf caches resolved classes per JVM (lazy vals), so once the
  // stub loader resolves them the absence path cannot fail again here.
  // The stub classes mirror the public mongodb-driver-sync 4.x
  // signatures exactly (see src/test/resources/mongostub/), so a wrong
  // getMethod erasure in Rf fails THESE tests instead of a user's first
  // live run; behavior behind the stubs is the engine's own
  // FakeServerClient store.

  import graft.store.{BulkResult, InsertOne, UpdateOp}
  import graft.query.UpdateModel

  private def withDriver[T](body: (MongoDriverClient, FakeServerClient,
      StubDriverBackend) => T): T = {
    val fake = new FakeServerClient()
    try MongoStubLoader.withStubDriver(fake) { backend =>
      val client = new MongoDriverClient("mongodb://stub-host:27017/test")
      try body(client, fake, backend)
      finally client.close()
    } finally fake.close()
  }

  private val Ns = "db.people"

  private def seed(client: MongoDriverClient): Unit = {
    val docs = (1 to 20).map(i => BDoc(
      "_id" -> BInt32(i), "k" -> BInt32(i),
      "status" -> BString(if (i % 2 == 0) "A" else "B"),
      "name" -> BString(f"n$i%02d")))
    val r = client.bulkWrite(Ns, docs.map(InsertOne(_)).iterator, ordered = true)
    assert(r === BulkResult(20, 0, 0, 0))
  }

  test("stub driver: insert + collStats + exact find push the full cursor surface") {
    withDriver { (client, fake, _) =>
      seed(client)
      val st = client.collStats(Ns)
      assert(st.count === 20 && st.avgObjSizeBytes > 0)
      // exact plan: filter, projection, sort (desc), skip, limit all
      // server-side — parity against the fake evaluated directly
      val q = Find(BQuery.Eq("status", BString("A")),
        projection = Some(Seq("_id", "name")), sortAscBy = Some("_id"),
        skip = 2, limit = 3, sortDescending = true)
      val got = client.find(Ns, q).toVector
      assert(got === fake.find(Ns, q).toVector)
      assert(got.size === 3 && got.forall(_.fields.keySet == Set("_id", "name")))
      // the empty-projection special case stays client-side
      val empty = client.find(Ns,
        Find(BQuery.Eq("_id", BInt32(3)), projection = Some(Seq.empty))).toVector
      assert(empty === Vector(BDoc.empty))
    }
    assert(MongoStubBridge.closedCount >= 1)
  }

  test("stub driver: KeyRange rides min/max cursor bounds with the index hint") {
    withDriver { (client, fake, backend) =>
      seed(client)
      val q = BQuery.and(
        BQuery.KeyRange("k", Some(BInt32(5)), Some(BInt32(15))),
        BQuery.Eq("status", BString("B")))
      val got = client.find(Ns, Find(q, sortAscBy = Some("k"))).toVector
      assert(got === fake.find(Ns, Find(q, sortAscBy = Some("k"))).toVector)
      assert(got.nonEmpty)
      assert(backend.lastHint.contains(BDoc("k" -> BInt32(1))),
        "min/max bounds must carry the index hint modern servers require")
    }
  }

  test("stub driver: unrenderable residual re-checks client-side, then skip/limit/projection") {
    withDriver { (client, fake, _) =>
      seed(client)
      val q = BQuery.and(BQuery.Eq("status", BString("B")),
        BQuery.ReadStrCmp("name", "n05", BQuery.ReadStrOp.Gte))
      val find = Find(q, projection = Some(Seq("name")), skip = 1, limit = 3)
      val got = client.find(Ns, find).toVector
      assert(got === fake.find(Ns, find).toVector)
      assert(got.size === 3 && got.forall(_.fields.keySet == Set("name")))
      // the residual reads a field OUTSIDE the projection: the widened
      // cursor projection (projection ∪ residual paths, r16) must ship
      // it or the client re-check would silently mis-filter — while the
      // final docs still carry ONLY the requested field
      val q2 = BQuery.and(BQuery.Eq("status", BString("B")),
        BQuery.ReadStrCmp("name", "n05", BQuery.ReadStrOp.Gte))
      val find2 = Find(q2, projection = Some(Seq("k")))
      val got2 = client.find(Ns, find2).toVector
      assert(got2 === fake.find(Ns, find2).toVector)
      assert(got2.nonEmpty && got2.forall(_.fields.keySet == Set("k")))
      // STRUCTURE-sensitive residual: the widening must ship the whole
      // HEAD field — an inclusion projection of the dotted "m.a" would
      // drop doc 31's scalar array element and erase the MISSING slot
      // its {m.a: null} branch matches (review r16)
      val mdocs = Seq(
        BDoc("_id" -> BInt32(31), "name" -> BString("x1"),
          "m" -> BArray(Vector(BInt32(1), BDoc("a" -> BInt32(5))))),
        BDoc("_id" -> BInt32(32), "name" -> BString("x2"),
          "m" -> BArray(Vector(BDoc("a" -> BInt32(5))))))
      client.bulkWrite(Ns, mdocs.map(InsertOne(_)).iterator, ordered = true)
      // one non-renderable branch makes the whole Or residual
      val q3 = BQuery.Or(Seq(BQuery.Eq("m.a", BNull),
        BQuery.ReadStrCmp("name", "x9", BQuery.ReadStrOp.Gte)))
      val find3 = Find(q3, projection = Some(Seq("_id")))
      val got3 = client.find(Ns, find3).toVector
      assert(got3 === fake.find(Ns, find3).toVector)
      val ids3 = got3.flatMap(_.get("_id")).toSet
      assert(ids3.contains(BInt32(31)) && !ids3.contains(BInt32(32)),
        s"missing-slot semantics must survive the widened projection: $ids3")
    }
  }

  test("stub driver: groupAggregate renders one $match+$group pipeline round-trip") {
    withDriver { (client, fake, _) =>
      seed(client)
      val q = BQuery.Gte("k", BInt32(5))
      val aggs = Seq(GroupAgg.CountAll("count(*)"), GroupAgg.CountCol("k", "count(k)"),
        GroupAgg.MinOf("k", "min(k)"),
        GroupAgg.MaxOf("k", "max(k)"), GroupAgg.SumOf("k", "sum(k)"))
      val got = client.groupAggregate(Ns, q, Seq("status"), aggs).toVector
        .map(d => d.get("status") -> d).toMap
      val expect = fake.groupAggregate(Ns, q, Seq("status"), aggs).toVector
        .map(d => d.get("status") -> d).toMap
      assert(got === expect, s"driver pipeline vs fake: $got vs $expect")
      // spot-check one group by hand: k in 5..20, evens are status A
      val a = got(Some(BString("A")))
      assert(a.get("count(*)").contains(BInt64(8)))   // 6,8,...,20
      assert(a.get("min(k)").contains(BInt32(6)))
      assert(a.get("max(k)").contains(BInt32(20)))
      assert(a.get("sum(k)").contains(BInt64((6 to 20 by 2).sum.toLong)))
      // a residual-bearing query must refuse loudly, not silently misgroup
      intercept[IllegalArgumentException] {
        client.groupAggregate(Ns,
          BQuery.ReadStrCmp("name", "n05", BQuery.ReadStrOp.Gte), Seq("status"), aggs)
      }
    }
  }

  test("stub driver: NESTED group keys render dot-free wire names and regroup to dotted contract names") {
    withDriver { (client, fake, _) =>
      // docs with a subdocument: group by meta.lang (+ a second nested
      // key so the compound _id exercises wireName), sum over meta.score
      val docs = (1 to 12).map(i => BDoc(
        "_id" -> BInt32(i),
        "meta" -> BDoc(
          "lang" -> BString(s"l${i % 3}"),
          "tier" -> BInt32(i % 2),
          "score" -> BDouble(i.toDouble))))
      client.bulkWrite(Ns, docs.map(InsertOne(_)).iterator, ordered = true)
      val keys = Seq("meta.lang", "meta.tier")
      val aggs = Seq(GroupAgg.CountAll("count(*)"),
        GroupAgg.SumOf("meta.score", "sum(meta.score)"),
        GroupAgg.MaxOf("meta.score", "max(meta.score)"))
      // wire shape: the compound _id and the accumulator FIELD names are
      // dot-free (wireName), the "$..."-refs keep the dotted paths
      val stage = QueryDocs.groupStageDoc(identity, keys, aggs)
      val groupBody = stage.get("$group").collect { case d: BDoc => d }.get
      assert(groupBody.fields.keys.forall(!_.contains('.')),
        s"dotted literal field name on the wire: ${groupBody.fields.keys}")
      assert(groupBody.getPath("_id").collect { case d: BDoc => d }.get
        .fields == scala.collection.immutable.ListMap(
          "meta~lang" -> BString("$meta.lang"),
          "meta~tier" -> BString("$meta.tier")), stage.toString)
      // end-to-end through the reflection-bound stub driver: the result
      // re-keys to the CONTRACT (dotted) names and matches the fake
      val got = client.groupAggregate(Ns, BQuery.True, keys, aggs).toVector
        .map(d => (d.get("meta.lang"), d.get("meta.tier")) -> d).toMap
      val expect = fake.groupAggregate(Ns, BQuery.True, keys, aggs).toVector
        .map(d => (d.get("meta.lang"), d.get("meta.tier")) -> d).toMap
      assert(got === expect, s"driver pipeline vs fake: $got vs $expect")
      val g = got((Some(BString("l1")), Some(BInt32(1))))
      // l1/tier1: i in {1, 7} -> count 2, sum 8, max 7
      assert(g.get("count(*)").contains(BInt64(2)) &&
        g.get("sum(meta.score)").contains(BDouble(8.0)) &&
        g.get("max(meta.score)").contains(BDouble(7.0)), g.toString)
    }
  }

  test("createIndexes command is pinned and reaches the store through the stub driver") {
    // wire shape: one compound ascending index, server naming convention
    assert(QueryDocs.createIndexesCmd("people", Seq("k", "status")) ==
      BDoc(
        "createIndexes" -> BString("people"),
        "indexes" -> BArray(Vector(BDoc(
          "key" -> BDoc("k" -> BInt32(1), "status" -> BInt32(1)),
          "name" -> BString("k_1_status_1"))))))
    withDriver { (client, fake, _) =>
      client.createIndex(Ns, Seq("k", "status"))
      client.createIndex(Ns, Seq("name"))
      client.createIndex(Ns, Seq("name")) // idempotent re-declare
      // the declared indexes landed on the fake's store exactly once each
      val dir = fake.rootPath.resolve(Ns.replace('.', '_')).toString
      assert(new graft.store.BsonCollection(dir).indexes() ==
        Seq(Seq("k", "status"), Seq("name")))
    }
  }

  test("stub driver: all-null SUM group comes back NULL despite the server's $sum: 0") {
    withDriver { (client, fake, _) =>
      // group "X" has only null v's: a REAL server's $sum answers 0 there
      // (the stub reproduces that), and the binding's sumPresenceAlias
      // companion must correct it to NULL — Spark/engine SUM semantics
      client.bulkWrite(Ns, Iterator(
        InsertOne(BDoc("_id" -> BInt32(1), "g" -> BString("X"), "v" -> BNull)),
        InsertOne(BDoc("_id" -> BInt32(2), "g" -> BString("X"))),
        InsertOne(BDoc("_id" -> BInt32(3), "g" -> BString("Y"), "v" -> BInt32(5)))),
        ordered = true)
      val aggs = Seq(GroupAgg.SumOf("v", "sum(v)"), GroupAgg.CountAll("count(*)"))
      val got = client.groupAggregate(Ns, BQuery.True, Seq("g"), aggs).toVector
        .map(d => d.get("g") -> d).toMap
      assert(got(Some(BString("X"))).get("sum(v)").contains(BNull),
        s"all-null group must sum to NULL, got $got")
      assert(got(Some(BString("Y"))).get("sum(v)").contains(BInt64(5L)))
      // the companion accumulator never leaks into the contract result
      assert(got.values.forall(_.fields.keys.forall(!_.endsWith("~nn"))), s"got $got")
      // and matches the fake (the contract-semantics authority) exactly
      val expect = fake.groupAggregate(Ns, BQuery.True, Seq("g"), aggs).toVector
        .map(d => d.get("g") -> d).toMap
      assert(got === expect)
    }
  }

  test("stub driver: allow_disk_use reaches the aggregate iterable") {
    val fake = new FakeServerClient()
    try MongoStubLoader.withStubDriver(fake) { _ =>
      fake.bulkWrite(Ns, Iterator(InsertOne(BDoc("_id" -> BInt32(1),
        "g" -> BString("a")))), ordered = true)
      val aggs = Seq(GroupAgg.CountAll("count(*)"))
      // default: the knob is never invoked
      MongoStubBridge.lastAllowDiskUse = None
      val plain = new MongoDriverClient("mongodb://stub-host:27017/test")
      try plain.groupAggregate(Ns, BQuery.True, Seq("g"), aggs).toVector
      finally plain.close()
      assert(MongoStubBridge.lastAllowDiskUse.isEmpty)
      // opted in (the MongoDriverFactory `allow_disk_use` option):
      // allowDiskUse(true) is called on the iterable before iteration
      val dsk = new MongoDriverClient("mongodb://stub-host:27017/test",
        allowDiskUse = true)
      try dsk.groupAggregate(Ns, BQuery.True, Seq("g"), aggs).toVector
      finally dsk.close()
      assert(MongoStubBridge.lastAllowDiskUse.contains(true))
    } finally fake.close()
  }

  test("stub driver: global (_id: null) and compound (multi-key) group pipelines") {
    withDriver { (client, fake, _) =>
      seed(client)
      val aggs = Seq(GroupAgg.CountAll("count(*)"), GroupAgg.MinOf("k", "min(k)"),
        GroupAgg.SumOf("k", "sum(k)"))
      // filtered GLOBAL: one result doc carrying no group fields
      val q = BQuery.Gte("k", BInt32(18))
      val global = client.groupAggregate(Ns, q, Seq.empty, aggs).toVector
      assert(global === fake.groupAggregate(Ns, q, Seq.empty, aggs).toVector)
      assert(global.size === 1)
      assert(global.head.get("count(*)").contains(BInt64(3)))
      assert(global.head.get("min(k)").contains(BInt32(18)))
      // nothing matched: a real $group emits NO doc — so must the binding
      assert(client.groupAggregate(Ns, BQuery.Gte("k", BInt32(99)),
        Seq.empty, aggs).toVector.isEmpty)
      // compound two-key _id doc, re-keyed to one field per group column
      val mk = client.groupAggregate(Ns, BQuery.True, Seq("status", "k"), aggs)
        .toVector.map(d => (d.get("status"), d.get("k")) -> d).toMap
      val mkExpect = fake.groupAggregate(Ns, BQuery.True, Seq("status", "k"), aggs)
        .toVector.map(d => (d.get("status"), d.get("k")) -> d).toMap
      assert(mk === mkExpect)
      assert(mk.size === 20) // k is unique, so every (status, k) is its own group
      assert(mk((Some(BString("A")), Some(BInt32(2))))
        .get("count(*)").contains(BInt64(1)))
    }
  }

  test("stub driver: sampleKeys via $sample aggregate; splitVector granted and refused") {
    withDriver { (client, fake, backend) =>
      seed(client)
      assert(client.sampleKeys(Ns, "k", 5) === fake.sampleKeys(Ns, "k", 5))
      backend.grantSplitVector = true
      val sv = client.splitVector(Ns, "k", maxChunkBytes = 100L)
      assert(sv.exists(_.nonEmpty), s"expected boundaries, got $sv")
      backend.grantSplitVector = false
      assert(client.splitVector(Ns, "k", 100L) === None,
        "a refused splitVector must map to None (sampling fallback), not throw")
    }
  }

  test("stub driver: chunkRanges walks config.chunks + config.shards") {
    withDriver { (client, fake, _) =>
      fake.bulkWrite("config.chunks", Iterator(
        InsertOne(BDoc("_id" -> BString("c1"), "ns" -> BString(Ns),
          "min" -> BDoc("k" -> BMinKey), "max" -> BDoc("k" -> BInt32(10)),
          "shard" -> BString("s0"))),
        InsertOne(BDoc("_id" -> BString("c2"), "ns" -> BString(Ns),
          "min" -> BDoc("k" -> BInt32(10)), "max" -> BDoc("k" -> BMaxKey),
          "shard" -> BString("s1")))), ordered = true)
      fake.bulkWrite("config.shards", Iterator(
        InsertOne(BDoc("_id" -> BString("s0"),
          "host" -> BString("rs0/h1:27017,h2:27017"))),
        InsertOne(BDoc("_id" -> BString("s1"),
          "host" -> BString("h3:27017")))), ordered = true)
      assert(client.chunkRanges(Ns, "k") === Seq(
        (None, Some(BInt32(10)), Seq("h1:27017", "h2:27017")),
        (Some(BInt32(10)), None, Seq("h3:27017"))))
    }
  }

  test("stub driver: chunkRanges falls back to the 5.0+ uuid arm client-side") {
    withDriver { (client, fake, _) =>
      // 5.0+ layout: config.chunks keyed by collection uuid (subtype-4
      // binary), no ns field; config.collections maps ns -> uuid. The
      // uuid filter must run CLIENT-side on byte equality (the engine's
      // BBinary is subtype-blind; re-encoding would write subtype 0).
      val uuid = BBinary(Array.tabulate[Byte](16)(_.toByte))
      val otherUuid = BBinary(Array.fill[Byte](16)(0x7f.toByte))
      fake.bulkWrite("config.collections", Iterator(
        InsertOne(BDoc("_id" -> BString(Ns), "uuid" -> uuid))), ordered = true)
      fake.bulkWrite("config.chunks", Iterator(
        InsertOne(BDoc("_id" -> BString("u1"), "uuid" -> uuid,
          "min" -> BDoc("k" -> BMinKey), "max" -> BDoc("k" -> BInt32(7)),
          "shard" -> BString("s0"))),
        InsertOne(BDoc("_id" -> BString("u2"), "uuid" -> otherUuid,
          "min" -> BDoc("k" -> BMinKey), "max" -> BDoc("k" -> BMaxKey),
          "shard" -> BString("s9"))),
        InsertOne(BDoc("_id" -> BString("u3"), "uuid" -> uuid,
          "min" -> BDoc("k" -> BInt32(7)), "max" -> BDoc("k" -> BMaxKey),
          "shard" -> BString("s1")))), ordered = true)
      fake.bulkWrite("config.shards", Iterator(
        InsertOne(BDoc("_id" -> BString("s0"), "host" -> BString("h1:27017"))),
        InsertOne(BDoc("_id" -> BString("s1"),
          "host" -> BString("rs1/h2:27017")))), ordered = true)
      assert(client.chunkRanges(Ns, "k") === Seq(
        (None, Some(BInt32(7)), Seq("h1:27017")),
        (Some(BInt32(7)), None, Seq("h2:27017"))),
        "only this collection's uuid chunks, in cursor order, hosts resolved")
    }
  }

  test("stub driver: bulkWrite covers replace/update/multi/upsert and reads back") {
    withDriver { (client, fake, _) =>
      seed(client)
      val r = client.bulkWrite(Ns, Iterator(
        UpdateOp(UpdateModel(BQuery.Eq("_id", BInt32(1)),
          BDoc("_id" -> BInt32(1), "status" -> BString("R")), replace = true)),
        UpdateOp(UpdateModel(BQuery.Eq("_id", BInt32(2)),
          BDoc("$set" -> BDoc("status" -> BString("U"))))),
        UpdateOp(UpdateModel(BQuery.Eq("status", BString("B")),
          BDoc("$set" -> BDoc("flag" -> BBool(true))), multi = true)),
        UpdateOp(UpdateModel(BQuery.Eq("_id", BInt32(99)),
          BDoc("$set" -> BDoc("status" -> BString("N"))), upsert = true))),
        ordered = true)
      assert(r.errors.isEmpty && r.upserted === 1)
      def one(q: BQuery) = client.find(Ns, Find(q)).toVector
      assert(one(BQuery.Eq("_id", BInt32(1))).head.get("status")
        .contains(BString("R")))
      assert(one(BQuery.Eq("_id", BInt32(2))).head.get("status")
        .contains(BString("U")))
      // _id=1 left "B" via the replace, so 9 of the 10 odd ids remain
      assert(one(BQuery.Eq("flag", BBool(true))).size === 9)
      assert(one(BQuery.Eq("_id", BInt32(99))).head.get("status")
        .contains(BString("N")))
    }
  }

  test("stub driver: unordered duplicate-key insert returns the partial-result shape") {
    withDriver { (client, _, _) =>
      seed(client)
      val r = client.bulkWrite(Ns, Iterator(
        InsertOne(BDoc("_id" -> BInt32(1000), "k" -> BInt32(1000))),
        InsertOne(BDoc("_id" -> BInt32(1), "k" -> BInt32(1)))),
        ordered = false)
      assert(r.inserted === 1, "the non-duplicate insert must survive")
      assert(r.errors.exists(_.contains("duplicate key")),
        s"expected a per-item duplicate-key error, got ${r.errors}")
    }
  }

  test("stub driver: lookupJoin renders the $lookup pipeline and round-trips") {
    withDriver { (client, fake, _) =>
      seed(client)
      // a second collection in the same db: tags for half the ids
      val tags = (1 to 10).map(i => BDoc(
        "_id" -> BInt32(i * 2), "tag" -> BString(s"t${i % 3}")))
      client.bulkWrite("db.tags", tags.map(InsertOne(_)).iterator, ordered = true)
      val stage = LookupStage(
        leftProject = Seq("_id" -> "pid", "name" -> "name"),
        rightNs = "db.tags",
        rightQuery = BQuery.True,
        // right key field rides the projection: rid <- _id
        rightProject = Seq("_id" -> "rid", "tag" -> "tag"),
        keys = Seq(("pid", "rid")),
        leftOuter = false)
      val j = LookupJoin(BQuery.Eq("status", BString("A")), Seq(stage))
      val got = client.lookupJoin(Ns, j).toVector
      val exp = fake.lookupJoin(Ns, j).toVector
      assert(got.map(_.fields).sortBy(_.toString) ===
        exp.map(_.fields).sortBy(_.toString))
      assert(got.nonEmpty && got.forall(_.fields.keySet == Set("pid", "name", "rid", "tag")))

      // LEFT OUTER through the full render→parse→evaluate→re-nest chain:
      // odd ids (status B is odd) never match a tag and keep missing
      // right fields
      val outer = j.copy(leftQuery = BQuery.Eq("status", BString("B")),
        stages = Seq(stage.copy(leftOuter = true)))
      val gotOuter = client.lookupJoin(Ns, outer).toVector
      assert(gotOuter === fake.lookupJoin(Ns, outer).toVector)
      assert(gotOuter.size === 10 &&
        gotOuter.forall(d => d.get("rid").isEmpty && d.get("tag").isEmpty))

      // a split KeyRange renders bracket-style into the pipeline $match
      val ranged = j.copy(leftQuery = BQuery.and(
        BQuery.KeyRange("_id", Some(BInt32(4)), Some(BInt32(12))),
        BQuery.Eq("status", BString("A"))))
      val gotRanged = client.lookupJoin(Ns, ranged).toVector
      assert(gotRanged === fake.lookupJoin(Ns, ranged).toVector)
      assert(gotRanged.map(_.get("pid")).flatten.toSet ===
        Set(BInt32(4), BInt32(6), BInt32(8), BInt32(10)))

      // the $group tail: aggregate pushed through the join — right-side
      // columns reference their pre-flatten __j. home in the rendered
      // stage; the stub parses it back, evaluates, and re-materializes
      // the SERVER shape (all-null $sum = 0) so the binding's presence
      // correction is exercised through the join path too
      val grouped = j.copy(group = Some((Seq("tag"), Seq(
        GroupAgg.CountAll("n"),
        GroupAgg.MinOf("pid", "min_pid"),
        GroupAgg.SumOf("miss", "sum_miss"))))) // no such column: all-null
      val gotGrouped = client.lookupJoin(Ns, grouped).toVector
        .sortBy(_.toString)
      val expGrouped = fake.lookupJoin(Ns, grouped).toVector
        .sortBy(_.toString)
      assert(gotGrouped === expGrouped)
      assert(gotGrouped.nonEmpty &&
        gotGrouped.forall(d => d.get("sum_miss").contains(BNull)),
        s"all-null SUM through the join must come back NULL: $gotGrouped")

      // the $limit tail caps the pipeline
      val limited = j.copy(limit = Some(3L))
      assert(client.lookupJoin(Ns, limited).size === 3)
    }
  }
}
