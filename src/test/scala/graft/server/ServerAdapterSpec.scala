package graft.server

import graft.bson._
import graft.query.{BQuery, UpdateModel}
import graft.source.Planners
import graft.store.{InsertOne, UpdateOp}

import org.scalatest.funsuite.AnyFunSuite

/** Trait-level tests of the live-server adapter against the fake client:
  * the planners run unmodified over [[ServerStats]], planning IO stays
  * bounded (counted round-trips, no full scans), reads honor the range ∧
  * residual ∧ projection ∧ sort contract, and the splitter fallback
  * chain (chunks → splitVector → sample/size) picks the right arm.
  */
class ServerAdapterSpec extends AnyFunSuite {

  private def newServer(n: Int = 200): (FakeServerClient, ServerCollection) = {
    val c = new FakeServerClient
    val coll = new ServerCollection(c, "test.docs")
    coll.bulkWrite((1 to n).iterator.map(i =>
      InsertOne(BDoc("_id" -> BInt32(i), "k" -> BInt64(i.toLong),
        "pad" -> BString("x" * 50)))))
    (c, coll)
  }

  test("planners run unmodified over ServerStats with bounded round-trips") {
    val (client, coll) = newServer()
    val stats = coll.stats("k")
    val sized = Planners.sizeBased(stats, "k", targetSplitBytes = 2000)
    assert(sized.size > 1, "200 padded docs at 2 KB target must split")
    // full coverage, no overlap: every doc lands in exactly one split
    val perSplit = sized.map(s => coll.readSplit(s).size)
    assert(perSplit.sum === 200)
    assert(perSplit.forall(_ > 0))
    // planning never ran an unbounded scan: one collStats + one $sample,
    // find() calls only carry limit-1 probes or the split reads above
    assert(client.callCounts("collStats") === 1)
    assert(client.callCounts("sampleKeys") <= 1)

    val paged = Planners.paginating(stats, "k", BQuery.Gt("k", BInt64(50L)), 25)
    val rows = paged.map(s => coll.readSplit(s, BQuery.Gt("k", BInt64(50L))).size)
    assert(rows.sum === 150)
    assert(rows.forall(r => r > 0 && r <= 25))
  }

  test("splitter fallback chain: chunks beat splitVector beat sampling") {
    val (client, coll) = newServer()
    // unsharded, no splitVector privilege -> size/sample based
    assert(coll.planSplits("k").nonEmpty)
    assert(client.callCounts("splitVector") === 0)
    // splitVector granted -> index-walk boundaries
    client.splitVectorGranted = true
    val sv = coll.planSplits("k", targetSplitBytes = 2000)
    assert(client.callCounts("splitVector") === 1)
    assert(sv.size > 1)
    assert(sv.map(s => coll.readSplit(s).size).sum === 200)
    // sharded: config.chunks win and carry preferred hosts
    client.shardChunks = Map("test.docs" -> Seq(
      (None, Some(BInt64(100L)), Seq("shard-a")),
      (Some(BInt64(100L)), None, Seq("shard-b"))))
    val chunked = coll.planSplits("k")
    assert(chunked.map(_.preferredLocations) === Seq(Seq("shard-a"), Seq("shard-b")))
    assert(chunked.map(s => coll.readSplit(s).size) === Seq(99, 101))
  }

  test("readSplit pushes residual query, projection, and sort to the cursor") {
    val (_, coll) = newServer(20)
    val split = Planners.single("k").head
    val got = coll.readSplit(split, BQuery.Lte("k", BInt64(5L)),
      projection = Some(Seq("k")), sortAscBy = Some("k")).toVector
    assert(got.map(_.get("k").get) === (1 to 5).map(i => BInt64(i.toLong)))
    assert(got.forall(_.fields.keySet === Set("k")), "projection must prune")
  }

  test("keyAtSkip/hasAny are limit-1 probes; upsert writes apply server-side") {
    val (client, coll) = newServer(10)
    val stats = coll.stats("k")
    assert(stats.keyAtSkip(BQuery.True, 3) === Some(BInt64(4L)))
    assert(stats.keyAtSkip(BQuery.True, 99).isEmpty)
    assert(stats.hasAny(BQuery.Gt("k", BInt64(9L))))
    assert(!stats.hasAny(BQuery.Gt("k", BInt64(10L))))
    val finds = client.callCounts("find")
    assert(finds === 4, s"each probe must be one find round-trip, got $finds")

    val res = coll.bulkWrite(Iterator(
      UpdateOp(UpdateModel(BQuery.Eq("_id", BInt32(3)),
        BDoc("$inc" -> BDoc("k" -> BInt64(100L))), upsert = true, multi = false)),
      UpdateOp(UpdateModel(BQuery.Eq("_id", BInt32(77)),
        BDoc("$set" -> BDoc("k" -> BInt64(-1L))), upsert = true, multi = false))))
    assert(res.matched === 1 && res.upserted === 1)
    val k3 = coll.readSplit(Planners.single("k").head, BQuery.Eq("_id", BInt32(3)))
      .toSeq.head.get("k")
    assert(k3 === Some(BInt64(103L)))
  }

  test("sampleKeys partial selection = stable full-sort stride picks " +
    "(duplicates + mixed numeric storages)") {
    // keys deliberately contain runs of BSON-order TIES across storages
    // (BInt32(v) vs BInt64(v) vs BDouble(v) compare equal) so the test
    // pins the STABLE tie order, not just the value order — the r19
    // partial quickselect must pick element-for-element what
    // `keys.toVector.sorted(BsonOrdering)` picked at the stride points
    val c = new FakeServerClient
    val rnd = new scala.util.Random(7)
    val docs = (0 until 5000).map { i =>
      val v = rnd.nextInt(200) // heavy duplication
      val k: BsonValue = rnd.nextInt(3) match {
        case 0 => BInt32(v)
        case 1 => BInt64(v.toLong)
        case _ => BDouble(v.toDouble)
      }
      BDoc("_id" -> BInt32(i), "k" -> k)
    }
    c.bulkWrite("test.samp", docs.iterator.map(InsertOne(_)), ordered = true)
    val all = c.find("test.samp", Find(projection = Some(Seq("k"))))
      .flatMap(_.getPath("k")).toVector
    val sortedRef = all.sorted(BsonOrdering)
    for (n <- Seq(1, 7, 64, 333, 5000, 9999)) {
      val expected = {
        val stride = math.max(1, sortedRef.size / n)
        (sortedRef.indices by stride).take(n).map(sortedRef)
      }
      val got = c.sampleKeys("test.samp", "k", n)
      assert(got === expected, s"n=$n")
    }
    c.close()
  }

  test("a collection directory deleted and re-created takes the same _ids again") {
    // one client per write, sharing a root, as DirServerFactory hands out
    // per task: the JVM-wide _id set must follow the files, not outlive them
    val root = java.nio.file.Files.createTempDirectory("graft-knownids")
    def client = new FakeServerClient(Some(root.toString))
    def insert(ordered: Boolean) = client.bulkWrite("test.ids",
      (1 to 50).iterator.map(i => InsertOne(BDoc("_id" -> BInt32(i), "v" -> BInt64(i.toLong)))),
      ordered)
    def deleteRoot(): Unit = {
      val stream = java.nio.file.Files.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally stream.close()
    }
    try {
      assert(insert(ordered = true).inserted === 50)
      // the same ids into the live collection are still duplicates
      val dup = insert(ordered = false)
      assert(dup.inserted === 0 && dup.errors.size === 50)
      deleteRoot()
      assert(insert(ordered = true).inserted === 50)
      assert(client.find("test.ids", Find()).size === 50)
    } finally deleteRoot()
  }
}
