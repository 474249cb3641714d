package graft.server

import graft.bson._
import graft.query.{BQuery, UpdateModel}
import graft.store.{InsertOne, UpdateOp, WriteModel}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Marker thrown by the stub backend for refused commands; the
  * child-loaded Java stub rethrows it as com.mongodb.MongoCommandException
  * (top-level class so javac can reference it without `$` binary names).
  */
class StubCommandRefused(msg: String) extends RuntimeException(msg)

/** Partial bulk failure crossing the loader boundary: counts + per-item
  * messages; the Java stub converts it to MongoBulkWriteException.
  */
class StubBulkErrors(cs: Array[Long], msgs: java.util.List[String])
    extends RuntimeException(s"bulk errors: ${msgs.size}") {
  def counts(): Array[Long] = cs
  def messages(): java.util.List[String] = msgs
}

/** Parent-classloader bridge the runtime-compiled driver stub calls into
  * (static forwarders — the Java side calls
  * `graft.server.MongoStubBridge.find(...)` etc). Everything crosses as
  * bytes / primitives, so neither loader needs the other's classes. The
  * backend wraps a [[FakeServerClient]], which means a MongoDriverSpec
  * round-trip exercises the ENTIRE chain: MongoDriverClient reflection →
  * stub driver classes → this bridge → the engine's own store semantics.
  */
object MongoStubBridge {

  @volatile var backend: StubDriverBackend = _
  @volatile var closedCount: Int = 0

  def clientClosed(): Unit = synchronized { closedCount += 1 }

  def runCommand(db: String, cmd: Array[Byte]): Array[Byte] =
    backend.runCommand(db, cmd)

  def find(db: String, coll: String, filter: Array[Byte], min: Array[Byte],
      max: Array[Byte], hint: Array[Byte], sort: Array[Byte],
      projection: Array[Byte], skip: Int, limit: Int): java.util.List[Array[Byte]] =
    backend.find(db, coll, filter, min, max, hint, sort, projection, skip, limit)

  def aggregate(db: String, coll: String,
      stages: java.util.List[Array[Byte]]): java.util.List[Array[Byte]] =
    backend.aggregate(db, coll, stages)

  /** Last allowDiskUse(..) seen on an aggregate iterable — pins that the
    * `allow_disk_use` option reaches the driver call. */
  @volatile var lastAllowDiskUse: Option[Boolean] = None
  def noteAllowDiskUse(b: java.lang.Boolean): Unit =
    lastAllowDiskUse = Option(b).map(_.booleanValue)

  def bulkWrite(db: String, coll: String, ops: java.util.List[Array[Object]],
      ordered: Boolean): Array[Long] =
    backend.bulkWrite(db, coll, ops, ordered)
}

/** The fake "server" behind the stub driver: a [[FakeServerClient]]
  * speaking the driver wire shapes — command docs in, result docs out,
  * filters as mongo query documents. Query docs are parsed back through
  * the inverse of [[QueryDocs.render]], so what the binding renders is
  * what gets evaluated (matches-parity with the engine's [[BQuery]]).
  */
final class StubDriverBackend(val fake: FakeServerClient) {

  /** Both arms of the splitVector fallback chain are testable. */
  @volatile var grantSplitVector: Boolean = true
  /** Last hint doc seen on a find — asserts KeyRange bounds carry the
    * index hint modern servers require alongside min/max. */
  @volatile var lastHint: Option[BDoc] = None

  private def dec(b: Array[Byte]): Option[BDoc] = Option(b).map(BsonCodec.decode(_))

  def runCommand(db: String, cmdBytes: Array[Byte]): Array[Byte] = {
    val cmd = BsonCodec.decode(cmdBytes)
    cmd.fields.headOption match {
      case Some(("collStats", BString(coll))) =>
        val st = fake.collStats(s"$db.$coll")
        BsonCodec.encode(BDoc(ListMap(
          "count" -> BInt64(st.count), "avgObjSize" -> BInt64(st.avgObjSizeBytes))))
      case Some(("splitVector", BString(ns))) =>
        if (!grantSplitVector)
          throw new StubCommandRefused("splitVector: not authorized")
        val key = cmd.get("keyPattern").collect { case BDoc(fs) => fs.keys.head }
          .getOrElse(throw new StubCommandRefused("splitVector: no keyPattern"))
        val maxBytes = cmd.get("maxChunkSizeBytes").flatMap(QueryDocs.asLong)
          .getOrElse(8L << 20)
        fake.splitVectorGranted = true
        val keys = fake.splitVector(ns, key, maxBytes).getOrElse(Seq.empty)
        BsonCodec.encode(BDoc(ListMap(
          "splitKeys" -> BArray(keys.map(v => BDoc(key -> v): BsonValue).toVector),
          "ok" -> BDouble(1.0))))
      case Some(("createIndexes", BString(coll))) =>
        // parse each index's key doc back to its field list and declare
        // it on the fake's store (the real server's pre-insert index)
        cmd.get("indexes") match {
          case Some(BArray(ixs)) =>
            ixs.foreach {
              case ix: BDoc => ix.get("key") match {
                case Some(BDoc(kfs)) =>
                  fake.createIndex(s"$db.$coll", kfs.keys.toSeq)
                case other => throw new StubCommandRefused(s"bad index key: $other")
              }
              case other => throw new StubCommandRefused(s"bad index entry: $other")
            }
            BsonCodec.encode(BDoc("ok" -> BDouble(1.0)))
          case other => throw new StubCommandRefused(s"bad indexes: $other")
        }
      case other =>
        throw new StubCommandRefused(s"unsupported command: $other")
    }
  }

  def find(db: String, coll: String, filter: Array[Byte], min: Array[Byte],
      max: Array[Byte], hint: Array[Byte], sort: Array[Byte],
      projection: Array[Byte], skip: Int, limit: Int): java.util.List[Array[Byte]] = {
    val ns = s"$db.$coll"
    lastHint = dec(hint)
    var q: BQuery = StubDriverBackend.parseQueryDoc(
      dec(filter).getOrElse(BDoc.empty))
    val lo = dec(min).flatMap(_.fields.headOption)
    val hi = dec(max).flatMap(_.fields.headOption)
    lo.map(_._1).orElse(hi.map(_._1)).foreach { key =>
      q = BQuery.and(BQuery.KeyRange(key, lo.map(_._2), hi.map(_._2)), q)
    }
    // compound sort doc: field order is precedence, value sign is
    // direction — the full document shape the driver renders
    val sortSpec: Seq[(String, Boolean)] = dec(sort).toSeq.flatMap(_.fields.map {
      case (k, v) => k -> QueryDocs.asLong(v).contains(-1L)
    })
    val proj = dec(projection).map(_.fields.collect {
      case (k, v) if QueryDocs.asLong(v).contains(1L) => k
    }.toSeq)
    val f = sortSpec match {
      case Seq() => Find(q, proj, None, skip.toLong, limit.toLong)
      case (k, d) +: rest =>
        Find(q, proj, Some(k), skip.toLong, limit.toLong, d, rest)
    }
    fake.find(ns, f).map(BsonCodec.encode(_)).toSeq.asJava
  }

  def aggregate(db: String, coll: String,
      stages: java.util.List[Array[Byte]]): java.util.List[Array[Byte]] = {
    val st = stages.asScala.map(BsonCodec.decode(_)).toSeq
    require(st.nonEmpty, "empty pipeline")
    st.head.fields.keys.headOption match {
      case Some("$sample") =>
        val n = st.head.getPath("$sample.size").flatMap(QueryDocs.asLong)
          .getOrElse(0L).toInt
        val key = st(1).get("$project").collect { case BDoc(fs) =>
          fs.collectFirst { case (k, v) if QueryDocs.asLong(v).contains(1L) => k }
        }.flatten.getOrElse(throw new StubCommandRefused("no projected sample key"))
        fake.sampleKeys(s"$db.$coll", key, n)
          .map(v => BsonCodec.encode(BDoc(key -> v))).asJava
      case _ if st.exists(_.fields.contains("$lookup")) =>
        lookupPipeline(db, s"$db.$coll", st)
      case Some("$match") | Some("$group") => groupPipeline(s"$db.$coll", st)
      case other => throw new IllegalArgumentException(
        s"stub server only speaks [$$sample, $$project], [$$match, $$group]," +
          s" or a $$lookup join pipeline, got $other")
    }
  }

  /** `[$match?, $project, $lookup, $unwind]` — the equi-join pipeline
    * the driver binding renders (QueryDocs.lookupPipeline), parsed back
    * into a [[LookupJoin]] and evaluated through the fake; results
    * re-nest the right side under the `$unwind` path (what a real
    * server streams — the binding flattens it client-side).
    */
  private def lookupPipeline(db: String, ns: String,
      st: Seq[BDoc]): java.util.List[Array[Byte]] = {
    def bdoc(v: Option[BsonValue], what: String): BDoc = v match {
      case Some(d: BDoc) => d
      case other => throw new IllegalArgumentException(s"bad $what: $other")
    }
    def projOf(d: BDoc): Seq[(String, String)] = d.fields.toSeq.collect {
      case (o, BString(ref)) if ref.startsWith("$") => (ref.drop(1), o)
    }
    /** `{$toDouble: "<ref>"}` → the ref (a DOUBLE key's operand). */
    object ToDouble {
      def unapply(v: BsonValue): Option[String] = v match {
        case d: BDoc => d.fields.toSeq match {
          case Seq(("$toDouble", BString(ref))) => Some(ref)
          case _ => None
        }
        case _ => None
      }
    }

    /** One rendered `$lookup`+`$unwind` pair → (from, rightQuery,
      * rightProject, keys as (left OUT, right OUT), leftOuter,
      * unwind path, ranges, the `$toDouble` key indices). */
    def parseLookupUnwind(lk: BDoc, unwind: BDoc):
        (String, BQuery, Seq[(String, String)], Seq[(String, String)], Boolean,
          String, Seq[LookupJoin.RangeKey], Set[Int]) = {
      val from = lk.get("from") match {
        case Some(BString(c)) => c
        case other => throw new IllegalArgumentException(s"bad from: $other")
      }
      // let var -> driving OUTPUT name
      val letVars: Map[String, String] = bdoc(lk.get("let"), "let").fields.collect {
        case (v, BString(ref)) if ref.startsWith("$") => v -> ref.drop(1)
      }.toMap
      val inner = lk.get("pipeline") match {
        case Some(BArray(stgs)) => stgs.collect { case d: BDoc => d }
        case other => throw new IllegalArgumentException(s"bad pipeline: $other")
      }
      var rightQuery: BQuery = BQuery.True
      var eqs: Seq[(String, String)] = Seq.empty // (left OUT, right FIELD)
      var doubleKeys = Set.empty[Int] // eqs indices compared by $toDouble
      // (left OUT, op, right FIELD) — r17 base / r18 chained range
      // conjuncts; per-var `{$gt: ["$$rN", null]}` null guards skip
      var rngs: Seq[(String, String, String)] = Seq.empty
      var rightProject: Seq[(String, String)] = Seq.empty
      val rangeOpOf = Map("$lt" -> "<", "$lte" -> "<=", "$gt" -> ">", "$gte" -> ">=")
      inner.foreach { stg =>
        (stg.get("$match"), stg.get("$project")) match {
          case (Some(m: BDoc), _) if m.fields.contains("$expr") =>
            val eqDocs: Seq[BDoc] = m.get("$expr") match {
              case Some(e: BDoc) if e.fields.contains("$and") =>
                e.get("$and") match {
                  case Some(BArray(ds)) => ds.collect { case d: BDoc => d }
                  case other => throw new IllegalArgumentException(s"bad $$and: $other")
                }
              case Some(e: BDoc) => Seq(e)
              case other => throw new IllegalArgumentException(s"bad $$expr: $other")
            }
            eqDocs.foreach { d =>
              d.fields.toSeq match {
                case Seq(("$eq", BArray(Vector(BString(rf), BString(lv)))))
                    if rf.startsWith("$") && lv.startsWith("$$") =>
                  eqs :+= (letVars(lv.drop(2)), rf.drop(1))
                case Seq(("$eq", BArray(Vector(ToDouble(rf), ToDouble(lv)))))
                    if rf.startsWith("$") && lv.startsWith("$$") =>
                  doubleKeys += eqs.size
                  eqs :+= (letVars(lv.drop(2)), rf.drop(1))
                case Seq(("$gt", BArray(Vector(BString(lv), BNull))))
                    if lv.startsWith("$$") => // null guard — semantic only
                case Seq((op, BArray(Vector(BString(lv), BString(rf)))))
                    if rangeOpOf.contains(op) && lv.startsWith("$$") &&
                      rf.startsWith("$") && !rf.startsWith("$$") =>
                  rngs :+= ((letVars(lv.drop(2)), rangeOpOf(op), rf.drop(1)))
                case other =>
                  throw new IllegalArgumentException(s"bad $$expr conjunct: $other")
              }
            }
          case (Some(m: BDoc), _) => rightQuery = StubDriverBackend.parseQueryDoc(m)
          case (None, Some(p: BDoc)) => rightProject = projOf(p)
          case other =>
            throw new IllegalArgumentException(s"bad inner stage: $other")
        }
      }
      val path = unwind.get("path") match {
        case Some(BString(p)) if p.startsWith("$") => p.drop(1)
        case other => throw new IllegalArgumentException(s"bad unwind path: $other")
      }
      val leftOuter = unwind.get("preserveNullAndEmptyArrays")
        .contains(BBool(true))
      // doc FIELD path -> OUTPUT name (inverse of LookupJoin.fieldOf: a
      // nested key's field is the projected column's field + a suffix)
      def outOf(rf: String): String =
        rightProject.collectFirst { case (f, o) if f == rf => o }.getOrElse {
          rightProject.collectFirst {
            case (f, o) if rf.startsWith(f + ".") => o + rf.substring(f.length)
          }.getOrElse(throw new IllegalArgumentException(
            s"unprojected right key field $rf in ${rightProject.map(_._1)}"))
        }
      (from, rightQuery, rightProject,
        eqs.map { case (lo, rf) => (lo, outOf(rf)) }, leftOuter, path,
        rngs.map { case (lo, op, rf) => LookupJoin.RangeKey(lo, op, outOf(rf)) },
        doubleKeys)
    }

    var i = 0
    val leftQuery: BQuery =
      if (st(i).fields.contains("$match")) {
        val q = StubDriverBackend.parseQueryDoc(bdoc(st(i).get("$match"), "$match"))
        i += 1; q
      } else BQuery.True
    // stages: each is [$project, $lookup, $unwind]; stage 0's $project
    // reads doc fields, a later stage's flattens the previous output's
    // home path (top-level or "__j.x") to the stage's output name
    var joinedField = QueryDocs.JoinedField
    var leftOuts = Set.empty[String]
    val stages = Seq.newBuilder[LookupStage]
    while (i + 2 < st.length &&
        st(i).fields.contains("$project") &&
        st(i + 1).fields.contains("$lookup")) {
      val proj = projOf(bdoc(st(i).get("$project"), "stage $project"))
      val leftProject =
        if (leftOuts.isEmpty) proj
        else proj.map { case (path, out) => (outCol("$" + path), out) }
      val (from, rq, rp, keys, outer, path, ranges, doubleKeys) =
        parseLookupUnwind(bdoc(st(i + 1).get("$lookup"), "$lookup"),
          bdoc(st(i + 2).get("$unwind"), "$unwind"))
      stages += LookupStage(leftProject, s"$db.$from", rq, rp, keys, outer, ranges,
        doubleKeys = doubleKeys)
      joinedField = path
      leftOuts = leftProject.map(_._2).toSet
      i += 3
    }
    // optional tail: a $group (aggregate pushed through the join), a
    // partial $limit, or a $sort+$limit (pushed TopN)
    var tailGroup: Option[(Seq[(String, String)], Seq[GroupAgg])] = None
    var tailLimit: Option[Long] = None
    var tailTopN: Option[(Seq[(String, Boolean)], Long)] = None
    if (i < st.length) st(i).fields.keys.headOption match {
      case Some("$group") =>
        tailGroup = Some(parseGroupDoc(bdoc(st(i).get("$group"), "$group")))
      case Some("$limit") =>
        tailLimit = st(i).get("$limit").flatMap(QueryDocs.asLong)
      case Some("$sort") =>
        val spec = bdoc(st(i).get("$sort"), "$sort").fields.toSeq.map {
          case (path, v) => (outCol("$" + path), QueryDocs.asLong(v).contains(-1L))
        }
        require(i + 1 < st.length && st(i + 1).fields.contains("$limit"),
          "no $limit after $sort")
        val n = st(i + 1).get("$limit").flatMap(QueryDocs.asLong)
          .getOrElse(throw new IllegalArgumentException("bad $limit after $sort"))
        tailTopN = Some((spec, n))
        i += 1
      case other => throw new IllegalArgumentException(s"bad tail stage: $other")
    }
    val results = fake.lookupJoin(ns, LookupJoin(leftQuery, stages.result(),
      group = tailGroup.map { case (ks, as) => (ks.map(_._2), as) },
      limit = tailLimit, topN = tailTopN))
    tailGroup match {
      case Some((gKeys, gAggs)) => serverizeGroups(results, gKeys, gAggs)
      case None =>
        results.map { flat =>
          val (l, r) = flat.fields.toSeq.partition { case (k, _) => leftOuts(k) }
          BsonCodec.encode(BDoc(ListMap(
            (l ++ (if (r.nonEmpty) Seq(joinedField -> (BDoc(ListMap(r: _*)): BsonValue))
                   else Nil)): _*)))
        }.toSeq.asJava
    }
  }

  /** `[$match?, $group]` — the grouped-aggregation pipeline the driver
    * binding renders (QueryDocs.groupStages); evaluated through the
    * fake's groupAggregate and re-keyed to the server's `_id` group-value
    * convention.
    */
  private def groupPipeline(ns: String,
      st: Seq[BDoc]): java.util.List[Array[Byte]] = {
    val hasMatch = st.head.fields.keys.headOption.contains("$match")
    val matchDoc = if (hasMatch)
      st.head.get("$match").collect { case d: BDoc => d }.getOrElse(BDoc.empty)
    else BDoc.empty
    val groupDoc = st(if (hasMatch) 1 else 0).get("$group") match {
      case Some(d: BDoc) => d
      case _ => throw new IllegalArgumentException(s"no $$group stage in $st")
    }
    val (keyPairs, aggs) = parseGroupDoc(groupDoc)
    serverizeGroups(
      fake.groupAggregate(ns, StubDriverBackend.parseQueryDoc(matchDoc),
        keyPairs.map(_._2), aggs),
      keyPairs, aggs)
  }

  /** Column ref → the flattened-contract output column: `$__j.col` (the
    * lookup pipeline's pre-flatten home of a right-side output) and
    * `$col` both name `col`. */
  private def outCol(ref: String): String = {
    require(ref.startsWith("$"), s"bad column ref $ref")
    val c = ref.drop(1)
    if (c.startsWith(QueryDocs.JoinedField + "."))
      c.drop(QueryDocs.JoinedField.length + 1)
    else c
  }

  /** Parse a rendered `$group` document back to ((wireKey, path) pairs,
    * aggs). Key/accumulator FIELD names on the wire are the dot-free
    * [[QueryDocs.wireName]] forms (a nested group key's contract name is
    * dotted); the PATHS inside the "$..."-refs stay dotted — evaluation
    * uses the paths, the serverized result echoes the wire names (what a
    * real server does with the literal field names it was given). */
  private def parseGroupDoc(groupDoc: BDoc): (Seq[(String, String)], Seq[GroupAgg]) = {
    val keys: Seq[(String, String)] = groupDoc.get("_id") match {
      case Some(BNull) => Seq.empty // the filtered-global pipeline
      case Some(BString(s)) if s.startsWith("$") =>
        Seq((outCol(s), outCol(s))) // single key: _id is the bare value
      case Some(BDoc(fs)) => fs.toSeq.map {
        case (k, BString(s)) if QueryDocs.wireName(outCol(s)) == k =>
          (k, outCol(s))
        case other => throw new IllegalArgumentException(
          s"bad compound group _id entry: $other")
      }
      case other => throw new IllegalArgumentException(s"bad group _id: $other")
    }
    val aggs = groupDoc.fields.toSeq.filterNot(_._1 == "_id").map {
      case (alias, BDoc(fs)) => fs.head match {
        case ("$sum", v) if QueryDocs.asLong(v).contains(1L) => GroupAgg.CountAll(alias)
        case ("$sum", cond: BDoc) if cond.fields.keys.headOption.contains("$cond") =>
          // the COUNT(col) rendering: $cond on $type of the column
          cond.getPath("$cond").collect { case BArray(args) => args.headOption }
            .flatten match {
            case Some(in: BDoc) =>
              in.getPath("$in").collect { case BArray(as) => as.headOption }
                .flatten match {
                case Some(t: BDoc) => t.get("$type") match {
                  case Some(BString(c)) if c.startsWith("$") =>
                    GroupAgg.CountCol(outCol(c), alias)
                  case other => throw new IllegalArgumentException(s"bad $$type $other")
                }
                case other => throw new IllegalArgumentException(s"bad $$in $other")
              }
            case other => throw new IllegalArgumentException(s"bad $$cond $other")
          }
        case ("$sum", BString(c)) if c.startsWith("$") => GroupAgg.SumOf(outCol(c), alias)
        case ("$min", BString(c)) if c.startsWith("$") => GroupAgg.MinOf(outCol(c), alias)
        case ("$max", BString(c)) if c.startsWith("$") => GroupAgg.MaxOf(outCol(c), alias)
        case other => throw new IllegalArgumentException(s"bad accumulator $other")
      }
      case (alias, other) =>
        throw new IllegalArgumentException(s"bad group field $alias: $other")
    }
    (keys, aggs)
  }

  /** Re-materialize contract-shaped group docs as a REAL server's
    * `$group` output: group values keyed as `_id`, and an all-null
    * plain `$sum` as 0 (never NULL) — the fake's contract answer is
    * NULL there (Spark semantics), so the stub must undo it or the
    * driver binding's sumPresenceAlias correction would be masked
    * instead of exercised.
    */
  private def serverizeGroups(docs: Iterator[BDoc], keys: Seq[(String, String)],
      aggs: Seq[GroupAgg]): java.util.List[Array[Byte]] = {
    val plainSums = aggs.collect { case GroupAgg.SumOf(_, a) => a }.toSet
    docs.map { d =>
      val idVal: BsonValue = keys match {
        case Seq() => BNull
        case Seq((_, p)) => d.get(p).getOrElse(BNull)
        // compound _id echoes the literal (wire) field names it was given
        case ks => BDoc(ks.map { case (w, p) => w -> d.get(p).getOrElse(BNull) }: _*)
      }
      BsonCodec.encode(BDoc((("_id" -> idVal) +:
        aggs.map { a =>
          val v = d.get(a.alias).getOrElse(BNull)
          a.alias -> (if (v == BNull && plainSums.contains(a.alias)) BInt32(0) else v)
        }): _*))
    }.toSeq.asJava
  }

  def bulkWrite(db: String, coll: String, ops: java.util.List[Array[Object]],
      ordered: Boolean): Array[Long] = {
    def qOf(row: Array[Object]) = StubDriverBackend.parseQueryDoc(
      BsonCodec.decode(row(1).asInstanceOf[Array[Byte]]))
    def docOf(row: Array[Object]) =
      BsonCodec.decode(row(2).asInstanceOf[Array[Byte]])
    def boolAt(row: Array[Object], i: Int) =
      row(i).asInstanceOf[java.lang.Boolean].booleanValue()
    val models: Seq[WriteModel] = ops.asScala.toSeq.map { row =>
      row(0).asInstanceOf[String] match {
        case "insert" => InsertOne(docOf(row))
        case "replace" => UpdateOp(UpdateModel(qOf(row), docOf(row),
          upsert = boolAt(row, 3), multi = false, replace = true))
        case "update" => UpdateOp(UpdateModel(qOf(row), docOf(row),
          upsert = boolAt(row, 3), multi = boolAt(row, 4), replace = false))
        case other => throw new IllegalArgumentException(s"bad op kind $other")
      }
    }
    val r = fake.bulkWrite(s"$db.$coll", models.iterator, ordered)
    val counts = Array(r.inserted, r.matched, r.modified, r.upserted)
    if (r.errors.nonEmpty) throw new StubBulkErrors(counts, r.errors.asJava)
    counts
  }
}

object StubDriverBackend {

  /** Inverse of [[QueryDocs.render]]: mongo query document → [[BQuery]].
    * Covers exactly the operator set render emits (equality, $lt/$lte/
    * $gt/$gte/$eq/$ne/$in/$nin/$regex+$options/$exists, $and/$or).
    */
  def parseQueryDoc(d: BDoc): BQuery = {
    val parts: Seq[BQuery] = d.fields.toSeq.map {
      case ("$and", BArray(items)) =>
        BQuery.And(items.map { case i: BDoc => parseQueryDoc(i) })
      case ("$or", BArray(items)) =>
        BQuery.Or(items.map { case i: BDoc => parseQueryDoc(i) })
      case ("$nor", BArray(items)) =>
        BQuery.Nor(items.map { case i: BDoc => parseQueryDoc(i) })
      case (f, ops: BDoc)
          if ops.fields.nonEmpty && ops.fields.keys.forall(_.startsWith("$")) =>
        BQuery.And(ops.fields.toSeq.map {
          case ("$lt", v) => BQuery.Lt(f, v)
          case ("$lte", v) => BQuery.Lte(f, v)
          case ("$gt", v) => BQuery.Gt(f, v)
          case ("$gte", v) => BQuery.Gte(f, v)
          // null-(in)equality is what a REAL server evaluates as
          // "null-or-missing" / "present non-null" — the engine node
          // with exactly those semantics is Exists (the wire form
          // QueryDocs renders for it); generic Eq/Ne would treat
          // missing fields differently
          case ("$eq", BNull) => BQuery.Exists(f, yes = false)
          case ("$ne", BNull) => BQuery.Exists(f, yes = true)
          case ("$eq", v) => BQuery.Eq(f, v)
          case ("$ne", v) => BQuery.Ne(f, v)
          case ("$in", BArray(vs)) => BQuery.In(f, vs)
          case ("$nin", BArray(vs)) => BQuery.Nin(f, vs)
          case ("$regex", BString(p)) =>
            val o = ops.fields.collectFirst { case ("$options", BString(x)) => x }
            BQuery.Regex(f, p, o.getOrElse(""))
          case ("$options", _) => BQuery.True // consumed by the $regex case
          // a REAL server's $exists is pure presence (explicit nulls
          // match $exists: true) — the verbatim option-level node
          case ("$exists", BBool(b)) => BQuery.ExistsField(f, b)
          case ("$size", v) =>
            BQuery.Size(f, QueryDocs.asLong(v).getOrElse(
              throw new IllegalArgumentException(s"bad $$size $v")).toInt)
          case ("$all", BArray(vs)) => BQuery.All(f, vs)
          case ("$mod", BArray(Vector(dv, rv))) =>
            BQuery.Mod(f, QueryDocs.asLong(dv).get, QueryDocs.asLong(rv).get)
          case ("$type", BString(t)) => BQuery.TypeIs(f, Seq(t))
          case ("$type", BArray(ts)) =>
            BQuery.TypeIs(f, ts.map { case BString(t) => t; case other =>
              throw new IllegalArgumentException(s"bad $$type entry $other") })
          case ("$elemMatch", body: BDoc)
              if body.fields.nonEmpty && body.fields.keys.forall(_.startsWith("$")) =>
            BQuery.ElemMatch(f,
              parseQueryDoc(BDoc(BQuery.ElemPath -> body)), valueForm = true)
          case ("$elemMatch", body: BDoc) =>
            BQuery.ElemMatch(f, parseQueryDoc(body), valueForm = false)
          case ("$not", body: BDoc) =>
            BQuery.NotOp(f, parseQueryDoc(BDoc(f -> body)))
          case (op, _) =>
            throw new IllegalArgumentException(s"stub server: unsupported $op")
        })
      case (f, v) => BQuery.Eq(f, v)
    }
    parts match {
      case Seq() => BQuery.True
      case Seq(one) => one
      case many => BQuery.And(many)
    }
  }
}

/** Compiles the Java sources under `src/test/resources/mongostub` with
  * the in-process JDK compiler into a temp dir and serves them from a child
  * URLClassLoader. The stub classes are NEVER on a build classpath:
  * plain `Class.forName` still fails (the absent-driver tests stay
  * honest) while a thread that installs [[loader]] as its context
  * classloader sees a resolvable driver — exactly how a real deployment
  * delivers the driver jar via `spark.jars` into the executor's context
  * classloader.
  */
object MongoStubLoader {

  lazy val loader: ClassLoader = {
    val res = getClass.getResource("/mongostub")
    require(res != null, "mongostub resources missing from test classpath")
    val srcDir = java.nio.file.Paths.get(res.toURI)
    val sources = java.nio.file.Files.list(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".java")).map(_.toString).toSeq.sorted
    require(sources.nonEmpty, s"no .java sources under $srcDir")
    val out = java.nio.file.Files.createTempDirectory("graft-mongostub")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val stream = java.nio.file.Files.walk(out)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally stream.close()
    }))
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    require(javac != null, "JDK compiler unavailable in the test JVM")
    val args = Seq("-d", out.toString, "-encoding", "UTF-8",
      "-classpath", sys.props("java.class.path")) ++ sources
    val rc = javac.run(null, null, null, args: _*)
    require(rc == 0, s"mongostub javac failed with rc=$rc")
    new java.net.URLClassLoader(
      Array(out.toUri.toURL), getClass.getClassLoader)
  }

  /** Run `body` with the stub-driver loader installed as the context
    * classloader (restored after), a fresh backend over `fake`. */
  def withStubDriver[T](fake: FakeServerClient)(body: StubDriverBackend => T): T = {
    val backend = new StubDriverBackend(fake)
    MongoStubBridge.backend = backend
    val t = Thread.currentThread
    val prev = t.getContextClassLoader
    t.setContextClassLoader(loader)
    try body(backend)
    finally t.setContextClassLoader(prev)
  }
}
