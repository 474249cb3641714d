package graft.store

import graft.bson._
import graft.query.{BQuery, UpdateDsl, UpdateModel}

import scala.collection.immutable.ListMap

/** Write-model wire shape: insert docs as-is; update ops wrapped as
  * {"__op": mode, "q": {...}, "u": {...}, "upsert": b, "multi": b}.
  * Task writers encode with `toDoc`, the per-shard apply decodes with
  * `fromDoc` — the same doc-shaped envelope the reference streams through
  * its task temp files (core/.../io/MongoUpdateWritable.java:38-64).
  */
object WriteModels {
  /** The write options both sinks read: `mode`
    * (insert|replace|update|upsert), `keys`, `update_op`, `multi`,
    * `id_column`, the write-side `column_mapping` (Spark column ->
    * possibly dotted document field, the reverse of the read-side
    * mongo.columns.mapping analog), and the `query_template` /
    * `update_template` pair (the JSONPigReplace analog), which overrides
    * `keys` and `update_op` when both are set. */
  final case class WriteConf(mode: String, keys: Seq[String], updateOp: String,
      multi: Boolean, idColumn: Option[String], mapping: Map[String, String],
      templates: Option[(UpdateDsl.Template, UpdateDsl.Template)]) {

    /** Move each mapped column to its document field — applied BEFORE key
      * extraction, so `keys`/`id_column` address document-space names.
      * Every source value is read before any field moves: a chained
      * (`{"a": "b", "b": "c"}`) or swapped (`{"a": "b", "b": "a"}`)
      * mapping must not let one column's value overwrite another's
      * before that one has moved. */
    def remap(d: BDoc): BDoc = {
      val moves = mapping.toSeq.filter { case (col, path) => col != path }
        .flatMap { case (col, path) => d.get(col).map(v => (col, path, v)) }
      if (moves.isEmpty) d
      else moves.foldLeft(BDoc(d.fields -- moves.map(_._1))) { case (acc, (_, path, v)) =>
        graft.query.Updates.setField(acc, path, v)
      }
    }

    /** The write-model doc of one encoded row: the templates bound to
      * the remapped row, or [[toDoc]]. */
    def model(row: BDoc): BDoc = {
      val doc = remap(row)
      templates match {
        case Some((q, u)) => envelope(mode, q.bind(doc), u.bind(doc), multi)
        case None => toDoc(mode, doc, keys, updateOp, multi, idColumn)
      }
    }
  }
  object WriteConf {
    def fromOptions(options: Map[String, String]): WriteConf = WriteConf(
      options.getOrElse("mode", "insert"),
      options.getOrElse("keys", "_id").split(',').toSeq,
      options.getOrElse("update_op", "set"),
      options.get("multi").exists(_.toBoolean),
      options.get("id_column"),
      graft.source.ColumnMapping.fromOptions(options),
      for (q <- options.get("query_template"); u <- options.get("update_template"))
        yield (UpdateDsl.parse(q), UpdateDsl.parse(u)))
  }

  /** The update-model envelope [[fromDoc]] decodes. */
  private def envelope(mode: String, q: BDoc, u: BDoc, multi: Boolean): BDoc =
    BDoc("__op" -> BString(mode), "q" -> q, "u" -> u,
      "upsert" -> BBool(mode == "upsert"), "multi" -> BBool(multi))

  def toDoc(mode: String, row: BDoc, keys: Seq[String], updateOp: String,
      multi: Boolean, idColumn: Option[String]): BDoc = {
    val doc = idColumn match {
      case Some(c) if row.get(c).isDefined && c != "_id" =>
        // id_column WINS over a pre-existing _id column (the key-merge
        // convention: the chosen key IS the identity)
        BDoc(ListMap("_id" -> row.get(c).get) ++
          row.fields.removed(c).removed("_id"))
      case _ => row
    }
    mode match {
      case "insert" => doc
      case m =>
        // getPath, not get: keys may be dotted document-space paths
        // (column_mapping nests fields before key extraction)
        val q = BDoc(ListMap(keys.map(k => k -> doc.getPath(k).getOrElse(BNull)): _*))
        val rest = BDoc(doc.fields.filterNot { case (k, _) => keys.contains(k) })
        val u = (m, updateOp) match {
          // replace stores the FULL doc (keys included) — mongo replaceOne
          // semantics; stripping key fields would lose them permanently
          // since the store's replace keeps only the matched _id
          case ("replace", _) => doc
          case (_, "set") => BDoc("$set" -> rest)
          case (_, "inc") => BDoc("$inc" -> rest)
          case (_, "push") => BDoc("$push" -> rest)
          case (_, "pushAll") => BDoc("$pushAll" -> rest)
          case (_, other) => throw new IllegalArgumentException(s"unknown update_op $other")
        }
        envelope(m, q, u, multi)
    }
  }

  /** One field of a write-model query: plain values mean equality, an
    * all-`$` operator document carries comparison operators — a
    * `query_template` like `{"qty": {"$lt": "$threshold"}}` must become a
    * Lt, not an Eq against the literal operator doc (which compares a BDoc
    * to a number and silently matches nothing).
    */
  private def fieldQuery(k: String, v: BsonValue): BQuery = v match {
    case d: BDoc if d.fields.nonEmpty && d.fields.keys.forall(_.startsWith("$")) =>
      d.fields.foldLeft[BQuery](BQuery.True) {
        case (acc, ("$eq", x)) => BQuery.and(acc, BQuery.Eq(k, x))
        case (acc, ("$gt", x)) => BQuery.and(acc, BQuery.Gt(k, x))
        case (acc, ("$gte", x)) => BQuery.and(acc, BQuery.Gte(k, x))
        case (acc, ("$lt", x)) => BQuery.and(acc, BQuery.Lt(k, x))
        case (acc, ("$lte", x)) => BQuery.and(acc, BQuery.Lte(k, x))
        case (acc, ("$ne", x)) => BQuery.and(acc, BQuery.Ne(k, x))
        case (acc, ("$in", BArray(xs))) => BQuery.and(acc, BQuery.In(k, xs))
        case (acc, ("$nin", BArray(xs))) => BQuery.and(acc, BQuery.Nin(k, xs))
        case (acc, ("$exists", BBool(b))) => BQuery.and(acc, BQuery.Exists(k, b))
        case (_, (op, _)) => throw new IllegalArgumentException(
          s"unsupported operator $op in keyed write query for field $k")
      }
    case _ => BQuery.Eq(k, v)
  }

  def fromDoc(d: BDoc): WriteModel = d.get("__op") match {
    case None => InsertOne(d)
    case Some(BString(mode)) =>
      val q = d.get("q").collect { case qd: BDoc => qd }.getOrElse(BDoc.empty)
      val u = d.get("u").collect { case ud: BDoc => ud }.getOrElse(BDoc.empty)
      val upsert = d.get("upsert").contains(BBool(true))
      val multi = d.get("multi").contains(BBool(true))
      val query = q.fields.foldLeft[BQuery](BQuery.True) {
        case (acc, (k, v)) => BQuery.and(acc, fieldQuery(k, v))
      }
      UpdateOp(UpdateModel(query, u, upsert = upsert, multi = multi,
        replace = mode == "replace"))
    case other => throw new IllegalArgumentException(s"bad __op $other")
  }
}
