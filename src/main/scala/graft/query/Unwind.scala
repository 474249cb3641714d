package graft.query

import graft.bson._

/** One pushed `$unwind` — `explode` / `explode_outer` / `posexplode[_outer]`
  * of an array, or `explode[_outer]` of a map — absorbed into a graft
  * relation by `graft.plans.UnwindRelocate`. This is the ONE statement of
  * what an unwound row is; the file reader, the server reader, the fake
  * server's pipelines and the wire renderer all evaluate it here:
  *
  *  - ARRAY: one row per element, the element REPLACING the array at
  *    `path`; an empty array drops (OUTER: one row with the path null);
  *    a null/missing parent drops (OUTER: one row as is); a non-array
  *    value passes as is (mongo treats it as a one-element array).
  *  - MAP (`$objectToArray` + `$unwind`): one row per subdocument field,
  *    carrying the entry `{k, v}` at [[Unwind.KvDocField]]; an empty,
  *    null or missing map drops (OUTER: one row as is); a non-document
  *    value throws, a real server's `$objectToArray` rule.
  *  - POS (`includeArrayIndex`): the element's ORIGINAL index lands at
  *    [[Unwind.PosDocField]] — int64 on the wire, int32 where a reader
  *    decodes the pos column ([[Unwind.posValue]]); null for every row
  *    that is not an element.
  *  - POST-UNWIND MATCH: element/pos filters evaluate on the unwound row
  *    (the path holds the element), so they carry Spark's row semantics.
  *
  * `element`, `pos` and `key` name the read-schema COLUMNS the relocation
  * bound (the value column of a map explode is `element`); each rides
  * `column_mapping` to the doc field it reads.
  */
final case class Unwind(path: String, outer: Boolean = false, mapKv: Boolean = false,
    element: Option[String] = None, pos: Option[String] = None,
    key: Option[String] = None) {
  import Unwind._

  /** The doc field the element index is injected into (posexplode). */
  def posField: Option[String] = pos.map(_ => PosDocField)

  /** Where one unwound row's element sits: the array path, or the kv
    * entry of a map explode. */
  def elementField: String = if (mapKv) KvDocField else path

  /** True for a doc path that is bound per unwound ROW, not per parent:
    * at or under the unwound path (post-unwind it holds the element), the
    * injected pos field, or a map explode's kv entry. Such a path cannot
    * key a parent-level sample, carry a parent cursor's order, be
    * projected from the stored doc, or be tested before the unwind. */
  def postOnly(f: String): Boolean =
    atOrUnder(f, path) || posField.contains(f) || (mapKv && atOrUnder(f, KvDocField))

  /** True when a filter reference names a per-element COLUMN: the element
    * (or one of its struct subfields), the pos or the map key. Such
    * filters become the post-unwind match. */
  def scopes(column: String): Boolean =
    element.exists(atOrUnder(column, _)) || pos.contains(column) || key.contains(column)

  /** The unwound rows of one parent, in order (see the class comment). */
  def elements(d: BDoc): Iterator[Elem] =
    if (mapKv) d.getPath(path) match {
      case Some(sub: BDoc) if sub.fields.nonEmpty =>
        sub.fields.iterator.zipWithIndex.map { case ((k, v), i) =>
          Elem(Some(BDoc("k" -> BString(k), "v" -> v)), i) }
      case Some(_: BDoc) | Some(BNull) | None =>
        if (outer) Iterator.single(AsIs) else Iterator.empty
      case Some(other) =>
        throw new IllegalArgumentException(
          s"$$objectToArray requires a document at $path, got $other")
    }
    else d.getPath(path) match {
      case Some(BArray(items)) if items.nonEmpty =>
        items.iterator.zipWithIndex.map { case (el, i) => Elem(Some(el), i) }
      case Some(BArray(_)) =>
        if (outer) Iterator.single(EmptyArray) else Iterator.empty
      case Some(BNull) | None =>
        if (outer) Iterator.single(AsIs) else Iterator.empty
      case Some(_) => Iterator.single(AsIs)
    }

  /** The unwound document of one row: the parent with the element set at
    * [[elementField]] and, for posexplode, the index at [[posField]]. */
  def doc(d: BDoc, e: Elem, narrow: Boolean = false): BDoc = {
    val withEl = e.value.fold(d)(Updates.setField(d, elementField, _))
    posField.fold(withEl)(Updates.setField(withEl, _, posValue(e.index, narrow)))
  }

  /** The element and pos of one row as a two-field doc — equivalent to
    * [[doc]] for a query that reads nothing else. */
  private def elementDoc(d: BDoc, e: Elem, narrow: Boolean): BDoc =
    BDoc((e.value.orElse(d.get(elementField)).map(elementField -> _).toSeq ++
      posField.map(_ -> posValue(e.index, narrow))): _*)

  /** `post` reads only the element and pos of a top-level element field:
    * it can test a two-field doc instead of a copy of the parent (the hot
    * path — once per element). */
  private def elementOnly(post: BQuery): Boolean =
    !elementField.contains('.') && BQuery.fieldPaths(post).forall(p =>
      atOrUnder(p, elementField) || posField.contains(p))

  /** Parent → its unwound documents that pass `post`. `narrow` injects the
    * pos as the int32 the pos column decodes, instead of the wire int64. */
  def expander(post: BQuery, narrow: Boolean = false): BDoc => Iterator[BDoc] =
    if (post == BQuery.True) d => elements(d).map(doc(d, _, narrow))
    else if (elementOnly(post)) d =>
      elements(d).filter(e => post.matches(elementDoc(d, e, narrow))).map(doc(d, _, narrow))
    else d => elements(d).map(doc(d, _, narrow)).filter(post.matches)

  /** The wire stages: `$set` of the kv entries for a map explode, the
    * `$unwind`, then the post-unwind `$match` when there is one. */
  def stages(postMatch: BDoc = BDoc.empty): Seq[BDoc] = {
    val kv =
      if (!mapKv) Nil
      else Seq(BDoc("$set" -> BDoc(KvDocField -> BDoc("$objectToArray" -> BString("$" + path)))))
    val unwind = BDoc("$unwind" -> BDoc(
      (Seq("path" -> (BString("$" + elementField): BsonValue),
        "preserveNullAndEmptyArrays" -> (BBool(outer): BsonValue)) ++
        posField.map(f => "includeArrayIndex" -> (BString(f): BsonValue))): _*))
    val post = if (postMatch.fields.isEmpty) Nil else Seq(BDoc("$match" -> postMatch))
    (kv :+ unwind) ++ post
  }

  /** Plan-description spelling. */
  def describe(post: BQuery): String =
    s"PushedUnwind: $path" + (if (mapKv) " MAP" else "") + (if (outer) " OUTER" else "") +
      (if (post == BQuery.True) "" else s" PostUnwindMatch: $post")

  /** The relation options this unwind is carried in ([[Unwind.fromOptions]]). */
  def options: Map[String, String] =
    Map(PathKey -> path, "unwind_outer" -> outer.toString) ++
      element.map("unwind_element" -> _) ++ pos.map("unwind_pos" -> _) ++
      (if (mapKv) Map("unwind_kind" -> "map") else Map.empty) ++ key.map("unwind_key" -> _)

  /** The wire-level fields only — the spelling pushed-join plans print. */
  override def toString: String = s"Unwind($path,$outer,$posField,$mapKv)"
}

object Unwind {
  /** The synthetic doc field a posexplode's element index lands in (the
    * `includeArrayIndex` target); the pos column rides `column_mapping`
    * to it. */
  val PosDocField = "__graft_pos"

  /** The synthetic doc field a map explode materializes each entry into —
    * `{k, v}`; the key and value columns ride `column_mapping` to
    * `__graft_kv.k` and `__graft_kv.v`. */
  val KvDocField = "__graft_kv"

  /** The option whose presence marks an unwound relation. */
  val PathKey = "unwind_path"

  /** One unwound row of a parent: `value` is the element set at the
    * element field (None: the parent's value stays as is), `index` its
    * original position (-1: not an element, a null pos). */
  final case class Elem(value: Option[BsonValue], index: Int)
  private val AsIs = Elem(None, -1)
  private val EmptyArray = Elem(Some(BNull), -1)

  /** `f` is the doc path `p` or a dotted path below it. */
  def atOrUnder(f: String, p: String): Boolean =
    f.startsWith(p) && (f.length == p.length || f.charAt(p.length) == '.')

  /** The unwind a relation's options carry ([[Unwind.options]]), if any. */
  def fromOptions(opts: Map[String, String]): Option[Unwind] =
    opts.get(PathKey).map(p => Unwind(p,
      outer = opts.get("unwind_outer").exists(_.toBoolean),
      mapKv = opts.get("unwind_kind").contains("map"),
      element = opts.get("unwind_element"),
      pos = opts.get("unwind_pos"),
      key = opts.get("unwind_key")))

  /** The `includeArrayIndex` value of a row: int64 as a real server emits
    * it, or (`narrow`) the int32 the pos column reads; null off-element. */
  def posValue(index: Int, narrow: Boolean): BsonValue =
    if (index < 0) BNull else if (narrow) BInt32(index) else BInt64(index.toLong)

  /** Narrow a wire document's int64 pos at `field` to the pos column's
    * int32 before decode (array indexes always fit; null/missing pass). */
  def narrowPos(d: BDoc, field: String = PosDocField): BDoc = d.get(field) match {
    case Some(BInt64(x)) => Updates.setField(d, field, BInt32(x.toInt))
    case _ => d
  }

  /** `docs` unwound and post-matched (without an unwind, only matched). */
  def expandAll(unwind: Option[Unwind], post: BQuery, docs: Iterator[BDoc],
      narrow: Boolean = false): Iterator[BDoc] = unwind match {
    case Some(u) => docs.flatMap(u.expander(post, narrow))
    case None => if (post == BQuery.True) docs else docs.filter(post.matches)
  }
}
