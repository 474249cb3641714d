package graft.query

import graft.bson._
import org.apache.spark.sql.sources._

/** Source-level query AST — the pushdown document of the reference engine
  * (semantics of hive/.../input/HiveMongoInputFormat.java:70-77,129-182:
  * =, <, <=, >, >= on dotted paths, AND-composed with an option-level
  * query via $and — reimplemented, not translated).
  */
sealed trait BQuery {
  def matches(doc: BDoc): Boolean
}

object BQuery {
  /** The string Spark READS for a stored value, when it reads as one
    * (RowCodec.toCatalyst: BString/BSymbol text, BObjectId hex, BRegex
    * pattern source).
    */
  private[query] def readString(v: BsonValue): Option[String] = v match {
    case BString(s) => Some(s)
    case BSymbol(s) => Some(s)
    case BObjectId(h) => Some(h)
    case BRegex(p, _) => Some(p)
    case _ => None
  }

  /** Compile a user `$regex` with Java's engine under PCRE's newline
    * convention: UNIX_LINES makes `.`/`^`/`$` recognize only `\n`, the
    * live server's default (see [[Regex]]). i/m/s/x map to their flag
    * constants. */
  private[query] def compileJavaDialect(pattern: String, opts: String):
      java.util.regex.Pattern = {
    var flags = java.util.regex.Pattern.UNIX_LINES
    if (opts.contains('i')) flags |= java.util.regex.Pattern.CASE_INSENSITIVE
    if (opts.contains('m')) flags |= java.util.regex.Pattern.MULTILINE
    if (opts.contains('s')) flags |= java.util.regex.Pattern.DOTALL
    if (opts.contains('x')) flags |= java.util.regex.Pattern.COMMENTS
    java.util.regex.Pattern.compile(pattern, flags)
  }

  /** `$regex` field semantics shared by [[Regex]]/[[RegexServer]]:
    * string/symbol leaves only, with the server's array traversal. */
  private[query] def regexMatch(d: BDoc, path: String,
      compiled: java.util.regex.Pattern): Boolean = {
    def one(v: BsonValue): Boolean = v match {
      case BString(s) => compiled.matcher(s).find()
      case BSymbol(s) => compiled.matcher(s).find()
      case _ => false
    }
    resolvePath(d, path)._1.exists {
      case BArray(items) => items.exists(one)
      case v => one(v)
    }
  }

  /** Server-faithful dotted-path resolution for the mongo-authority
    * operator nodes (r15 — closes the intermediate-segment traversal
    * divergence): walking `a.b`, an ARRAY at an intermediate segment
    * traverses its document elements (`{"m.a": 5}` matches
    * `m=[{a:5},{b:2}]`), a numeric segment ALSO indexes positionally,
    * and every dead branch (missing field, non-document array element
    * under a remaining segment, empty array) records a MISSING slot —
    * which `{p: null}` matches, mongo's rule. Returns (reachable leaf
    * values, whether any branch dead-ended). The Spark-read-semantics
    * nodes ([[Exists]] and the ReadStr/ReadLong/ReadTime family)
    * deliberately keep plain `getPath`: pushed filters address
    * schema-faithful storage and carry Spark's row semantics, never the
    * server's traversal.
    */
  private[query] def resolvePath(doc: BDoc, path: String): (Seq[BsonValue], Boolean) = {
    var missing = false
    def walk(v: BsonValue, segs: List[String]): Seq[BsonValue] = segs match {
      case Nil => Seq(v)
      case seg :: rest => v match {
        case BDoc(f) => f.get(seg) match {
          case Some(x) => walk(x, rest)
          case None => missing = true; Seq.empty
        }
        case BArray(items) =>
          val positional =
            if (seg.nonEmpty && seg.forall(_.isDigit) && seg.length < 10) {
              val i = seg.toInt
              if (i < items.size) walk(items(i), rest) else Seq.empty
            } else Seq.empty
          val traversed = items.flatMap {
            case ed: BDoc => ed.fields.get(seg) match {
              case Some(x) => walk(x, rest)
              case None => missing = true; Seq.empty
            }
            case _ => missing = true; Seq.empty
          }
          if (items.isEmpty) missing = true
          positional ++ traversed
        case _ => missing = true; Seq.empty
      }
    }
    val vs = walk(doc, path.split('.').toList)
    (vs, missing || vs.isEmpty)
  }

  /** Comparisons follow MongoDB semantics: only values in the same type
    * bracket compare (numbers cross-width); missing fields match
    * nothing; arrays traverse at BOTH intermediate segments and the
    * LEAF (`{p: {$lt: 5}}` matches `p=[3,9]` via element 3 — r15, the
    * last range-operator divergence). These are the OPTION-LEVEL query
    * semantics (mongo.input.query parity). Pushed Spark filters instead
    * compile to the [[ReadStr]] nodes below, which carry Spark's
    * post-read semantics.
    */
  private def cmp(doc: BDoc, path: String, v: BsonValue)(test: Int => Boolean): Boolean = {
    def one(actual: BsonValue): Boolean =
      actual.typeOrder == v.typeOrder && test(BsonOrdering.compare(actual, v))
    resolvePath(doc, path)._1.exists {
      case arr @ BArray(items) => one(arr) || items.exists(one)
      case actual => one(actual)
    }
  }

  /** Mongo EQUALITY over a field: whole-value bracket equality OR — when
    * the stored field is an array — containment of `v` as an ELEMENT
    * (the server's implicit array traversal: `{p: 5}` matches `p=[4,5]`,
    * and `{p: [1,2]}` matches both `p=[1,2]` and `p=[[1,2],3]`); dotted
    * paths traverse arrays at intermediate segments too ([[resolvePath]],
    * r15). `{p: null}` matches missing/dead-end slots, mongo's rule.
    * Used by the equality-shaped plain nodes ([[Eq]]/[[In]]/[[Ne]]/
    * [[Nin]]), so the file/fake transport agrees with what a live server
    * does with the rendered `$eq`/`$in`/`$ne`/`$nin`.
    */
  private def eqMatch(doc: BDoc, path: String, v: BsonValue): Boolean = {
    def whole(actual: BsonValue): Boolean =
      actual.typeOrder == v.typeOrder && BsonOrdering.compare(actual, v) == 0
    val (leaves, anyMissing) = resolvePath(doc, path)
    leaves.exists {
      case arr @ BArray(items) => whole(arr) || items.exists(whole)
      case actual => whole(actual)
    } || (v == BNull && anyMissing)
  }

  final case class Eq(path: String, v: BsonValue) extends BQuery {
    def matches(d: BDoc): Boolean = eqMatch(d, path, v)
  }
  final case class Lt(path: String, v: BsonValue) extends BQuery {
    def matches(d: BDoc): Boolean = cmp(d, path, v)(_ < 0)
  }
  final case class Lte(path: String, v: BsonValue) extends BQuery {
    def matches(d: BDoc): Boolean = cmp(d, path, v)(_ <= 0)
  }
  final case class Gt(path: String, v: BsonValue) extends BQuery {
    def matches(d: BDoc): Boolean = cmp(d, path, v)(_ > 0)
  }
  final case class Gte(path: String, v: BsonValue) extends BQuery {
    def matches(d: BDoc): Boolean = cmp(d, path, v)(_ >= 0)
  }
  final case class In(path: String, vs: Seq[BsonValue]) extends BQuery {
    def matches(d: BDoc): Boolean = vs.exists(v => eqMatch(d, path, v))
  }
  /** Mongo `$ne` semantics: matches when the field differs — INCLUDING
    * missing fields and other type brackets (unlike Spark's `!=`, which is
    * null-filtered; that is why [[FilterTranslator]] never produces Ne).
    * Like the server, array traversal applies: `$ne: 5` rejects `[4,5]`.
    */
  final case class Ne(path: String, v: BsonValue) extends BQuery {
    def matches(d: BDoc): Boolean = !eqMatch(d, path, v)
  }
  /** Mongo `$nin`: the negation of In, also matching missing fields. */
  final case class Nin(path: String, vs: Seq[BsonValue]) extends BQuery {
    def matches(d: BDoc): Boolean = !vs.exists(v => eqMatch(d, path, v))
  }
  /** Mongo `$regex` (partial match over string fields; options i/m/s/x).
    * Compiled with UNIX_LINES so `.`/`^`/`$` recognize ONLY `\n` —
    * PCRE's default newline convention, which a live server's matcher
    * uses (without it Java also breaks lines at `\r`, U+0085, and U+2028 too,
    * a silent dialect divergence on real text). Patterns outside the
    * PCRE∩Java common subset are gated by the `regex_dialect` scan
    * option ([[RegexDialect]]). */
  final case class Regex(path: String, pattern: String, opts: String = "") extends BQuery {
    @transient private lazy val compiled: java.util.regex.Pattern =
      BQuery.compileJavaDialect(pattern, opts)
    // Mongo $regex semantics: string/symbol fields only (option-level
    // queries), with the server's array traversal — `{p: /x/}` matches
    // `p=["ax"]`; pushed Spark string predicates use ReadStrRegex instead
    def matches(d: BDoc): Boolean =
      BQuery.regexMatch(d, path, compiled)
  }

  /** A `$regex` adjudicated SERVER-AUTHORITATIVE (`regex_dialect=server`,
    * [[RegexDialect.forTransport]]): the pattern is outside the PCRE∩Java
    * common subset and the user opted into the reference's verbatim ship
    * (MongoInputSplit.java:281) — it always renders on the wire
    * ([[graft.server.QueryDocs.render]]), so a live server never
    * re-checks it client-side. The matcher below runs only in the
    * in-memory test double, which approximates the server with Java's
    * dialect (documented). */
  final case class RegexServer(path: String, pattern: String, opts: String = "") extends BQuery {
    @transient private lazy val compiled: java.util.regex.Pattern =
      BQuery.compileJavaDialect(pattern, opts)
    def matches(d: BDoc): Boolean =
      BQuery.regexMatch(d, path, compiled)
  }
  /** Spark null-filter semantics: present AND non-null (what pushed
    * IsNotNull/IsNull compile to — Spark never re-checks an accepted
    * filter, so the node must carry SPARK's semantics; the wire form is
    * `{$ne: null}` / `{$eq: null}`, see [[graft.server.QueryDocs]]).
    * Option-level `$exists` JSON parses to [[ExistsField]] instead. */
  final case class Exists(path: String, yes: Boolean) extends BQuery {
    def matches(d: BDoc): Boolean = d.getPath(path).exists(_ != BNull) == yes
  }

  /** Mongo `$exists` semantics: field PRESENCE regardless of value —
    * `$exists: true` matches a field holding an explicit null, which
    * [[Exists]] (Spark null-filter semantics) must not. Produced only by
    * option-level JSON queries; renders verbatim as `$exists` on the
    * wire, matching what the reference's verbatim-shipped
    * mongo.input.query does on a live server. */
  final case class ExistsField(path: String, yes: Boolean) extends BQuery {
    // `$exists: true` matches when ANY traversal slot holds a value
    // (including explicit null) — server array-traversal semantics (r15)
    def matches(d: BDoc): Boolean =
      BQuery.resolvePath(d, path)._1.nonEmpty == yes
  }

  /** Mongo `$size`: an array field with exactly n elements (never a
    * non-array, mongo's rule); dotted paths traverse intermediate
    * arrays ([[BQuery.resolvePath]]). */
  final case class Size(path: String, n: Int) extends BQuery {
    def matches(d: BDoc): Boolean =
      BQuery.resolvePath(d, path)._1.exists {
        case BArray(items) => items.size == n
        case _ => false
      }
  }

  /** Mongo `$all`: the field's array contains every listed value (a
    * non-array field matches when it equals every value — mongo treats
    * it as a one-element array); `$all: []` matches nothing. A listed
    * value that is ITSELF an array also matches by whole-field equality
    * (mongo's rule: `{$all: [[1,2]]}` matches a field EQUAL to `[1,2]`
    * as well as one containing it as an element). */
  final case class All(path: String, vs: Seq[BsonValue]) extends BQuery {
    // `$all` ≡ `$and` of per-value equality matches — each listed value
    // may be satisfied by a DIFFERENT traversal slot/element (r15
    // review fix: `{"m.p": {$all: [1,2]}}` matches `m=[{p:1},{p:2}]` on
    // a live server), and each per-value match carries eqMatch's full
    // rules (element containment, whole-array equality for array
    // operands, null-matches-missing)
    def matches(d: BDoc): Boolean =
      vs.nonEmpty && vs.forall(v => BQuery.eqMatch(d, path, v))
  }

  /** Mongo `$elemMatch`: some element of the array field satisfies the
    * sub-query. `valueForm` = the `{$gt: 5, $lt: 9}` spelling, where
    * the operators apply to the ELEMENT itself (the sub-query is built
    * over the synthetic [[BQuery.ElemPath]]); otherwise the document
    * form, where sub-query paths are fields OF the element. */
  final case class ElemMatch(path: String, sub: BQuery, valueForm: Boolean)
      extends BQuery {
    def matches(d: BDoc): Boolean =
      BQuery.resolvePath(d, path)._1.exists {
        case BArray(items) =>
          if (valueForm) items.exists(v => sub.matches(BDoc(ElemPath -> v)))
          else items.exists {
            case ed: BDoc => sub.matches(ed)
            case _ => false
          }
        case _ => false
      }
  }

  /** Mongo field-level `$not`: matches when the wrapped operator
    * expression does NOT — including missing fields (mongo semantics;
    * the operator nodes return false there, so plain negation is
    * exact). The path is carried for the wire rendering ($not is
    * field-level in MQL). */
  final case class NotOp(path: String, sub: BQuery) extends BQuery {
    def matches(d: BDoc): Boolean = !sub.matches(d)
  }

  /** Mongo `$nor`: none of the branches match. */
  final case class Nor(qs: Seq[BQuery]) extends BQuery {
    def matches(d: BDoc): Boolean = !qs.exists(_.matches(d))
  }

  /** Mongo `$mod`: numeric field with value % divisor == remainder
    * (doubles truncate toward zero, mongo's rule; NaN/Inf never match). */
  final case class Mod(path: String, div: Long, rem: Long) extends BQuery {
    def matches(d: BDoc): Boolean = {
      def one(v: BsonValue): Boolean = v match {
        case BInt32(x) => x.toLong % div == rem
        case BInt64(x) => x % div == rem
        case BDouble(x) if !x.isNaN && !x.isInfinite => x.toLong % div == rem
        case _ => false
      }
      div != 0 && BQuery.resolvePath(d, path)._1.exists {
        case BArray(items) => items.exists(one)
        case v => one(v)
      }
    }
  }

  /** Mongo `$type` by canonical type alias (string form; `number`
    * covers int/long/double). An array field matches "array" AND
    * matches through its ELEMENTS (the server's traversal, r15 —
    * `{p: {$type: "string"}}` matches `p=["a", 1]`). */
  final case class TypeIs(path: String, names: Seq[String]) extends BQuery {
    private def one(v: BsonValue): Boolean = {
      val t = BQuery.typeAlias(v)
      names.contains(t) ||
        (names.contains("number") &&
          (t == "int" || t == "long" || t == "double" || t == "decimal"))
    }
    def matches(d: BDoc): Boolean =
      BQuery.resolvePath(d, path)._1.exists {
        case arr @ BArray(items) => one(arr) || items.exists(one)
        case v => one(v)
      }
  }

  /** The synthetic element path of a value-form [[ElemMatch]]. */
  val ElemPath = "@elem"

  /** Mongo's canonical `$type` alias of a stored value. */
  def typeAlias(v: BsonValue): String = v match {
    case _: BDouble => "double"
    case _: BString => "string"
    case _: BDoc => "object"
    case _: BArray => "array"
    case _: BBinary => "binData"
    case _: BObjectId => "objectId"
    case _: BBool => "bool"
    case _: BDate => "date"
    case BNull => "null"
    case _: BRegex => "regex"
    case _: BInt32 => "int"
    case _: BTimestamp => "timestamp"
    case _: BInt64 => "long"
    case _: BSymbol => "symbol"
    case BMinKey => "minKey"
    case BMaxKey => "maxKey"
    case other => other.getClass.getSimpleName.stripPrefix("B").toLowerCase
  }
  final case class And(qs: Seq[BQuery]) extends BQuery {
    def matches(d: BDoc): Boolean = qs.forall(_.matches(d))
  }
  final case class Or(qs: Seq[BQuery]) extends BQuery {
    def matches(d: BDoc): Boolean = qs.exists(_.matches(d))
  }
  case object True extends BQuery {
    def matches(d: BDoc): Boolean = true
  }

  /** Range bound for a partition: lo <= key < hi under the CROSS-TYPE
    * total order (BsonOrdering), with a missing key treated as null —
    * the semantics of the reference's default `$min`/`$max` cursor
    * bounds (MongoInputSplit.java:272-299), which walk the index's
    * cross-type order, NOT the type-bracketed `$gte`/`$lt` of a user
    * range query (MongoCollectionSplitter.java:243-295). Bracketed
    * semantics here would silently drop every doc whose key type
    * differs from a boundary's bracket (or is absent) from ALL
    * partitions, since split boundaries are sampled in BsonOrdering
    * order and each partition re-checks its range.
    */
  final case class KeyRange(path: String, lo: Option[BsonValue], hi: Option[BsonValue]) extends BQuery {
    def matches(d: BDoc): Boolean = {
      val k = d.getPath(path).getOrElse(BNull)
      lo.forall(l => BsonOrdering.compare(k, l) >= 0) &&
        hi.forall(h => BsonOrdering.compare(k, h) < 0)
    }

    /** Would a doc whose key is `v` land in this range? (partition
      * pruning against runtime IN-sets — no doc construction needed).
      */
    def containsValue(v: BsonValue): Boolean =
      lo.forall(l => BsonOrdering.compare(v, l) >= 0) &&
        hi.forall(h => BsonOrdering.compare(v, h) < 0)
  }

  /** Spark-read-semantics string comparison: the stored value is compared
    * AS THE STRING SPARK READS it (BString/BSymbol text, BObjectId hex,
    * BRegex pattern source — [[readString]]; other brackets read as
    * non-strings and never match). Produced ONLY by [[FilterTranslator]]
    * and the runtime-filter path: accepted pushed filters are never
    * re-checked by Spark, so they must hold SPARK semantics over the
    * scan's OUTPUT column — a foreign dump's ObjectId `_id` reads as its
    * hex string, and a pushed `_id = '<hex>'` (or an `_id` hex range from
    * [[graft.plans.ObjectIdRangeRule]]) must keep exactly the rows the
    * post-read comparison would. Option-level JSON queries keep Mongo
    * bracket semantics via the plain nodes above.
    */
  final case class ReadStrCmp(path: String, s: String, op: ReadStrOp) extends BQuery {
    // Spark orders strings by UTF-8 BYTES (code-point order); Java's
    // String.compareTo is UTF-16 code-unit order and disagrees for
    // supplementary characters vs U+E000..U+FFFF — an accepted filter
    // compared the Java way would silently keep/drop the wrong rows
    @transient private lazy val target =
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readString).exists(rs => op.holds(
        org.apache.spark.unsafe.types.UTF8String.fromString(rs).compareTo(target)))
  }
  /** The operator of a read-value comparison ([[ReadStrCmp]],
    * [[ReadLongCmp]], [[ReadTimeCmp]]). */
  sealed trait ReadStrOp {
    /** Whether a comparison result (read value vs literal) satisfies it. */
    def holds(c: Int): Boolean = this match {
      case ReadStrOp.Eq => c == 0
      case ReadStrOp.Lt => c < 0
      case ReadStrOp.Lte => c <= 0
      case ReadStrOp.Gt => c > 0
      case ReadStrOp.Gte => c >= 0
    }
    /** The same comparison as a BSON bracket node against `v`. */
    def bracket(path: String, v: BsonValue): BQuery = this match {
      case ReadStrOp.Eq => Eq(path, v)
      case ReadStrOp.Lt => Lt(path, v)
      case ReadStrOp.Lte => Lte(path, v)
      case ReadStrOp.Gt => Gt(path, v)
      case ReadStrOp.Gte => Gte(path, v)
    }
  }
  object ReadStrOp {
    case object Eq extends ReadStrOp
    case object Lt extends ReadStrOp
    case object Lte extends ReadStrOp
    case object Gt extends ReadStrOp
    case object Gte extends ReadStrOp
  }

  /** Spark-read-semantics IN over strings (see [[ReadStrCmp]]). */
  final case class ReadStrIn(path: String, ss: Seq[String]) extends BQuery {
    @transient private lazy val set = ss.toSet
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readString).exists(set.contains)
  }

  /** Spark-read-semantics regex (startsWith/endsWith/contains pushdowns)
    * over the READ-string (see [[ReadStrCmp]]).
    */
  final case class ReadStrRegex(path: String, pattern: String) extends BQuery {
    @transient private lazy val compiled =
      java.util.regex.Pattern.compile(pattern)
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readString).exists(s => compiled.matcher(s).find())
  }

  /** The long Spark READS for a stored value under a LongType column
    * (RowCodec.toCatalyst: int/long widths and BDate milliseconds; other
    * storage is unreadable as long and never matches).
    */
  private[query] def readLong(v: BsonValue): Option[Long] = v match {
    case BInt32(x) => Some(x.toLong)
    case BInt64(x) => Some(x)
    case BDate(ms) => Some(ms)
    case _ => None
  }

  /** Spark-read-semantics comparison for LONG literals: a LongType
    * column may be backed by int/long OR BDate storage (RowCodec reads
    * BDate as its milliseconds), and date storage sits in a different
    * BSON bracket than numbers — a bracketed `Eq(BInt64)` silently
    * drops the date-backed rows an accepted filter must keep. Produced
    * ONLY by [[FilterTranslator]] / the runtime-filter path, like
    * [[ReadStrCmp]].
    */
  final case class ReadLongCmp(path: String, x: Long, op: ReadStrOp) extends BQuery {
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readLong).exists(rl => op.holds(java.lang.Long.compare(rl, x)))
  }

  /** Spark-read-semantics IN over longs (see [[ReadLongCmp]]). */
  final case class ReadLongIn(path: String, xs: Seq[Long]) extends BQuery {
    @transient private lazy val set = xs.toSet
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readLong).exists(set.contains)
  }

  /** The microseconds Spark READS for a stored value under a
    * TimestampType column (RowCodec.toCatalyst: BDate millis and
    * BTimestamp seconds — TWO brackets that read into one type; other
    * storage is unreadable as a timestamp and never matches).
    */
  private[query] def readMicros(v: BsonValue): Option[Long] = v match {
    case BDate(ms) => Some(ms * 1000L)
    case BTimestamp(s, _) => Some(s.toLong * 1000000L)
    case _ => None
  }

  /** Spark-read-semantics comparison for TIMESTAMP literals: a
    * TimestampType column may be backed by BDate OR BTimestamp storage,
    * which sit in DIFFERENT BSON brackets — a bracketed `Eq(BDate)`
    * silently drops the BTimestamp-backed rows an accepted filter must
    * keep. Produced ONLY by [[FilterTranslator]], like [[ReadStrCmp]];
    * never renders server-side (the server scan builder rewrites it to
    * the exact bracket form under `assume_uniform_storage`, where every
    * stored value is a BDate — see the builder).
    */
  final case class ReadTimeCmp(path: String, micros: Long, op: ReadStrOp) extends BQuery {
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readMicros)
        .exists(us => op.holds(java.lang.Long.compare(us, micros)))
  }

  /** Spark-read-semantics IN over timestamp micros (see [[ReadTimeCmp]]). */
  final case class ReadTimeIn(path: String, micros: Seq[Long]) extends BQuery {
    @transient private lazy val set = micros.toSet
    def matches(d: BDoc): Boolean =
      d.getPath(path).flatMap(readMicros).exists(set.contains)
  }

  /** Rewrite read-semantics nodes to their exact BRACKET forms — sound
    * ONLY under uniform storage (every stored value is the ONE type this
    * engine writes: Timestamp→BDate, Long→int64, String→BString), where
    * the read semantics coincide with the single bracket's. The server
    * scan builder applies this under `assume_uniform_storage` so pushed
    * Long/Timestamp/String filters render into `$match`/cursor queries
    * (and the grouped/join pushdowns' fully-renderable gates accept
    * them) instead of staying client-side residuals.
    *
    * Per node:
    *  - ReadTime*: BDate-only storage — all comparisons (read-µs order
    *    isomorphic to date-bracket millis). Sub-ms literals keep their
    *    node (rare; stays residual).
    *  - ReadLong*: int64-only storage — all comparisons (integer order
    *    IS the numeric bracket's).
    *  - ReadStr EQUALITY and the anchored-literal regexes — equality is
    *    order-free, and the translator's regexes are `\A`/`\z`-anchored
    *    QUOTED literals (PCRE-compatible). Read-string RANGE comparisons
    *    rewrite ONLY when the bound is entirely ASCII (< U+0080): Spark
    *    orders strings by UTF-8 BYTES (code-point order) while the
    *    engine bracket (Java compareTo, UTF-16 units) and a binary
    *    server collation can disagree — but only when comparing a
    *    supplementary character against one in [U+E000, U+FFFF]. At the
    *    FIRST position deciding a comparison against an all-ASCII bound,
    *    the other string's unit is either ASCII (all orders agree
    *    trivially) or ≥ U+0080 in every encoding (greater than the
    *    bound's ASCII unit in UTF-8 bytes AND UTF-16 units alike), and
    *    the shorter-prefix rule is shared — so trichotomy against an
    *    ASCII bound is order-independent and the bracket form is exact.
    *    A non-ASCII bound keeps the read-semantics node (client-side).
    */
  def uniformReadBracket(q: BQuery): BQuery = q match {
    case And(qs) => And(qs.map(uniformReadBracket))
    case Or(qs) => Or(qs.map(uniformReadBracket))
    case Nor(qs) => Nor(qs.map(uniformReadBracket))
    case ReadTimeCmp(p, us, op) if us % 1000L == 0 => op.bracket(p, BDate(us / 1000L))
    case ReadTimeIn(p, us) if us.forall(_ % 1000L == 0) =>
      In(p, us.map(x => BDate(x / 1000L)))
    case ReadLongCmp(p, x, op) => op.bracket(p, BInt64(x))
    case ReadLongIn(p, xs) => In(p, xs.map(BInt64.apply))
    // equality, or an ASCII-bounded range: trichotomy against the bound
    // agrees across UTF-8-byte, UTF-16-unit, and server binary orders
    // (see above)
    case ReadStrCmp(p, s, op) if op == ReadStrOp.Eq || s.forall(_ < 0x80) =>
      op.bracket(p, BString(s))
    case ReadStrIn(p, ss) => In(p, ss.map(BString.apply))
    case ReadStrRegex(p, pattern) => Regex(p, pattern)
    case other => other
  }

  /** True when `s` could be the hex of an ObjectId (24 hex digits). */
  def isHex24(s: String): Boolean =
    s.length == 24 && s.forall(c => Character.digit(c, 16) >= 0)

  /** Every stored value whose READ-string equals `s`, as probe values for
    * shard routing / partition pruning. BRegex is deliberately absent:
    * its options field makes the probe set unbounded — range callers use
    * the BRegex(s, *) interval instead, and `_id` routing relies on the
    * BSON rule that `_id` may not hold a regex (or array/undefined).
    */
  def readEqProbes(s: String): Seq[BsonValue] =
    Seq(BString(s), BSymbol(s)) ++ (if (isHex24(s)) Seq(BObjectId(s)) else Nil)

  /** Top-level field heads referenced by a query (for projected decode). */
  def fieldHeads(q: BQuery): Set[String] = q match {
    case Eq(p, _) => Set(p.split('.').head)
    case Lt(p, _) => Set(p.split('.').head)
    case Lte(p, _) => Set(p.split('.').head)
    case Gt(p, _) => Set(p.split('.').head)
    case Gte(p, _) => Set(p.split('.').head)
    case In(p, _) => Set(p.split('.').head)
    case Ne(p, _) => Set(p.split('.').head)
    case Nin(p, _) => Set(p.split('.').head)
    case Regex(p, _, _) => Set(p.split('.').head)
    case RegexServer(p, _, _) => Set(p.split('.').head)
    case Exists(p, _) => Set(p.split('.').head)
    case ExistsField(p, _) => Set(p.split('.').head)
    case Size(p, _) => Set(p.split('.').head)
    case All(p, _) => Set(p.split('.').head)
    case ElemMatch(p, _, _) => Set(p.split('.').head)
    case NotOp(p, _) => Set(p.split('.').head)
    case Nor(qs) => qs.flatMap(fieldHeads).toSet
    case Mod(p, _, _) => Set(p.split('.').head)
    case TypeIs(p, _) => Set(p.split('.').head)
    case KeyRange(p, _, _) => Set(p.split('.').head)
    case ReadStrCmp(p, _, _) => Set(p.split('.').head)
    case ReadStrIn(p, _) => Set(p.split('.').head)
    case ReadStrRegex(p, _) => Set(p.split('.').head)
    case ReadLongCmp(p, _, _) => Set(p.split('.').head)
    case ReadLongIn(p, _) => Set(p.split('.').head)
    case ReadTimeCmp(p, _, _) => Set(p.split('.').head)
    case ReadTimeIn(p, _) => Set(p.split('.').head)
    case And(qs) => qs.flatMap(fieldHeads).toSet
    case Or(qs) => qs.flatMap(fieldHeads).toSet
    case True => Set.empty
  }

  /** FULL dotted field paths referenced by a query — the projected
    * decoder's trie input ([[graft.bson.BsonCodec.Proj]]): a query on
    * `a.b` needs only that subpath materialized, not all of `a`.
    * [[fieldHeads]] remains the coarse top-level form for callers that
    * key on heads.
    *
    * COMPLETENESS CONTRACT: every path a node's `matches()` can read
    * MUST be reported here — the live driver's residual re-check
    * projects the cursor to the HEAD fields of these paths
    * (MongoDriverClient find), so an unreported path would be re-checked
    * against a projected-away document and silently drop rows. Any new
    * node needs a case here AND survives the MongoDriverSpec property
    * ("residual re-check is exact over the widened HEAD projection").
    */
  def fieldPaths(q: BQuery): Set[String] = q match {
    case Eq(p, _) => Set(p)
    case Lt(p, _) => Set(p)
    case Lte(p, _) => Set(p)
    case Gt(p, _) => Set(p)
    case Gte(p, _) => Set(p)
    case In(p, _) => Set(p)
    case Ne(p, _) => Set(p)
    case Nin(p, _) => Set(p)
    case Regex(p, _, _) => Set(p)
    case RegexServer(p, _, _) => Set(p)
    case Exists(p, _) => Set(p)
    case ExistsField(p, _) => Set(p)
    case Size(p, _) => Set(p)
    case All(p, _) => Set(p)
    // the array's ELEMENTS carry the sub-query's fields: decode whole
    case ElemMatch(p, _, _) => Set(p)
    case NotOp(p, sub) => fieldPaths(sub) + p
    case Nor(qs) => qs.flatMap(fieldPaths).toSet
    case Mod(p, _, _) => Set(p)
    case TypeIs(p, _) => Set(p)
    case KeyRange(p, _, _) => Set(p)
    case ReadStrCmp(p, _, _) => Set(p)
    case ReadStrIn(p, _) => Set(p)
    case ReadStrRegex(p, _) => Set(p)
    case ReadLongCmp(p, _, _) => Set(p)
    case ReadLongIn(p, _) => Set(p)
    case ReadTimeCmp(p, _, _) => Set(p)
    case ReadTimeIn(p, _) => Set(p)
    case And(qs) => qs.flatMap(fieldPaths).toSet
    case Or(qs) => qs.flatMap(fieldPaths).toSet
    case True => Set.empty
  }

  def and(a: BQuery, b: BQuery): BQuery = (a, b) match {
    case (True, x) => x
    case (x, True) => x
    case (And(xs), And(ys)) => And(xs ++ ys)
    case (And(xs), y) => And(xs :+ y)
    case (x, And(ys)) => And(x +: ys)
    case (x, y) => And(Seq(x, y))
  }

  /** Rewrite every field path through `f`; None when any node's path is
    * unmapped (f returns None) or the node kind is not rewritten
    * (ElemMatch/NotOp/Nor/KeyRange — conservative, callers skip). */
  private def rewritePaths(q: BQuery, f: String => Option[String]): Option[BQuery] = {
    def seqOpt(qs: Seq[BQuery]): Option[Seq[BQuery]] = {
      val rs = qs.map(rewritePaths(_, f))
      if (rs.contains(None)) None else Some(rs.flatten)
    }
    q match {
      case Eq(p, v) => f(p).map(Eq(_, v))
      case Lt(p, v) => f(p).map(Lt(_, v))
      case Lte(p, v) => f(p).map(Lte(_, v))
      case Gt(p, v) => f(p).map(Gt(_, v))
      case Gte(p, v) => f(p).map(Gte(_, v))
      case In(p, vs) => f(p).map(In(_, vs))
      case Ne(p, v) => f(p).map(Ne(_, v))
      case Nin(p, vs) => f(p).map(Nin(_, vs))
      case Regex(p, pat, o) => f(p).map(Regex(_, pat, o))
      case RegexServer(p, pat, o) => f(p).map(RegexServer(_, pat, o))
      case Exists(p, yes) => f(p).map(Exists(_, yes))
      case ExistsField(p, yes) => f(p).map(ExistsField(_, yes))
      case Size(p, n) => f(p).map(Size(_, n))
      case All(p, vs) => f(p).map(All(_, vs))
      case Mod(p, d, r) => f(p).map(Mod(_, d, r))
      case TypeIs(p, ts) => f(p).map(TypeIs(_, ts))
      case ReadStrCmp(p, s, op) => f(p).map(ReadStrCmp(_, s, op))
      case ReadStrIn(p, ss) => f(p).map(ReadStrIn(_, ss))
      case ReadStrRegex(p, pat) => f(p).map(ReadStrRegex(_, pat))
      case ReadLongCmp(p, x, op) => f(p).map(ReadLongCmp(_, x, op))
      case ReadLongIn(p, xs) => f(p).map(ReadLongIn(_, xs))
      case ReadTimeCmp(p, us, op) => f(p).map(ReadTimeCmp(_, us, op))
      case ReadTimeIn(p, us) => f(p).map(ReadTimeIn(_, us))
      case And(qs) => seqOpt(qs).map(And(_))
      case Or(qs) => seqOpt(qs).map(Or(_))
      case True => Some(True)
      case _ => None // ElemMatch / NotOp / Nor / KeyRange
    }
  }

  /** Pre-unwind PARENT-pruning filter derived from a POST-unwind match:
    * under a NON-OUTER `$unwind`, a parent document contributes rows iff
    * some array element — or the scalar stored at the path (`$unwind`
    * passes non-arrays through) — satisfies the post-unwind query. The
    * pure element-path conjuncts MERGE into one superset test per form:
    * `Or(ElemMatch(path, C1' ∧ C2' ∧ ...), C1 ∧ C2 ∧ ...)` — "∃ one
    * element satisfying ALL of them" is the exact contribution test on
    * array storage (this matcher and the wire agree; tighter than
    * per-conjunct exists-tests, which would keep a parent whose
    * matching elements differ per conjunct) — and the as-is arm covers
    * non-array storage, where the path holds the element verbatim.
    * Conjuncts mixing element and parent columns (one Spark disjunction
    * can) fall out of the merge — dropping a conjunct only widens the
    * superset. The result is a
    * PRUNE, never the filter: the exact post-unwind match still runs
    * after the unwind, so over-matching here costs wire bytes, not
    * correctness; under-matching is impossible by the per-case argument
    * above. OUTER unwinds never prune (a parent with a never-matching
    * array still owes its null-element row to a null-matching post
    * query); callers gate on non-outer.
    */
  def parentPrune(post: BQuery, path: String): BQuery = {
    val prefix = path + "."
    val conjuncts = post match {
      case And(qs) => qs
      case True => Seq.empty
      case one => Seq(one)
    }
    // Same-path conjuncts MERGE into one ElemMatch: "∃ one element
    // satisfying ALL of them" is the exact contribution test for array
    // storage (a per-conjunct split would only assert each exists on
    // SOME element — a wider superset); the as-is arm conjoins the
    // originals for scalar storage. A conjunct that fails to rewrite
    // falls out of the merge — dropping it only widens.
    def merged(cs: Seq[(BQuery, BQuery)], valueForm: Boolean): BQuery =
      cs match {
        case Seq() => True
        case pairs =>
          val subs = pairs.map(_._2)
          val origs = pairs.map(_._1)
          Or(Seq(
            ElemMatch(path,
              if (subs.size == 1) subs.head else And(subs), valueForm),
            if (origs.size == 1) origs.head else And(origs)))
      }
    val valuePairs = conjuncts.flatMap { c =>
      if (fieldPaths(c) == Set(path))
        rewritePaths(c, p => if (p == path) Some(ElemPath) else None)
          .map(c -> _)
      else None
    }
    val docPairs = conjuncts.flatMap { c =>
      val ps = fieldPaths(c)
      if (ps.nonEmpty && ps.forall(_.startsWith(prefix)))
        rewritePaths(c, p =>
          if (p.startsWith(prefix)) Some(p.stripPrefix(prefix)) else None)
          .map(c -> _)
      else None
    }
    and(merged(valuePairs, valueForm = true),
      merged(docPairs, valueForm = false))
  }
}

/** Catalyst `Filter` -> BQuery translator with residual split: the DSv2
  * contract is (accepted = evaluated at the source, residual = re-checked
  * by Spark). Unlike the reference — which silently DROPS untranslatable
  * predicates and relies on the host engine re-checking everything
  * (HiveMongoInputFormat.java:162-178) — untranslatable filters are
  * returned as residuals explicitly.
  */
object FilterTranslator {

  def toBson(v: Any): Option[BsonValue] = v match {
    case null => Some(BNull)
    case x: Int => Some(BInt32(x))
    case x: Long => Some(BInt64(x))
    case x: Short => Some(BInt32(x.toInt))
    case x: Byte => Some(BInt32(x.toInt))
    case x: Double => Some(BDouble(x))
    case x: Float => Some(BDouble(x.toDouble))
    case x: String => Some(BString(x))
    case x: Boolean => Some(BBool(x))
    // java.sql.Timestamp / Instant deliberately ABSENT: a TimestampType
    // column reads from TWO storage brackets (BDate millis, BTimestamp
    // seconds), so timestamp comparisons compile to the read-semantics
    // ReadTime* nodes in [[translate]] — a raw BDate literal here would
    // drop BTimestamp-backed rows Spark's read keeps
    // java.sql.Date / LocalDate deliberately ABSENT: a DateType column
    // reads as the stored BDate's epoch-DAY floor, so date comparisons
    // compile to day-window RANGES in [[translate]] — a raw-millis
    // literal here would drop non-midnight storages Spark's read keeps
    // (and java.sql.Date.getTime is JVM-timezone-dependent)
    case x: Array[Byte] => Some(BBinary(x))
    case _ => None
  }

  /** Epoch MICROS of a v1 timestamp literal; None for sub-microsecond
    * values (TimestampType is µs — Spark-produced literals always fit,
    * a hand-built sub-µs Timestamp stays residual). */
  private def timeMicros(v: Any): Option[Long] = {
    def ofInstant(i: java.time.Instant): Option[Long] =
      if (i.getNano % 1000 == 0)
        Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          (i.getNano / 1000).toLong))
      else None
    v match {
      case x: java.sql.Timestamp => ofInstant(x.toInstant)
      case x: java.time.Instant => ofInstant(x)
      case _ => None
    }
  }

  /** Epoch day of a v1 date literal (tz-independent — getTime is not). */
  private def epochDay(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }
  private def dayLo(day: Long): BsonValue = BDate(day * 86400000L)
  private def dayHi(day: Long): BsonValue = BDate((day + 1) * 86400000L)
  /** `col = DATE d` over a DateType read: the stored millis fall in the
    * day's window — exact for ANY BDate storage. */
  private def dayEq(p: String, day: Long): BQuery =
    BQuery.And(Seq(BQuery.Gte(p, dayLo(day)), BQuery.Lt(p, dayHi(day))))

  /** Translate one filter; None = not pushable (becomes residual).
    * `m` remaps Spark column names to document field paths
    * (mongo.columns.mapping analog, HiveMongoInputFormat.java:211-240).
    */
  def translate(f: Filter, m: Map[String, String] = Map.empty): Option[BQuery] = {
    // a dotted reference under a MAPPED head composes the head's doc
    // path with the verbatim nested tail (struct field names ARE doc
    // field names) — the same convention FieldResolve uses for group/
    // sort/join/sample keys; an exact-name mapping entry wins
    def col(a: String): String = m.getOrElse(a, {
      val i = a.indexOf('.')
      if (i > 0) m.get(a.substring(0, i)).map(_ + a.substring(i)).getOrElse(a)
      else a
    })
    import BQuery.{ReadLongCmp, ReadStrCmp, ReadStrOp, ReadTimeCmp}
    // String and LONG comparisons carry SPARK read semantics (ReadStr*/
    // ReadLong* nodes): a string column may be backed by BString/BSymbol/
    // BObjectId/BRegex storage and a LongType column by int/long OR BDate
    // storage, and an accepted filter must keep exactly the rows Spark's
    // own comparison over the READ value would. Other values use the
    // Mongo-bracket nodes (int/double literals: every readable storage is
    // in the number bracket, which compares cross-width; timestamp
    // literals: BDate compares against both date-bracket storages).
    f match {
      // Spark's `a = NULL` is never true (null-valued predicate filters the
      // row) — push a match-nothing query, not Eq(BNull) which would match
      // docs holding an explicit null
      case EqualTo(_, null) => Some(BQuery.In("_", Seq.empty))
      case EqualTo(a, v: String) => Some(ReadStrCmp(col(a), v, ReadStrOp.Eq))
      case EqualTo(a, v: Long) => Some(ReadLongCmp(col(a), v, ReadStrOp.Eq))
      // DATE literals (a DateType column — Spark casts the literal to
      // the column type): compile to DAY-WINDOW ranges over the stored
      // millis, exact for any BDate storage (see toBson's date note)
      case EqualTo(a, v) if epochDay(v).isDefined =>
        epochDay(v).map(d => dayEq(col(a), d))
      // TIMESTAMP literals: read semantics over BOTH readable storages
      // (BDate millis, BTimestamp seconds) — a bracketed Eq(BDate) would
      // drop BTimestamp-backed rows Spark's read keeps
      case EqualTo(a, v) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => ReadTimeCmp(col(a), us, ReadStrOp.Eq))
      case EqualTo(a, v) => toBson(v).map(BQuery.Eq(col(a), _))
      case EqualNullSafe(a, null) => Some(BQuery.Exists(col(a), yes = false))
      case EqualNullSafe(a, v: String) => Some(ReadStrCmp(col(a), v, ReadStrOp.Eq))
      case EqualNullSafe(a, v: Long) => Some(ReadLongCmp(col(a), v, ReadStrOp.Eq))
      case EqualNullSafe(a, v) if epochDay(v).isDefined =>
        epochDay(v).map(d => dayEq(col(a), d))
      case EqualNullSafe(a, v) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => ReadTimeCmp(col(a), us, ReadStrOp.Eq))
      case EqualNullSafe(a, v) => toBson(v).map(BQuery.Eq(col(a), _))
      case GreaterThan(a, v: String) => Some(ReadStrCmp(col(a), v, ReadStrOp.Gt))
      case GreaterThan(a, v: Long) => Some(ReadLongCmp(col(a), v, ReadStrOp.Gt))
      // read-day > d  <=>  stored millis >= (d+1)'s start
      case GreaterThan(a, v) if epochDay(v).isDefined =>
        epochDay(v).map(d => BQuery.Gte(col(a), dayHi(d)))
      case GreaterThan(a, v) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => ReadTimeCmp(col(a), us, ReadStrOp.Gt))
      case GreaterThan(a, v) => toBson(v).map(BQuery.Gt(col(a), _))
      case GreaterThanOrEqual(a, v: String) => Some(ReadStrCmp(col(a), v, ReadStrOp.Gte))
      case GreaterThanOrEqual(a, v: Long) => Some(ReadLongCmp(col(a), v, ReadStrOp.Gte))
      case GreaterThanOrEqual(a, v) if epochDay(v).isDefined =>
        epochDay(v).map(d => BQuery.Gte(col(a), dayLo(d)))
      case GreaterThanOrEqual(a, v) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => ReadTimeCmp(col(a), us, ReadStrOp.Gte))
      case GreaterThanOrEqual(a, v) => toBson(v).map(BQuery.Gte(col(a), _))
      case LessThan(a, v: String) => Some(ReadStrCmp(col(a), v, ReadStrOp.Lt))
      case LessThan(a, v: Long) => Some(ReadLongCmp(col(a), v, ReadStrOp.Lt))
      case LessThan(a, v) if epochDay(v).isDefined =>
        epochDay(v).map(d => BQuery.Lt(col(a), dayLo(d)))
      case LessThan(a, v) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => ReadTimeCmp(col(a), us, ReadStrOp.Lt))
      case LessThan(a, v) => toBson(v).map(BQuery.Lt(col(a), _))
      case LessThanOrEqual(a, v: String) => Some(ReadStrCmp(col(a), v, ReadStrOp.Lte))
      case LessThanOrEqual(a, v: Long) => Some(ReadLongCmp(col(a), v, ReadStrOp.Lte))
      case LessThanOrEqual(a, v) if epochDay(v).isDefined =>
        epochDay(v).map(d => BQuery.Lt(col(a), dayHi(d)))
      case LessThanOrEqual(a, v) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => ReadTimeCmp(col(a), us, ReadStrOp.Lte))
      case LessThanOrEqual(a, v) => toBson(v).map(BQuery.Lte(col(a), _))
      case In(a, vs) =>
        // Spark: `a IN (..., NULL)` can never be satisfied BY the null —
        // drop nulls from the list (empty list = matches nothing, which is
        // exactly Spark's result for an all-null list)
        val nonNull = vs.toSeq.filter(_ != null)
        if (nonNull.forall(_.isInstanceOf[String]))
          Some(BQuery.ReadStrIn(col(a), nonNull.map(_.asInstanceOf[String])))
        else if (nonNull.forall(_.isInstanceOf[Long]))
          Some(BQuery.ReadLongIn(col(a), nonNull.map(_.asInstanceOf[Long])))
        else if (nonNull.nonEmpty && nonNull.forall(v => epochDay(v).isDefined))
          // IN over dates: the union of the day windows
          Some(BQuery.Or(nonNull.flatMap(epochDay).map(d => dayEq(col(a), d))))
        else if (nonNull.nonEmpty && nonNull.forall(v => timeMicros(v).isDefined))
          Some(BQuery.ReadTimeIn(col(a), nonNull.flatMap(timeMicros)))
        else {
          val bs = nonNull.map(toBson)
          if (bs.forall(_.isDefined)) Some(BQuery.In(col(a), bs.flatten)) else None
        }
      case IsNull(a) => Some(BQuery.Exists(col(a), yes = false))
      case IsNotNull(a) => Some(BQuery.Exists(col(a), yes = true))
      // string predicates as anchored regexes (\A/\z, not ^/$ — `$` would
      // also match before a trailing newline, unlike endsWith); missing
      // fields don't match, same as Spark's null-filtering
      case StringStartsWith(a, v) =>
        Some(BQuery.ReadStrRegex(col(a), "\\A" + java.util.regex.Pattern.quote(v)))
      case StringEndsWith(a, v) =>
        Some(BQuery.ReadStrRegex(col(a), java.util.regex.Pattern.quote(v) + "\\z"))
      case StringContains(a, v) =>
        Some(BQuery.ReadStrRegex(col(a), java.util.regex.Pattern.quote(v)))
      case And(l, r) =>
        (translate(l, m), translate(r, m)) match {
          case (Some(x), Some(y)) => Some(BQuery.and(x, y))
          case _ => None // partial AND push would need care; keep whole as residual
        }
      case Or(l, r) =>
        for (x <- translate(l, m); y <- translate(r, m)) yield BQuery.Or(Seq(x, y))
      case Not(EqualTo(a, v: String)) =>
        Some(BQuery.Or(Seq(ReadStrCmp(col(a), v, ReadStrOp.Lt),
          ReadStrCmp(col(a), v, ReadStrOp.Gt))))
      case Not(EqualTo(a, v: Long)) =>
        Some(BQuery.Or(Seq(ReadLongCmp(col(a), v, ReadStrOp.Lt),
          ReadLongCmp(col(a), v, ReadStrOp.Gt))))
      case Not(EqualTo(a, v)) if epochDay(v).isDefined =>
        epochDay(v).map(d => BQuery.Or(Seq(
          BQuery.Lt(col(a), dayLo(d)), BQuery.Gte(col(a), dayHi(d)))))
      case Not(EqualTo(a, v)) if timeMicros(v).isDefined =>
        timeMicros(v).map(us => BQuery.Or(Seq(
          ReadTimeCmp(col(a), us, ReadStrOp.Lt),
          ReadTimeCmp(col(a), us, ReadStrOp.Gt))))
      case Not(EqualTo(a, v)) =>
        toBson(v).map(b => BQuery.Or(Seq(BQuery.Lt(col(a), b), BQuery.Gt(col(a), b))))
      case _ => None
    }
  }

  /** Split filters into (pushed query, accepted filters, residual filters). */
  def split(filters: Array[Filter],
      mapping: Map[String, String] = Map.empty): (BQuery, Array[Filter], Array[Filter]) = {
    val results = filters.map(f => f -> translate(f, mapping))
    val accepted = results.collect { case (f, Some(_)) => f }
    val residual = results.collect { case (f, None) => f }
    val query = results.flatMap(_._2).foldLeft[BQuery](BQuery.True)(BQuery.and)
    (query, accepted, residual)
  }
}

/** Tiny JSON query parser for the option-level `query` (the analog of
  * `mongo.input.query`, MongoConfigUtil.java:717-733). Supports
  * {"field": value} equality and {"field": {"$gt": v, ...}} operators,
  * plus {"$and"/"$or": [...]}. Uses json4s (ships with Spark).
  */
object BQueryJson {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def parse(json: String): BQuery = fromJObject(JsonMethods.parse(json).asInstanceOf[JObject])

  private def fromJObject(o: JObject): BQuery = {
    val parts = o.obj.map {
      case ("$and", JArray(items)) =>
        BQuery.And(items.map(i => fromJObject(i.asInstanceOf[JObject])))
      case ("$or", JArray(items)) =>
        BQuery.Or(items.map(i => fromJObject(i.asInstanceOf[JObject])))
      case ("$nor", JArray(items)) =>
        BQuery.Nor(items.map(i => fromJObject(i.asInstanceOf[JObject])))
      case (field, ops: JObject) if ops.obj.nonEmpty && ops.obj.forall(_._1.startsWith("$")) =>
        opsOn(field, ops)
      case (field, v) => BQuery.Eq(field, value(v))
    }
    parts match {
      case Nil => BQuery.True
      case one :: Nil => one
      case many => BQuery.And(many)
    }
  }

  /** An operator document applied to one field. */
  private def opsOn(field: String, ops: JObject): BQuery =
    BQuery.And(ops.obj.map {
      case ("$gt", v) => BQuery.Gt(field, value(v))
      case ("$gte", v) => BQuery.Gte(field, value(v))
      case ("$lt", v) => BQuery.Lt(field, value(v))
      case ("$lte", v) => BQuery.Lte(field, value(v))
      case ("$eq", v) => BQuery.Eq(field, value(v))
      case ("$ne", v) => BQuery.Ne(field, value(v))
      case ("$in", JArray(vs)) => BQuery.In(field, vs.map(value))
      case ("$nin", JArray(vs)) => BQuery.Nin(field, vs.map(value))
      case ("$regex", JString(p)) =>
        val opts = ops.obj.collectFirst { case ("$options", JString(o)) => o }
          .getOrElse("")
        // mongo's documented $options set; an unknown flag errors on a
        // live server, so the engine refuses at parse rather than
        // silently ignoring it (fail-loud wire parity)
        val bad = opts.filterNot(c => "imsx".indexOf(c.toInt) >= 0)
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"unsupported $$options flag(s) '$bad' (server accepts i/m/s/x)")
        BQuery.Regex(field, p, opts)
      case ("$options", _: JString) if ops.obj.exists(_._1 == "$regex") =>
        BQuery.True // consumed by the $regex case
      case ("$options", v) =>
        // a live server errors on non-string $options and on $options
        // without a $regex sibling — refuse both at parse
        throw new IllegalArgumentException(
          s"$$options must be a STRING alongside a $$regex, got $v")
      case ("$exists", JBool(b)) => BQuery.ExistsField(field, b)
      case ("$size", v) => value(v) match {
        case BInt32(n) => BQuery.Size(field, n)
        case BInt64(n) => BQuery.Size(field, n.toInt)
        case other => throw new IllegalArgumentException(s"bad $$size $other")
      }
      case ("$all", JArray(vs)) => BQuery.All(field, vs.map(value))
      case ("$elemMatch", em: JObject)
          if em.obj.nonEmpty && em.obj.forall(_._1.startsWith("$")) =>
        // value form: operators on the element itself
        BQuery.ElemMatch(field, opsOn(BQuery.ElemPath, em), valueForm = true)
      case ("$elemMatch", em: JObject) =>
        // document form: a full query over the element's fields
        BQuery.ElemMatch(field, fromJObject(em), valueForm = false)
      case ("$not", nb: JObject)
          if nb.obj.nonEmpty && nb.obj.forall(_._1.startsWith("$")) =>
        BQuery.NotOp(field, opsOn(field, nb))
      case ("$mod", JArray(List(d, r))) =>
        (asWhole(value(d)), asWhole(value(r))) match {
          case (Some(dv), Some(rv)) => BQuery.Mod(field, dv, rv)
          case _ => throw new IllegalArgumentException(s"bad $$mod [$d, $r]")
        }
      case ("$type", JString(t)) => BQuery.TypeIs(field, Seq(t))
      case ("$type", JArray(ts)) => BQuery.TypeIs(field, ts.map {
        case JString(t) => t
        case other => throw new IllegalArgumentException(s"bad $$type entry $other")
      })
      case (op, _) => throw new IllegalArgumentException(s"unsupported operator $op")
    })

  private def asWhole(v: BsonValue): Option[Long] = v match {
    case BInt32(x) => Some(x.toLong)
    case BInt64(x) => Some(x)
    case BDouble(x) if x == math.rint(x) => Some(x.toLong)
    case _ => None
  }

  private def value(j: JValue): BsonValue = j match {
    case JInt(x) if x.isValidInt => BInt32(x.toInt)
    case JInt(x) => BInt64(x.toLong)
    case JLong(x) => BInt64(x)
    case JDouble(x) => BDouble(x)
    case JDecimal(x) => BDouble(x.toDouble)
    case JString(x) => BString(x)
    case JBool(x) => BBool(x)
    case JNull => BNull
    // array/doc literals: `{tags: {$all: [[1,2]]}}` needs the nested
    // array as a VALUE (mongo's whole-field-equality $all form), and
    // `{p: [1,2]}` / `{p: {a: 1}}` are plain whole-value equality
    case JArray(items) => BArray(items.map(value).toVector)
    case o: JObject =>
      BDoc(scala.collection.immutable.ListMap(
        o.obj.map { case (k, v) => k -> value(v) }: _*))
    case other => throw new IllegalArgumentException(s"unsupported literal $other")
  }
}
