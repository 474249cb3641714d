package graft.bson

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.ListMap

/** InternalRow ⇄ BDoc bridge for a declared StructType, plus dynamic-schema
  * inference by sampling (SURVEY.md §1.2-§1.3 mapping table). Lossy choices
  * mirror the reference's: ObjectId -> hex string, BSON date -> timestamp
  * (millisecond precision), Symbol -> string, Regex -> pattern string.
  */
object RowCodec {

  // ---- BDoc -> InternalRow ----

  /** `mapping` renames Spark columns to (dotted) document fields — the
    * mongo.columns.mapping analog applied at read time.
    */
  def toRow(doc: BDoc, schema: StructType,
      mapping: Map[String, String] = Map.empty): InternalRow = {
    val values = schema.fields.map { f =>
      val v = mapping.get(f.name) match {
        case Some(path) => doc.getPath(path)
        case None => doc.get(f.name)
      }
      v.map(x => toCatalyst(x, f.dataType)).orNull
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  /** One stored value as Spark reads it into `dt` (null for BNull); a
    * storage the type does not read throws. */
  private[graft] def toCatalyst(v: BsonValue, dt: DataType): Any = (v, dt) match {
    case (BNull, _) => null
    case (BInt32(x), IntegerType) => x
    case (BInt32(x), LongType) => x.toLong
    case (BInt32(x), DoubleType) => x.toDouble
    case (BInt64(x), LongType) => x
    case (BInt64(x), DoubleType) => x.toDouble
    case (BDouble(x), DoubleType) => x
    case (BString(x), StringType) => UTF8String.fromString(x)
    case (BSymbol(x), StringType) => UTF8String.fromString(x)
    case (BObjectId(x), StringType) => UTF8String.fromString(x)
    case (BRegex(p, _), StringType) => UTF8String.fromString(p)
    case (BBool(x), BooleanType) => x
    case (BDate(ms), TimestampType) => ms * 1000L // micros
    case (BDate(ms), TimestampNTZType) => ms * 1000L // same wall-clock, micros
    case (BDate(ms), DateType) => Math.floorDiv(ms, 86400000L).toInt // epoch days
    case (BDate(ms), LongType) => ms
    case (BTimestamp(s, _), TimestampType) => s.toLong * 1000000L
    case (BBinary(b), BinaryType) => b
    case (BArray(items), ArrayType(et, _)) =>
      new GenericArrayData(items.map(i => toCatalyst(i, et)).toArray)
    case (d: BDoc, st: StructType) => toRow(d, st)
    // MAP columns (r15): BSON has no map type — a map<string, V> column
    // stores as a SUBDOCUMENT (field per key, insertion order kept),
    // the MongoDB convention for dynamic keys. Non-string key types
    // never reach here (the write side refuses them loudly).
    case (d: BDoc, MapType(StringType, vt, _)) =>
      org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        d.fields.keysIterator.map(UTF8String.fromString).toArray[Any],
        d.fields.valuesIterator.map(toCatalyst(_, vt)).toArray[Any])
    case (other, t) =>
      throw new IllegalArgumentException(s"cannot read BSON $other as Spark type $t")
  }

  // ---- InternalRow -> BDoc ----

  def toBson(row: InternalRow, schema: StructType): BDoc = {
    val fields = ListMap.newBuilder[String, BsonValue]
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val v =
        if (row.isNullAt(i)) BNull
        else fromCatalyst(row.get(i, f.dataType), f.dataType)
      fields += f.name -> v
    }
    BDoc(fields.result())
  }

  private def fromCatalyst(v: Any, dt: DataType): BsonValue = (v, dt) match {
    case (null, _) => BNull
    case (x: Int, IntegerType) => BInt32(x)
    case (x: Long, LongType) => BInt64(x)
    case (x: Double, DoubleType) => BDouble(x)
    case (x: Float, FloatType) => BDouble(x.toDouble)
    case (x: UTF8String, StringType) => BString(x.toString)
    case (x: Boolean, BooleanType) => BBool(x)
    case (x: Long, TimestampType) => BDate(Math.floorDiv(x, 1000L)) // micros -> millis
    // BSON's only datetime is UTC millis: a tz-less timestamp is stored
    // as its wall-clock micros truncated to ms and reads back as the
    // same wall-clock (lossless for date-resolution values); DATE maps
    // to midnight-UTC millis, the reference's java.util.Date convention
    case (x: Long, TimestampNTZType) => BDate(Math.floorDiv(x, 1000L))
    case (x: Int, DateType) => BDate(x.toLong * 86400000L)
    case (x: Array[Byte], BinaryType) => BBinary(x)
    case (x: ArrayData, ArrayType(et, _)) =>
      BArray(x.toObjectArray(et).map(e => fromCatalyst(e, et)).toVector)
    case (r: InternalRow, st: StructType) => toBson(r, st)
    case (m: org.apache.spark.sql.catalyst.util.MapData, MapType(kt, vt, _)) =>
      // map<string, V> -> subdocument; BSON field names are strings, so
      // any other key type refuses loudly (never silently stringified)
      if (kt != StringType) throw new IllegalArgumentException(
        s"cannot write map key type $kt as BSON field names (string keys only)")
      else {
        val ks = m.keyArray.toObjectArray(kt)
        val vs = m.valueArray.toObjectArray(vt)
        val b = ListMap.newBuilder[String, BsonValue]
        var i = 0
        while (i < ks.length) {
          b += ks(i).asInstanceOf[UTF8String].toString ->
            (if (vs(i) == null) BNull else fromCatalyst(vs(i), vt))
          i += 1
        }
        val doc = b.result()
        // Spark MapData may carry duplicate keys (Parquet/Avro maps are
        // not deduplicated on read) — a subdocument cannot, and a
        // silent last-wins collapse would change explode() cardinality
        // after the round-trip. Fail loudly, like the key-type refusal.
        if (doc.size != ks.length) throw new IllegalArgumentException(
          s"cannot write a map with duplicate keys as a BSON subdocument " +
            s"(${ks.length} entries, ${doc.size} distinct keys)")
        BDoc(doc)
      }
    case (x: org.apache.spark.sql.types.Decimal, _: DecimalType) => BDouble(x.toDouble)
    case (other, t) =>
      throw new IllegalArgumentException(s"cannot write Spark $t value $other as BSON")
  }

  // ---- dynamic schema inference (sampling) ----

  /** Infer a StructType from sample docs. Conflict rules: numeric types
    * widen (int32 -> int64 -> double), anything vs string -> string,
    * struct fields union recursively; a field missing from some docs is
    * simply nullable (all fields are nullable).
    *
    * `mapThreshold` (r16): a NESTED subdocument whose UNION of sampled
    * keys reaches the threshold is a dynamic-keys value (per-doc
    * metrics, per-language stats — the corpus-metadata shape), not a
    * record — it collapses to `map<string, V>` with V the merge of the
    * sampled value types, instead of a pathologically wide struct that
    * would keep GROWING with the corpus (a 100 TB collection has
    * unbounded distinct keys; a struct schema must enumerate them, a
    * map never does, and the engine's map surface — `$objectToArray`
    * explode pushdown, kv filters/groups/joins/tails — is built for
    * exactly this column shape). The TOP level never collapses (a row
    * schema is a struct by contract); 0 disables.
    *
    * Dynamic keys vs WIDE RECORDS (r17, ADVICE r16): a legitimately
    * wide but STABLE record — the same 128+ fields on every document —
    * is a record, not a key-value bag; collapsing it would break dotted
    * struct access for existing inferred-schema users. The collapse
    * therefore also requires the union to be at least TWICE the widest
    * single document's key count at that level: dynamic-keys data is
    * sparse per document (each doc carries a few of many keys — the
    * union keeps growing with the sample), a stable record is dense
    * (union ≈ per-doc width, ratio ~1). Inside an already-collapsed
    * map's VALUE type the per-path stats are meaningless (one merged
    * type across all keys), so nested levels keep the width-only rule.
    */
  def inferSchema(docs: Iterator[BDoc], maxSample: Int = 1000,
      mapThreshold: Int = 128): StructType = {
    var merged: Map[String, DataType] = ListMap.empty
    var order: Vector[String] = Vector.empty
    // dotted path -> the widest SINGLE document's key count at that
    // subdocument level (array elements share their array's path) —
    // the denseness signal separating wide stable records (union ≈
    // per-doc width) from dynamic-keys bags (union >> per-doc width)
    var maxDocKeys: Map[String, Int] = Map.empty
    def walkKeys(prefix: String, v: BsonValue): Unit = v match {
      case d: BDoc =>
        if (prefix.nonEmpty)
          maxDocKeys = maxDocKeys.updated(prefix,
            math.max(maxDocKeys.getOrElse(prefix, 0), d.fields.size))
        d.fields.foreach { case (k, v2) =>
          walkKeys(if (prefix.isEmpty) k else prefix + "." + k, v2) }
      case BArray(items) => items.foreach(walkKeys(prefix, _))
      case _ => ()
    }
    var n = 0
    while (docs.hasNext && n < maxSample) {
      val d = docs.next()
      walkKeys("", d)
      d.fields.foreach { case (name, v) =>
        val dt = typeOf(v)
        merged.get(name) match {
          case None =>
            if (dt != NullType) { merged += name -> dt; order :+= name }
            else if (!order.contains(name)) { merged += name -> NullType; order :+= name }
          case Some(prev) => merged += name -> mergeTypes(prev, dt)
        }
      }
      n += 1
    }
    val collapse = if (mapThreshold > 0) mapThreshold else Int.MaxValue
    StructType(order.map(name => StructField(name,
      collapseDynamic(
        merged(name) match { case NullType => StringType; case t => t },
        collapse, Some(name), maxDocKeys),
      nullable = true)))
  }

  /** Collapse dynamic-keys struct levels to maps (see [[inferSchema]]);
    * recurses through arrays and record-sized structs. `path` = the
    * dotted document path of this level (None once inside a collapsed
    * map's value, where per-path stats no longer apply). */
  private def collapseDynamic(dt: DataType, threshold: Int,
      path: Option[String], maxDocKeys: Map[String, Int]): DataType =
    dt match {
      case st: StructType if st.fields.length >= threshold &&
          // sparse-per-doc gate: unknown stats (inside a collapsed map
          // value) keep the r16 width-only rule via getOrElse(0)
          st.fields.length >= 2 * path.map(p =>
            maxDocKeys.getOrElse(p, st.fields.length)).getOrElse(0) =>
        val vt = st.fields.map(_.dataType)
          .map(collapseDynamic(_, threshold, None, maxDocKeys))
          .foldLeft[DataType](NullType)(mergeTypes)
        MapType(StringType,
          if (vt == NullType) StringType else vt, valueContainsNull = true)
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = collapseDynamic(f.dataType, threshold,
            path.map(_ + "." + f.name), maxDocKeys))))
      case ArrayType(et, n0) =>
        ArrayType(collapseDynamic(et, threshold, path, maxDocKeys), n0)
      case other => other
    }

  def typeOf(v: BsonValue): DataType = v match {
    case BNull | BMinKey | BMaxKey => NullType
    case _: BInt32 => IntegerType
    case _: BInt64 => LongType
    case _: BDouble => DoubleType
    case _: BString | _: BSymbol | _: BObjectId | _: BRegex => StringType
    case _: BBool => BooleanType
    case _: BDate | _: BTimestamp => TimestampType
    case _: BBinary => BinaryType
    case BArray(items) =>
      val et = items.map(typeOf).foldLeft[DataType](NullType)(mergeTypes)
      ArrayType(if (et == NullType) StringType else et, containsNull = true)
    case d: BDoc =>
      StructType(d.fields.toSeq.map { case (n2, v2) =>
        StructField(n2, typeOf(v2) match { case NullType => StringType; case t => t }, nullable = true)
      })
  }

  def mergeTypes(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, x) => x
    case (x, NullType) => x
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (ArrayType(x, _), ArrayType(y, _)) =>
      ArrayType(mergeTypes(x, y), containsNull = true)
    case (MapType(_, x, _), MapType(_, y, _)) =>
      // only ever string-keyed (collapseDynamic's product)
      MapType(StringType, mergeTypes(x, y), valueContainsNull = true)
    case (x: StructType, y: StructType) =>
      val yMap = y.fields.map(f => f.name -> f.dataType).toMap
      val merged = x.fields.map(f =>
        StructField(f.name, yMap.get(f.name).map(mergeTypes(f.dataType, _)).getOrElse(f.dataType), nullable = true))
      val extra = y.fields.filterNot(f => x.fieldNames.contains(f.name))
        .map(f => StructField(f.name, f.dataType, nullable = true))
      StructType(merged ++ extra)
    case _ => StringType // incompatible -> string (dynamic-mode fallback)
  }
}
