package graft.source

import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

/** Nested-field resolution for pushdown eligibility checks, shared by the
  * file and server scan builders: a DSv2 `NamedReference` may carry
  * several fieldName parts (`meta.lang` arrives as `["meta", "lang"]` —
  * Spark's `V2ExpressionBuilder` builds multi-part `FieldReference`s from
  * `GetStructField` chains), and a document store's natural query key IS
  * a dotted path. Walks the parts through nested StructTypes to the leaf
  * type, and composes the document path: the HEAD is remapped through
  * `column_mapping` (the reference's dotted-prefix mapping convention,
  * hive/.../HiveMongoInputFormat.java:211-240), the tail appends verbatim
  * — dotted-path key extraction is core reference behavior
  * (core/.../util/MongoPathRetriever.java:11-23).
  */
object FieldResolve {

  /** One resolved column: `name` = the flat display/output name (parts
    * dotted), `docPath` = the document field path the readers/renderers
    * use (mapping-composed), `dataType` = the LEAF Spark type.
    */
  final case class Ref(name: String, docPath: String, dataType: DataType)

  def resolve(schema: StructType, e: Expression,
      mapping: Map[String, String] = Map.empty): Option[Ref] = e match {
    case nr: NamedReference => resolveParts(schema, nr.fieldNames.toSeq, mapping)
    case _ => None
  }

  /** Resolve an option-supplied column STRING (e.g. `sample_key`): an
    * exact top-level column wins (a column whose name contains a literal
    * dot stays addressable), else the dotted form walks nested structs.
    */
  def resolveName(schema: StructType, name: String,
      mapping: Map[String, String] = Map.empty): Option[Ref] =
    resolveParts(schema, Seq(name), mapping)
      .orElse(resolveParts(schema, name.split('.').toSeq, mapping))

  def resolveParts(schema: StructType, parts: Seq[String],
      mapping: Map[String, String]): Option[Ref] = {
    def walk(st: StructType, ps: Seq[String]): Option[DataType] = ps match {
      case Seq(last) => st.fields.find(_.name == last).map(_.dataType)
      case head +: tail =>
        st.fields.find(_.name == head).map(_.dataType) match {
          case Some(inner: StructType) => walk(inner, tail)
          case _ => None
        }
      case _ => None
    }
    if (parts.isEmpty) None
    else walk(schema, parts).map { dt =>
      val docHead = mapping.getOrElse(parts.head, parts.head)
      Ref(parts.mkString("."), (docHead +: parts.tail).mkString("."), dt)
    }
  }
}

/** One shared parser from Spark's pushed [[Aggregation]] to the engine's
  * [[GroupAgg]] items — used by the server's plain grouped pipeline, the
  * server's joined (`$lookup`-tail) grouping, and the bare COUNT(*) both
  * transports answer from stored counts, so an aggregate kind lands ONCE. Callers
  * supply the column resolver (their schema + mapping) and their
  * [[ReadModel]] type gates; the SUM partial-type rule (int/long fold
  * as LongType, double as DoubleType — Spark's partial-sum layout) and
  * the COUNT(col) any-type rule are shared policy.
  */
object GroupAggParse {

  /** `groupCols` in group-by order; `items` in aggregate order with each
    * partial's Spark type. */
  final case class Parsed(
      groupCols: Seq[FieldResolve.Ref],
      items: Seq[(GroupAgg, DataType)])

  /** None when any group key or aggregate fails its resolver/type gate
    * (the caller then refuses the pushdown and Spark keeps the
    * aggregate). Zero aggregates with ≥1 group key is SELECT DISTINCT
    * and parses; zero of both does not. Gates take the full resolved
    * [[FieldResolve.Ref]] so a caller can apply PER-COLUMN policies
    * (e.g. the joined server path gates each column by its ORIGIN
    * side's storage options). The gates are [[ReadModel]]'s GROUP,
    * ORDER and SUM cells, whose SUM admits only numeric inputs.
    */
  def parse(aggregation: Aggregation,
      resolve: Expression => Option[FieldResolve.Ref],
      groupKeyOk: FieldResolve.Ref => Boolean,
      minMaxOk: FieldResolve.Ref => Boolean,
      sumOk: FieldResolve.Ref => Boolean): Option[Parsed] = {
    val groupRefs = aggregation.groupByExpressions.toSeq.map(e =>
      resolve(e).filter(groupKeyOk))
    if (groupRefs.contains(None)) return None
    val parsed: Seq[Option[(GroupAgg, DataType)]] =
      aggregation.aggregateExpressions.toSeq.map {
        case _: aggregate.CountStar =>
          Some((GroupAgg.CountAll("count(*)"), LongType))
        case c: aggregate.Count if !c.isDistinct =>
          // COUNT(col) needs only null/missing discrimination — any type
          resolve(c.column).map(r =>
            (GroupAgg.CountCol(r.docPath, s"count(${r.docPath})"), LongType))
        case m: aggregate.Min =>
          resolve(m.column).filter(minMaxOk).map(r =>
            (GroupAgg.MinOf(r.docPath, s"min(${r.docPath})"), r.dataType))
        case m: aggregate.Max =>
          resolve(m.column).filter(minMaxOk).map(r =>
            (GroupAgg.MaxOf(r.docPath, s"max(${r.docPath})"), r.dataType))
        case sm: aggregate.Sum if !sm.isDistinct =>
          resolve(sm.column).filter(sumOk).map(r =>
            (GroupAgg.SumOf(r.docPath, s"sum(${r.docPath})"),
              if (r.dataType == DoubleType) DoubleType else LongType))
        case _ => None
      }
    if (parsed.contains(None) || (parsed.isEmpty && groupRefs.isEmpty)) None
    else {
      val out = Parsed(groupRefs.flatten, parsed.flatten)
      // the server renderer spells dotted names dot-free on the wire
      // (`.`→`~`, QueryDocs.wireName) inside a compound `$group` `_id`
      // and as accumulator field names — a column literally named `a~b`
      // next to nested key `a.b` would COLLIDE and silently mis-key the
      // result, so the pushdown refuses and Spark keeps the aggregate
      // (the documented residual risk, now enforced)
      def wire(s: String): String = s.replace('.', '~')
      val keyWires = out.groupCols.map(r => wire(r.docPath))
      val outWires = "_id" +: out.items.flatMap { case (g, _) =>
        val presence = g match {
          case GroupAgg.SumOf(_, a) => Seq(wire(a + "~nn"))
          case _ => Seq.empty
        }
        wire(g.alias) +: presence
      }
      if (keyWires.distinct.size != keyWires.size ||
          outWires.distinct.size != outWires.size) None
      else Some(out)
    }
  }
}
