package graft.source

import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Min}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The shared Aggregation parser's eligibility edges — in particular the
  * r14 wire-name collision gate: the server renderer spells dotted names
  * dot-free (`.`→`~`) inside `$group` documents, so a column literally
  * named `a~b` grouped next to nested `a.b` would silently mis-key the
  * result; the parse must REFUSE (Spark keeps the aggregate) instead.
  */
class GroupAggParseSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("a", StructType(Seq(StructField("b", IntegerType)))),
    StructField("a~b", IntegerType),
    StructField("v", IntegerType)))

  // FieldReference is private[sql]; a plain NamedReference carries the parts
  private def ref(parts: String*): NamedReference = new NamedReference {
    override def fieldNames(): Array[String] = parts.toArray
    override def describe(): String = parts.mkString(".")
  }

  private def agg(groups: Seq[Expression], funcs: Seq[AggregateFunc]) =
    new Aggregation(funcs.toArray, groups.toArray)

  private def parse(a: Aggregation) =
    GroupAggParse.parse(a,
      e => FieldResolve.resolve(schema, e),
      _ => true, _ => true, _ => true)

  test("wire-name collision between group keys refuses the pushdown") {
    val nested = ref("a", "b")
    val literal = ref("a~b")
    assert(parse(agg(Seq(nested, literal), Seq.empty)).isEmpty,
      "a.b and a~b share one wire spelling — must refuse")
    // each alone still parses (SELECT DISTINCT shape)
    assert(parse(agg(Seq(nested), Seq.empty)).nonEmpty)
    assert(parse(agg(Seq(literal), Seq.empty)).nonEmpty)
    // distinct keys keep parsing
    assert(parse(agg(Seq(nested, ref("v")), Seq.empty)).nonEmpty)
  }

  test("wire-name collision between aggregate aliases refuses the pushdown") {
    val collide = agg(Seq(ref("v")),
      Seq(new Min(ref("a", "b")),
        new Min(ref("a~b"))))
    assert(parse(collide).isEmpty,
      "min(a.b) and min(a~b) collide as $group output fields — must refuse")
    val fine = agg(Seq(ref("v")),
      Seq(new Min(ref("a", "b"))))
    assert(parse(fine).nonEmpty)
  }
}
