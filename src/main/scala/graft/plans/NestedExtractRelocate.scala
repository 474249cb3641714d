package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** The third rewrite of [[PrepareJoinLegs]]: keep a graftserver JOIN
  * pushable when Catalyst's NestedColumnAliasing has rewritten a nested order/filter key into an
  * extraction Project INSIDE a join input — `ORDER BY meta.score LIMIT n`
  * over a join becomes `Project(..., meta._1 AS _extract__1, rel)` below
  * the Join, and Spark's pushDownJoin requires ATTRIBUTE-ONLY projections
  * on both inputs, so the whole `$lookup` pipeline used to be forfeited.
  *
  * The fix absorbs the extraction INTO the relation: the scan grows a
  * derived flat column whose `column_mapping` entry points at the nested
  * document path (`_extract__1 -> meta._1`) — the r14 server-transport
  * mapping resolves pushed filters, group keys, TopN orders, and join
  * keys through it, and the reader decodes the subfield directly (the
  * nested projected-decode path, so ONLY `meta._1` is read, not the whole
  * struct). The Project becomes attribute-only, the join pushes, and the
  * `ORDER BY` reaches the pushed join's `$sort`+`$limit` tail.
  *
  * Stable under the fixed-point batch: after the rewrite there is no
  * ExtractValue left for NestedColumnAliasing to alias, and this rule
  * only matches Projects containing extraction aliases. The derived
  * column reuses the alias's exprId, so every parent reference resolves
  * unchanged. The rule's gate admits only a Join whose legs are
  * graftserver relations on one connection (the only place the
  * projection shape costs anything); plain scans keep Spark's own
  * nested-schema pruning.
  */
object NestedExtractRelocate {

  private[plans] def rewrite(j: Join): LogicalPlan = {
    val newLeft = relocate(j.left)
    val newRight = relocate(j.right)
    if (newLeft.eq(j.left) && newRight.eq(j.right)) j
    else j.copy(left = newLeft, right = newRight)
  }

  private def relocate(leg: LogicalPlan): LogicalPlan = leg match {
    case p @ Project(projectList, rel: DataSourceV2Relation)
        if graft.server.GraftServerSource.served(rel.table) &&
          projectList.exists {
            case Alias(chain, _) => isExtract(chain, rel)
            case _ => false
          } =>
      val extracts = projectList.collect {
        case a @ Alias(chain, _) if isExtract(chain, rel) => a
      }
      val existing = Option(rel.options.get("column_mapping"))
        .map(graft.source.ColumnMapping.parse).getOrElse(Map.empty[String, String])
      val schemaNames = rel.schema.fieldNames.toSet
      // refuse on any name collision with a real column or between aliases
      val names = extracts.map(_.name)
      if (names.exists(schemaNames.contains) || names.distinct.size != names.size)
        return leg
      val derived = extracts.flatMap { a =>
        chainPath(a.child).map { path =>
          val head = path.split('.').head
          val mapped = existing.get(head)
            .map(h => (h +: path.split('.').toSeq.tail).mkString("."))
            .getOrElse(path)
          (a, mapped)
        }
      }
      if (derived.size != extracts.size) return leg
      val newSchema = StructType(rel.schema.fields ++
        derived.map { case (a, _) => StructField(a.name, a.dataType) })
      val newMapping = existing ++ derived.map { case (a, p2) => a.name -> p2 }
      val mappingJson = {
        import org.json4s.JsonDSL._
        import org.json4s.jackson.JsonMethods
        JsonMethods.compact(JsonMethods.render(
          newMapping.foldLeft(org.json4s.JObject()) { case (o, (k, v)) =>
            o ~ (k -> v) }))
      }
      val newOpts = new CaseInsensitiveStringMap(
        (rel.options.asScala.toMap + ("column_mapping" -> mappingJson)).asJava)
      val newTable = rel.table.asInstanceOf[graft.source.GraftTable]
        .withSchema(newSchema, newOpts.asScala.toMap)
      val newAttrs = derived.map { case (a, _) =>
        AttributeReference(a.name, a.dataType, nullable = true)(exprId = a.exprId)
      }
      val newRel = rel.copy(table = newTable,
        output = rel.output ++ newAttrs, options = newOpts)
      val byId = newAttrs.map(at => at.exprId -> at).toMap
      val newList = projectList.map {
        case a: Alias if byId.contains(a.exprId) => byId(a.exprId)
        case other => other
      }
      Project(newList, newRel)
    case _ => leg
  }

  /** A GetStructField chain, at least one extraction deep, rooted at one
    * of the relation's own struct columns (no arrays, no maps — those
    * change row counts or need element semantics the flat mapping cannot
    * spell).
    */
  private def isExtract(e: Expression, rel: DataSourceV2Relation): Boolean =
    e.isInstanceOf[GetStructField] && chainRoot(e).exists(rel.outputSet.contains)
}
