package graft.server

import graft.source.ReadModel

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

import scala.jdk.CollectionConverters._

/** The one answer to "can these graftserver relations join in one
  * `$lookup`, and on which operands". The plan rules that prepare join
  * legs before Spark's join pushdown ([[graft.plans.PrepareJoinLegs]],
  * [[graft.plans.UnwindRelocate]]) and [[GraftServerScanBuilder]], when
  * the pushdown reaches it, ask here in the same words — so a join the
  * rules prepare is a join the builder can accept.
  */
object JoinPush {

  /** Spark's DSv2 join pushdown is on; without it no join pushes and the
    * rules leave the plan alone. */
  def enabled(conf: SQLConf): Boolean =
    try conf.getConfString(graft.GraftConf.JoinPushdownConf, "false").toBoolean
    catch { case _: Exception => false }

  /** (client factory, location, database): two scans join in one
    * `$lookup` only on one connection. */
  def connection(options: Map[String, String]): (String, String, String) = (
    options.getOrElse("client_factory", GraftServerSource.DefaultFactory),
    options.getOrElse("uri", options.getOrElse("server_dir", "")),
    options.getOrElse("ns", "").takeWhile(_ != '.'))

  /** The connection every leaf of `plan` is a graftserver relation on;
    * None when a leaf is something else or two leaves differ. */
  def legConnection(plan: LogicalPlan): Option[(String, String, String)] =
    plan.collectLeaves().map {
      case r: DataSourceV2Relation if GraftServerSource.served(r.table) =>
        Some(connection(r.options.asScala.toMap))
      case _ => None
    }.distinct match {
      case Seq(one) => one
      case _ => None
    }

  /** The operand gate of a join key, a joined TopN order and a joined
    * aggregate input: the `$lookup` pipeline compares STORED values
    * ([[ReadModel]]'s Stored cells); `docField` is the stored field the
    * operand reads, where it is known. */
  def operand(c: ReadModel.Comparison, dt: DataType, options: Map[String, String],
      docField: Option[String] = None): Boolean =
    ReadModel.exact(c, dt, ReadModel.Stored, options, docField)
}
