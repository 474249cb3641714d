package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, SparkSession}

/** Thin bridge into Spark's `private[sql]` surface (Column <-> Expression,
  * function registration). Lives under `org.apache.spark.sql` on purpose —
  * the standard pattern used by Spark connector libraries to expose native
  * Catalyst expressions as user-facing Columns without UDF overhead.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A connector-level (DSv2) literal — `LiteralValue` is private[sql];
    * specs exercising `SupportsRuntimeV2Filtering` build predicates with
    * the same internal-value literals Spark's dynamic filtering sends.
    */
  def v2Literal(value: Any, dataType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(value, dataType)

  /** Spark's own v1 filter translation, as its V2 filter pushdown applies
    * it (nested columns included) — `translateFilter` is protected[sql]. */
  def v1Filter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Register a native expression builder as a SQL function on a session. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
