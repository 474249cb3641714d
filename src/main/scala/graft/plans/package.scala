package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GetStructField}

/** Struct-chain helpers shared by the plan rules: a column or a
  * `GetStructField` chain over one reads one document path. */
package object plans {

  /** The column a chain starts from; None for anything but a column or a
    * `GetStructField` chain over one. */
  private[plans] def chainRoot(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case GetStructField(child, _, _) => chainRoot(child)
    case _ => None
  }

  /** The dotted document path a chain reads: root column first, then the
    * field names from the struct schemas. */
  private[plans] def chainPath(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case g @ GetStructField(child, ord, _) =>
      chainPath(child).map(_ + "." + g.childSchema(ord).name)
    case _ => None
  }
}
