package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` API: the supported way to lift a custom
  * Catalyst Expression into a user-facing Column in Spark 4 (the
  * `new Column(expr)` constructor was removed in 4.0). Lives in the
  * org.apache.spark.sql namespace solely for access; no Spark internals
  * are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
