package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between the library's Catalyst expressions and the
  * Column API (`ExpressionUtils` is `private[sql]`, hence this package).
  * An expression enters the plan as itself, not by a registered function
  * name, so it resolves on any session, forked or not.
  */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
