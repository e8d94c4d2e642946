package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionUtils}

/** The `private[sql]` door between a Catalyst [[Expression]] and a
  * DataFrame [[Column]]. Spark 4 keeps both conversions package-private
  * (`ExpressionUtils.column`, `ColumnConversions.expression`); with them a
  * DataFrame helper builds its expression node directly instead of naming
  * a function the session must have registered, so the helper resolves on
  * any session. Building a column runs nothing: the analyzer resolves and
  * type-coerces the node's children exactly as it does for the node a
  * registered function's builder returns. Keep these two pure wrappers.
  */
object ColumnShim {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ColumnConversions.expression(c)
}
