package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column <-> Catalyst expression, here because both are private[sql]. `toExpression` is
  * eager: `lit(3)` becomes the foldable `Literal` a builder's literal check needs. */
object ExpressionColumns {
  def toExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
}
