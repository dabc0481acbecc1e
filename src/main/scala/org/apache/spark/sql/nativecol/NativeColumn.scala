package org.apache.spark.sql.nativecol

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst expression conversion, so a native expression can be
  * offered as a plain `Column => Column` function with no per-session
  * function registration. Spark keeps the conversion `private[sql]`, hence
  * this one-file package under `org.apache.spark.sql`.
  */
object NativeColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
