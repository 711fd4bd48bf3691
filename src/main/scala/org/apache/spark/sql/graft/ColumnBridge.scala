package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Catalyst expression for the typed kernel constructors in
  * `graft.functions.GraftFunctions` (`classic.ExpressionUtils` is
  * `private[sql]`).
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
