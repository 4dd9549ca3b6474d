package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The private[sql] Column↔Expression bridge (the pattern in SNIPPETS.md
  * [2]/[3]), placed under org.apache.spark.sql so graft can build native
  * Catalyst expressions (`DggsFunctions`' direct kernel calls,
  * `KmvSketchAgg`, GridOps' integral divide) as Columns.
  */
object ExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
