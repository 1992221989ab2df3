package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression <-> Column for graft's typed constructors
  * ([[graft.functions.GraftFunctions]]). Spark 4.1 keeps
  * `ExpressionUtils` package-private to `org.apache.spark.sql`, and this
  * package is the smallest place that can call it. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
