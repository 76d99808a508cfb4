// Package-injected shim: ExpressionUtils is private[sql], and it is the
// one way to wrap a native Catalyst expression that holds a non-SQL
// argument (a Broadcast handle) as a Column without a function-registry
// round trip.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression for the engine's native kernels. */
object ExprColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
