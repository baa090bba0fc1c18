package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst expression, for the engine's expressions that hold
  * driver-side state (a broadcast) and so cannot be registered by name
  * and called through `expr`. Spark 4 keeps both conversions private to
  * `org.apache.spark.sql`; this object is the engine's one bridge. */
object CatalystColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
