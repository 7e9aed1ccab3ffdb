package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access to Spark's package-private Column <-> Expression conversions.
  * Every helper in `graft.functions` builds its Column by wrapping its
  * Catalyst expression directly, `Columns(PolyHash(expression(c)))`, so
  * no session function registry is involved and any session can analyze
  * the plan. */
object Columns {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
