package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column↔Expression converters
  * (Spark 4 removed the public `new Column(expr)` constructor). Living
  * under org.apache.spark.sql satisfies the private[sql] scope — the
  * standard pattern for Catalyst extension libraries. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** A Spark-internal function by name (e.g. `bloom_filter_agg`, the
    * aggregate behind `stat.bloomFilter`). */
  def internalFn(name: String, inputs: Column*): Column =
    Column.internalFn(name, inputs: _*)
}
