package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions, needed
  * to expose custom Catalyst expressions through the public DataFrame API
  * (Spark 4 Columns wrap ColumnNodes, not Expressions). Lives inside the
  * org.apache.spark.sql package tree solely for access; no Spark internals
  * are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column    = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A resolved expression with its floating-point values normalized
    * (one zero, one NaN), as grouping and joins compare them.
    */
  def normalizeFloats(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)
}
