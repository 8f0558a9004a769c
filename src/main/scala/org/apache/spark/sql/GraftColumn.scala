package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression for graft's kernels that hold model state by
  * reference (a `PqModel`, a `CentroidSet`, a rotation matrix) and so
  * cannot be reached through `call_function` and a literal argument.
  * It lives in Spark's package because `classic.ExpressionUtils` is
  * package-private. */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
