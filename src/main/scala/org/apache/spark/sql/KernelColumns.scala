package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Catalyst expression conversion for the engine's native
  * kernels. `classic.ExpressionUtils` is `private[sql]`, so the typed
  * constructors in [[graft.functions.GraftFunctions]] reach it from here.
  */
object KernelColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
