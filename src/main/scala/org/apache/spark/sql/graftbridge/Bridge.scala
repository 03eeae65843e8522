package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions, plus the
  * listener-bus drain.
  *
  * Spark 4 moved these conversions behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils); a one-file package
  * bridge is the sanctioned extension seam short of registering every
  * function in the session FunctionRegistry.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager ColumnNode → catalyst Expression conversion. The lazy
    * [[toExpression]] wrapper (`ColumnNodeExpression`) is only unwrapped
    * by a rule that runs at the START of analysis — an expression
    * produced *during* analysis (e.g. returned by a FunctionBuilder in
    * the FunctionRegistry) would keep the wrapper all the way to codegen
    * and fail. This converts immediately to plain catalyst nodes
    * (UnresolvedFunction etc.), which the analyzer then resolves like
    * any parsed SQL. */
  def toExpressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Block until every listener has seen every event posted so far
    * (`listenerBus` is `private[spark]`): a job census read after an
    * action then counts exactly that action's jobs. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
