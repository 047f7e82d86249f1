package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the Spark internals the graft engine needs.
  *
  * Spark 4 moved the `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`; this shim re-exports the two conversions the graft
  * engine needs for its custom expressions (same approach as
  * spark-connect-compatible third-party libs).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener has handled every event posted so far
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). False if the
    * bus did not drain within its 10 s timeout. */
  def drainListeners(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
