package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-API bridge between `Column` and Catalyst `Expression` for the
  * library's native expressions (`ExpressionUtils` is `private[sql]`, so
  * this lives under the org.apache.spark.sql namespace — the standard
  * pattern Spark extension packages use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every posted listener event has been delivered
    * (`listenerBus` is `private[spark]`): a listener that counts a
    * finished run's events drains the asynchronous bus first, or the
    * run's last task-end events can still be in flight.
    */
  def flushListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
