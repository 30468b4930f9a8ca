package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the traced run drains
  * the bus before it reads its listeners' totals. `listenerBus` is
  * private to the `org.apache.spark` namespace, hence this file's
  * package.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
