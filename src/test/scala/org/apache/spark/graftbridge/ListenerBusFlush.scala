package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a spec that counts them
  * drains the bus first. `listenerBus` is private to the
  * `org.apache.spark` namespace, hence this file's package.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
