package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a measured operation's task
  * metrics are read only after the bus has delivered everything posted.
  * `listenerBus` is private to the `org.apache.spark` package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
