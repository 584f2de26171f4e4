package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Blocks until the async listener bus has delivered every event posted so
  * far, so a listener's counters include everything the code before the call
  * caused. `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
