package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the traced run drains it at every
  * layer boundary so each event lands in the counters of the layer that
  * caused it. `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
