package org.apache.spark.zbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: counts read right after a job or a
  * micro-batch lag behind it. Draining the bus first makes them complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
