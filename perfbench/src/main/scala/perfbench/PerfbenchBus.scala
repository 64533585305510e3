package org.apache.spark

/** The listener bus is asynchronous; a traced pass waits for it to drain
  * before its spans are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
