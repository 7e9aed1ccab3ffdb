package org.apache.spark

/** Waits on the private[spark] listener bus, so job records read after a
  * traced operation are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
