package org.apache.spark

/** Access shim: the listener bus is `private[spark]`. The benchmark needs
  * to wait until a traced pass's events are delivered before it detaches
  * its listener. Nothing else may live here. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
