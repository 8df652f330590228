package org.apache.spark

/** The listener bus is `private[spark]`; a traced run must wait until
  * every scheduler event has reached its listener before reading it.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
