package org.apache.spark

/** The listener bus is `private[spark]`; the traced run must read its
  * listener's totals only after every event of the loop was delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
