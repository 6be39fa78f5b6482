package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * benchmark listener's totals are complete before they are read. The
  * bus is private to the `org.apache.spark` package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
