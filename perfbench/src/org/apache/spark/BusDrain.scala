package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered, so listener-side records are complete before they are read.
  * Lives in this package because the bus is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
