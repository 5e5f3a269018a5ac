package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * counts read after a call are complete (the bus is package-private). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
