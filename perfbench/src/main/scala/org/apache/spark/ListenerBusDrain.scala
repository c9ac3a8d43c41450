package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counts read after a measured loop are complete. Lives in Spark's
  * package because the bus is not public API. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
