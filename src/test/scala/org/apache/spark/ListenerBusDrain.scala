package org.apache.spark

/** Waits until the listener bus has delivered every posted event — Spark
  * keeps the drain package-private, and listener callbacks are asynchronous.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
