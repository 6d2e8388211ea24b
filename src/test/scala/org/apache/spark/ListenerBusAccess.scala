package org.apache.spark

/** Spark delivers listener events asynchronously, and its listener bus is
  * package-private. Specs that count jobs drain the bus through this object
  * so a listener has seen every job that already ran. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
