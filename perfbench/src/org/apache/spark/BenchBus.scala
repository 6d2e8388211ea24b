package org.apache.spark

/** The listener bus is asynchronous: a traced operation's job and task
  * events may still be queued when the operation returns. Draining the bus
  * after each traced operation makes its counters complete before they are
  * read. The bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
