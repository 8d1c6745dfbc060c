package org.apache.spark

/** Spark delivers listener events on an asynchronous bus. The benchmark
  * summarises a traced pass only after every event posted during it has
  * been handled; the bus's own wait is package-private, hence this file. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
