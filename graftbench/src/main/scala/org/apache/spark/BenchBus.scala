package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener counters are read only after every posted event is delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
