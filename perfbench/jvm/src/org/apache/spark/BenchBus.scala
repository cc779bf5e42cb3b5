package org.apache.spark

/** Listener-bus access the public API lacks: listener events arrive
  * asynchronously, so counters are read only after the bus drains.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
