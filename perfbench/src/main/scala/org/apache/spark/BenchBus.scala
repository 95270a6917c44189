package org.apache.spark

/** Listener events arrive asynchronously. The benchmark attributes engine
  * counts to one call by draining the bus before reading its counters, and
  * the drain is only reachable from inside the `org.apache.spark` package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
