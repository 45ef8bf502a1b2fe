package org.apache.spark

/** Listener events reach listeners asynchronously; the benchmark reads its
  * per-query counters only after every event of the query was delivered.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
