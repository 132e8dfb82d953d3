package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting for the listener bus
  * to deliver every queued event before span counters are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
