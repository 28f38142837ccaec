package org.apache.spark

/** The one Spark-internal the benchmark needs: block until the listener
  * bus has delivered every posted event, so counters read after a call
  * include all of that call's jobs. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
