package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so per-span counters are read only after the
  * listener bus has drained. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
