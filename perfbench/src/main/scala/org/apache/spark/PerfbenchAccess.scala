package org.apache.spark

/** The one Spark-internal hook the benchmark needs: the traced run reads
  * its listener totals only after every posted event has been delivered. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
