package org.apache.spark

/** Test access to Spark's listener bus, which is package-private. */
object GraftTestAccess {
  /** Blocks until every event posted so far has reached its listeners
    * (query-execution listeners included). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
