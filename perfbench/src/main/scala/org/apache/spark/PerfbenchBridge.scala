package org.apache.spark

/** The benchmark's one reach into Spark internals: wait until every
  * queued listener event is delivered, so counters read after an
  * operation include all of its tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
