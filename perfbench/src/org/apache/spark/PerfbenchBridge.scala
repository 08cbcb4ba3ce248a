package org.apache.spark

/** The one engine-internal call the benchmark needs: wait until every
  * listener has seen every posted event, so a traced run's counters are
  * complete before they are written out. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
