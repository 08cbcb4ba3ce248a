package org.apache.spark

/** The one engine-internal call the specs need: wait until every
  * listener has seen every posted event, so a listener's counts are
  * complete before a spec asserts on them. */
object TestListenerBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
