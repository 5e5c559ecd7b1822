package org.apache.spark

/** Reaches the one `private[spark]` call the trace needs: waiting until
  * the listener bus has delivered every queued event, so per-op counter
  * deltas are exact.
  */
object GraftbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
