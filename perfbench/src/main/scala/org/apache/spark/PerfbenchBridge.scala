package org.apache.spark

/** Reaches the one `private[spark]` call the benchmark needs: waiting
  * until the listener bus has delivered every queued event, so counters
  * read after a measured window are complete. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
