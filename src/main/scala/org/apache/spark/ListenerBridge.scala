package org.apache.spark

/** Reaches the one `private[spark]` call the bench and the tests need:
  * waiting until the listener bus has delivered every queued event, so a
  * listener's counts are complete when they are read. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
