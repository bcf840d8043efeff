package org.apache.spark

/** Test access to the listener bus, whose drain is package-private. */
object ListenerBusAccess {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
