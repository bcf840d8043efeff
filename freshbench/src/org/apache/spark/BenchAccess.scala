package org.apache.spark

/** The benchmark's one reach into Spark internals: waiting until the live
  * listener bus has delivered every posted event, so listener counters
  * read after an action include that action. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
