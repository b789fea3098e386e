package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark reads its
  * listener counters only after every event posted so far has been
  * delivered, so that a layer's counts are complete at its boundary. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
