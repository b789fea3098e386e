package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * once `drain` returns, every event posted so far has reached every
  * listener, so a count taken after it is complete. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
