package org.apache.spark

/** Test-side drain of the SparkContext's listener bus (the bus is
  * package-private to Spark): returns once every event posted so far
  * has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
