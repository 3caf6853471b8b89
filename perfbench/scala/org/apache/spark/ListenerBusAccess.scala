package org.apache.spark

/** The listener bus's drain is package-private; the benchmark's trace
  * needs it so every event of a run is delivered before spans are written. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
