package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private; a spec that counts
  * listener events needs it so every event of its jobs is delivered
  * before it reads the count. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
