package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private; a caller that reads what
  * a listener recorded ([[graft.tools.PlanDump.capture]], the specs that
  * count listener events) needs it so every event of its jobs is
  * delivered before it reads. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
