package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic drain of the listener bus: returns once every event
  * posted so far has reached every listener, instead of sleeping and
  * polling for counters to settle. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
