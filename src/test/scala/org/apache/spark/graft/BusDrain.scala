package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Deterministic drain of the listener bus for specs: returns once every
  * event posted so far has reached every listener, so a counting listener
  * can be read without sleeping and polling. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
