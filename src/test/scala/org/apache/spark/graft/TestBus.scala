package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps the listener-bus drain package-private; specs that count
  * events with a SparkListener need it before attaching the listener (so no
  * earlier event lands in the count) and before reading it.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
