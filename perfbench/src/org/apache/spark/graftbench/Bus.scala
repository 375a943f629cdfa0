package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark keeps the listener-bus drain package-private; the benchmark needs
  * it to read its listeners' counters only after every event of a rep has
  * been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
