package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the listener bus, which is private to Spark: the traced run
  * waits for every posted event before it reads the listener's counts. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
