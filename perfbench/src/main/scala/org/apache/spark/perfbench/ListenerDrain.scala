package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on an asynchronous bus; a reader of the
  * trace must let the bus catch up before it aggregates. The drain call is
  * package-private to Spark, hence this bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
