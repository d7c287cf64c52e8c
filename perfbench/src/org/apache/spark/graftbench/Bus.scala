package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark's own packages. */
object Bus {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
