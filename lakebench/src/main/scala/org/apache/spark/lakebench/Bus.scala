package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted listener event has been delivered, so the
    * counters read after an operation include all of its events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
