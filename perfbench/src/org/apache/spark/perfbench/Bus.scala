package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this is the one reach-in the
  * benchmark needs. Listener events are delivered asynchronously, so
  * counters are read only after every posted event has been handled. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
