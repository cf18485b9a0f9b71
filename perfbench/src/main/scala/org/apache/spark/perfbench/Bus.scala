package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. Listener
  * events arrive asynchronously; a traced measurement drains the bus before
  * it reads its counters, so every event of an operation is attributed to
  * that operation. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
