package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs started while a block runs. Listener events arrive
  * asynchronously, and Spark keeps the bus drain package-private, so this
  * lives in the Spark namespace: the bus is drained before the listener is
  * added and before it is read. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
