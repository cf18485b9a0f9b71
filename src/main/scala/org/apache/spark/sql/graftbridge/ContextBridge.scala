package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` active SparkContext and its live conf, so
  * session extensions can add Spark settings to a running context before
  * the session's SQL conf is built from it. Same shim pattern as
  * [[ColumnBridge]]. */
object ContextBridge {
  /** Sets each key the active context's conf does not hold yet, so a value
    * the caller configured wins. With no active context it does nothing and
    * creates none. */
  def setIfMissing(settings: Map[String, String]): Unit =
    SparkContext.getActive.foreach { sc =>
      settings.foreach { case (k, v) => sc.conf.setIfMissing(k, v) }
    }
}
