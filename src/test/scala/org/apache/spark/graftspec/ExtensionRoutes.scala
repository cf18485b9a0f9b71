package org.apache.spark.graftspec

import graft.plans.GraftExtensions
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Child-JVM side of `graft.ExtensionRouteSpec`: builds a session by each
  * install route of [[GraftExtensions]] and prints `key=value` lines. In the
  * Spark namespace for the `private[spark]` `SparkContext.getActive`, which
  * looks for a context without creating one. */
object ExtensionRoutes {
  private def report(prefix: String, spark: SparkSession): Unit = {
    println(s"$prefix.graft_dot_q=" +
      spark.sql("SELECT graft_dot_q(array(1L, 2L), array(4L, 5L))").head().getLong(0))
    GraftExtensions.SparkSettings.keys.foreach(k =>
      println(s"$prefix.$k=${spark.conf.get(k)}"))
  }

  private def local: SparkSession.Builder = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false")

  def main(args: Array[String]): Unit = {
    // SparkSession.builder() buffers the function and runs it inside
    // getOrCreate, before the context starts: observe the context there
    val viaBuilder = local.withExtensions { ext =>
      val before = SparkContext.getActive.nonEmpty
      new GraftExtensions().apply(ext)
      println(s"apply.context.before=$before")
      println(s"apply.context.after=${SparkContext.getActive.nonEmpty}")
    }.getOrCreate()
    report("builder", viaBuilder)
    viaBuilder.stop()

    val viaConf = local.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "2000").getOrCreate()
    report("conf", viaConf)
    viaConf.stop()
  }
}
