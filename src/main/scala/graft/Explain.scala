package graft

/** Plan auditor: prints formatted physical plans for the named queries (all
  * of them by default) so scan pruning, pushdown, broadcast choices, and
  * whole-stage codegen coverage can be reviewed. Usage:
  *   runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case scala.util.control.NonFatal(e) => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
