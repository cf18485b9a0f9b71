package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains (Verify, Bench, Explain, Inflate) and
  * the test suite run on, so the correctness dump checks the same session
  * shape, extensions and plan rewrites that Bench times:
  *  - `local[cpus]` with shuffle partitions = cpus;
  *  - session time zone pinned to UTC: the ntz->timestamp dispatch in
  *    [[Tables.tsUsSql]] is only a reinterpretation under UTC;
  *  - UI off;
  *  - [[graft.plans.GraftExtensions]] (native rewrites, session broadcast
  *    reuse, injected functions), which also sets
  *    `spark.sql.codegen.cache.maxEntries` = 1000,
  *    `spark.sql.artifact.isolation.enabled` = false and
  *    `spark.sql.codegen.useIdInClassName` = false on the context
  *    ([[graft.plans.GraftExtensions.SparkSettings]]: each generated class
  *    is compiled once per JVM);
  *  - WARN logging.
  * `conf` adds caller-specific settings (the test suite's warehouse dir). */
object Session {
  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = defaultCpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
