package graft

import graft.plans.GraftExtensions
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The two install routes of [[GraftExtensions]], run in a JVM of their
  * own ([[org.apache.spark.graftspec.ExtensionRoutes]]) where no context of
  * the shared test session exists:
  *  - `SparkSession.builder().withExtensions(new GraftExtensions)`: `apply`
  *    runs before any context exists; it must create none and not throw,
  *    and the session gets the injected functions but not the Spark
  *    settings;
  *  - `spark.sql.extensions`: the session gets the settings, and a value the
  *    caller configured wins. */
class ExtensionRouteSpec extends AnyFunSuite {

  private lazy val report: Map[String, String] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xm") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"), "org.apache.spark.graftspec.ExtensionRoutes")
    val err = java.io.File.createTempFile("graft_ext_route", ".log")
    val p = new ProcessBuilder(cmd: _*).redirectError(err).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    val code = p.waitFor()
    assert(code == 0, s"child JVM exited $code; stdout:\n${out.mkString("\n")}\nstderr tail:\n" +
      scala.io.Source.fromFile(err).getLines().toSeq.takeRight(30).mkString("\n"))
    out.collect { case s"$k=$v" => k -> v }.toMap
  }

  test("withExtensions: apply before any context creates none and does not throw") {
    assert(report("apply.context.before") == "false")
    assert(report("apply.context.after") == "false")
  }

  test("withExtensions: the session gets the functions, not the Spark settings") {
    assert(report("builder.graft_dot_q") == "14")
    // Spark's defaults
    assert(report("builder.spark.sql.codegen.cache.maxEntries") == "100")
    assert(report("builder.spark.sql.artifact.isolation.enabled") == "true")
    assert(report("builder.spark.sql.codegen.useIdInClassName") == "true")
  }

  test("spark.sql.extensions: the session gets the settings; the caller's value wins") {
    assert(report("conf.graft_dot_q") == "14")
    assert(report("conf.spark.sql.codegen.cache.maxEntries") == "2000")
    (GraftExtensions.SparkSettings - "spark.sql.codegen.cache.maxEntries").foreach {
      case (k, v) => assert(report(s"conf.$k") == v, k)
    }
  }
}
