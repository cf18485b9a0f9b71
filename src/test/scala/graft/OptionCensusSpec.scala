package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the engine's option surface: every environment variable and every
  * `graft.*` session conf that main code reads. Adding an option means
  * editing the allowed set here, in view of review. */
class OptionCensusSpec extends AnyFunSuite {
  private val allowedEnv = Set("SPARK_GRAFT_CPUS")
  private val allowedConf = Set("graft.broadcast.sessionReuse")

  private lazy val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${new java.io.File(".").getAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).toSeq
    finally files.close()
  }

  /** key -> files that read it */
  private def census(re: scala.util.matching.Regex): Map[String, Seq[String]] =
    sources.flatMap { case (f, s) => re.findAllMatchIn(s).map(_.group(1) -> f) }
      .groupMap(_._1)(_._2).map { case (k, fs) => k -> fs.distinct.sorted }

  test("environment variables read by main code are exactly the allowed set") {
    val env = census("""(?:sys\.env|System\.getenv)[^"\n]{0,40}"([^"]+)"""".r)
    assert(env.keySet == allowedEnv, s"found: $env")
  }

  test("graft.* session confs read or set by main code are exactly the allowed set") {
    val conf = census("""\b(?:conf\.\w+|config)\(\s*"(graft\.[^"]+)"""".r)
    assert(conf.keySet == allowedConf, s"found: $conf")
  }
}
