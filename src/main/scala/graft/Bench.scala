package graft

import scala.util.control.NonFatal

/** Plain timing sweep over the declared queries. Usage:
  *   runMain graft.Bench [sfDir] [query ...]
  * (all declared queries by default). Every query is timed [[Samples]]
  * times under the noop sink, and every sample counts: no retry, no
  * min-keeping. stderr gets one line per query (n, min, median, max in
  * seconds, and the cause of each failed sample); stdout ends with ONE
  * JSON line:
  * {"metric":"headline_total_6q","value":…,"unit":"sec","queries":{…},"failed":[…],"sf":…}
  *
  * `value` is the sum of the median times of the six headline queries whose
  * shapes mirror BASELINE.md §B's DuckDB proxy workload; it is null unless
  * all six ran without a failed sample.
  *
  * Warm-up (not timed): one pass of the selected queries at sf0.001
  * populates the codegen/class caches, and each table is scanned once at
  * the target SF — BASELINE.md excludes one-time JVM/session startup from
  * the comparison. The benchmark proper (per-layer numbers, checked
  * results, set-up and memory) is `perfbench/`.
  *
  * Exit codes: 3 when a headline query has a failed sample, 4 when any
  * other selected query (an unknown name included) has one.
  */
object Bench {
  /** Analogues of BASELINE.md §B's six proxy queries, in its order. */
  val headline: Seq[String] = Seq(
    "w1_first_seen_dedup", // seed_extract: filter -> first-seen dedup -> project
    "x7_json_extract",     // regex/json extraction + group min/max/count
    "j1_score_argmax",     // CASE-weighted score + per-key max
    "q1_agg",              // TPC-H Q1 multi-agg group-by
    "j4_join_chain",       // orders x customer x nation (+region) + group
    "o1_topk")             // group sum + order desc + limit

  /** Timed samples per query. */
  val Samples = 5

  /** One query's samples: wall seconds of the successful ones, and the
    * cause (exception class + first message line) of each failed one. */
  private final case class Timing(secs: Seq[Double], errors: Seq[String]) {
    def n: Int = secs.size + errors.size
    def min: Double = secs.min
    def max: Double = secs.max
    def median: Double = {
      val s = secs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  }

  private def cause(e: Throwable): String =
    e.getClass.getName + ": " +
      String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")

  private def runNoop(spark: org.apache.spark.sql.SparkSession, name: String,
                      dir: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()

    val warmDir = "/root/testdata/sf0.001"
    // warm-up failures do not stop the sweep, but they carry their cause
    def warm(what: String)(body: => Unit): Unit =
      try body catch {
        case NonFatal(e) => System.err.println(s"[bench] warm-up $what failed: ${cause(e)}")
      }
    names.foreach(n => warm(n)(runNoop(spark, n, warmDir)))
    Tables.names.foreach(n => warm(s"scan $n")(Tables.t(spark, sfDir, n).count(): Unit))

    val timings = names.map { name =>
      val samples = (1 to Samples).map { _ =>
        val t0 = System.nanoTime()
        try { runNoop(spark, name, sfDir); Left((System.nanoTime() - t0) / 1e9) }
        catch { case NonFatal(e) => Right(cause(e)) }
      }
      val t = Timing(samples.collect { case Left(s) => s }, samples.collect { case Right(c) => c })
      if (t.secs.nonEmpty)
        System.err.println(f"[bench] $name%-28s n=${t.n} min=${t.min}%.3f median=${t.median}%.3f max=${t.max}%.3f")
      t.errors.distinct.foreach(c =>
        System.err.println(s"[bench] $name failed ${t.errors.count(_ == c)}/${t.n}: $c"))
      name -> t
    }.toMap

    // Double.toString is locale-independent; the f interpolator is not
    def j3(v: Double): String = (math.round(v * 1000.0) / 1000.0).toString
    def json(t: Timing): String =
      (if (t.secs.isEmpty) s"""{"n":${t.n}"""
       else s"""{"n":${t.n},"min":${j3(t.min)},"median":${j3(t.median)},"max":${j3(t.max)}""") +
        (if (t.errors.isEmpty) "}" else t.errors.map(Verify.q).mkString(""","errors":[""", ",", "]}"))
    val failed = names.filter(n => timings(n).errors.nonEmpty)
    val headlineOk = headline.forall(n => timings.get(n).exists(_.errors.isEmpty))
    val headlineTotal =
      if (headlineOk) j3(headline.map(timings(_).median).sum) else "null"
    val queries = names.map(n => s"${Verify.q(n)}:${json(timings(n))}").mkString("{", ",", "}")
    println(s"""{"metric":"headline_total_6q","value":$headlineTotal,"unit":"sec","queries":$queries,"failed":${failed.map(Verify.q).mkString("[", ",", "]")},"sf":${Verify.q(new java.io.File(sfDir).getName)}}""")
    spark.stop()
    if (failed.exists(headline.contains)) sys.exit(3)
    if (failed.nonEmpty) sys.exit(4)
  }
}
