package graft

import graft.streaming.RollingIngest
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.Files

/** The micro-batch rules every rolling store loop shares: a fresh stream
  * (new checkpoint, batch ids from 0) against a populated store is refused
  * before anything is written — for every store a batch writes — and
  * `compactEvery` below 1 is refused when the stream is built. */
class IngestLoopRulesSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(64)(j => (math.sin(seed * 17 + j * 3) * 2).toFloat)

  private val docs = Seq(
    (1L, "first rolling document about alpha and beta", vec(1)),
    (2L, "second rolling document on a wholly different gamma topic", vec(2)))
  private val edges = Seq((1L, 2L), (3L, 4L))

  /** Every directory name under `dir` (empty when it does not exist). */
  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).fold(Set.empty[String])(_.map(_.getName).toSet)

  /** Feed one batch through a new query (MemoryStream: a fresh checkpoint,
    * batch id 0); returns the query's failure, if any. */
  private def runOnce[T: Encoder](rows: Seq[T])(start: DataFrame => StreamingQuery)
      : Option[Throwable] = {
    val in = MemoryStream[T]
    val q = start(in.toDF())
    try { in.addData(rows); q.processAllAvailable(); None }
    catch { case e: Exception => Some(e) }
    finally q.stop()
  }

  private def refusal(e: Option[Throwable]): String = {
    val cause = e.toSeq.flatMap(t => Iterator.iterate(t)(_.getCause).takeWhile(_ != null))
      .collectFirst { case i: IllegalArgumentException => i }
    assert(cause.nonEmpty, s"expected a refusal, got $e")
    cause.get.getMessage
  }

  private lazy val populated = {
    val root = Files.createTempDirectory("graft_loop_rules").toString
    val (dd, ann, cc) = (s"$root/dedup", s"$root/ann", s"$root/cc")
    assert(runOnce(docs)(df => RollingIngest.dedupIndexIngest(
      df.toDF("doc_id", "text", "embedding"), dd, ann)((n, _) => n.collect(): Unit)).isEmpty)
    assert(runOnce(edges)(df => RollingIngest.componentsIngest(
      df.toDF("u", "v"), cc)((l, _) => l.collect(): Unit)).isEmpty)
    Seq(dd, ann, cc).foreach(d => assert(names(d).contains("d0"), s"$d holds ${names(d)}"))
    (root, dd, ann, cc)
  }

  /** Run `start` against `dirs` and assert the guided refusal names
    * `populatedDir`, with no directory of any store changed. */
  private def assertRefused[T: Encoder](rows: Seq[T], dirs: Seq[String], populatedDir: String)
                                       (start: DataFrame => StreamingQuery): Unit = {
    val before = dirs.map(names)
    val msg = refusal(runOnce(rows)(start))
    assert(msg.contains(populatedDir) && msg.contains("this stream did not build that store") &&
      msg.contains(s"delete $populatedDir/d0 and restart"), s"unguided refusal: $msg")
    assert(dirs.map(names) == before, s"a refused batch wrote to a store: ${dirs.map(names)}")
  }

  test("a fresh checkpoint against a populated store is refused before any write") {
    val (root, dd, ann, cc) = populated
    val twoCol = docs.map(d => (d._1, d._2))
    assertRefused(twoCol, Seq(dd), dd)(df =>
      RollingIngest.dedupIngest(df.toDF("doc_id", "text"), dd)((p, _) => p.collect(): Unit))
    // the ANN store alone is populated: its guard, not the dedup one, refuses
    val freshDedup = s"$root/dedup_fresh_a"
    assertRefused(docs, Seq(freshDedup, ann), ann)(df =>
      RollingIngest.dedupIndexIngest(df.toDF("doc_id", "text", "embedding"),
        freshDedup, ann)((n, _) => n.collect(): Unit))
    assertRefused(edges, Seq(cc), cc)(df =>
      RollingIngest.componentsIngest(df.toDF("u", "v"), cc)((l, _) => l.collect(): Unit))
    // the components store alone is populated: nothing reaches the dedup store
    val freshDedup2 = s"$root/dedup_fresh_b"
    assertRefused(twoCol, Seq(freshDedup2, cc), cc)(df =>
      RollingIngest.dedupClustersIngest(df.toDF("doc_id", "text"), freshDedup2, cc)(
        (l, _) => l.collect(): Unit))
  }

  test("compactEvery = 0 is refused when the stream is built") {
    val root = Files.createTempDirectory("graft_loop_k0").toString
    val in3 = MemoryStream[(Long, String, Seq[Float])]
    val in2 = MemoryStream[(Long, String)]
    val inE = MemoryStream[(Long, Long)]
    val starts: Seq[() => StreamingQuery] = Seq(
      () => RollingIngest.dedupIngest(in2.toDF().toDF("doc_id", "text"), s"$root/a",
        compactEvery = 0)((_, _) => ()),
      () => RollingIngest.dedupIndexIngest(in3.toDF().toDF("doc_id", "text", "embedding"),
        s"$root/b", s"$root/c", compactEvery = 0)((_, _) => ()),
      () => RollingIngest.componentsIngest(inE.toDF().toDF("u", "v"), s"$root/d",
        compactEvery = 0)((_, _) => ()),
      () => RollingIngest.dedupClustersIngest(in2.toDF().toDF("doc_id", "text"), s"$root/e",
        s"$root/f", compactEvery = 0)((_, _) => ()))
    starts.foreach { start =>
      val e = intercept[IllegalArgumentException](start())
      assert(e.getMessage.contains("compactEvery must be >= 1"))
    }
    assert(names(root).isEmpty)
  }
}
