package perfbench

import scala.util.Random

/** The benchmark's workloads. Each reads the generated tables of one scale
  * factor (directory `sf<scale>` under the data root); `tables` are the ones
  * its set-up resolves and scans. */
sealed trait Workload {
  def name: String
  def scale: String
  def tables: Seq[String]
}

/** Declared queries timed under the noop sink, in a seed-permuted order per
  * pass. `fitScale` is the second scale of the traced run's
  * fixed-cost-plus-slope fit. */
final case class QueryWorkload(name: String, scale: String, queries: Seq[String],
                               fitScale: String) extends Workload {
  def tables: Seq[String] = graft.Tables.names
}

/** Rolling simhash near-dup ingest of `documents` in `batches` equal
  * micro-batches per pass, each pass into a fresh store. */
final case class IngestWorkload(name: String, scale: String, batches: Int,
                                compactEvery: Int) extends Workload {
  def tables: Seq[String] = Seq("documents")
}

object Workloads {
  /** The paper's pipeline in stage order (first-seen seed dedup, crawl-log
    * extraction, founded-year consensus and enrichment, portCo scoring,
    * argmax and ranks) and the relational queries of the repository's
    * headline set around it. Every query is small, so the per-action cost
    * (definition, Catalyst, job and stage dispatch) dominates and executor
    * work per row is minor; `j3_bucketed` and the pipelines also build
    * session stores on the cold pass. */
  val relational: QueryWorkload = QueryWorkload(
    "relational_sf0.01", "0.01",
    Seq("w1_first_seen_dedup", "x7_json_extract", "a1_consensus",
      "a2_weighted_vote", "pipe_founded_year_e2e", "j1_score_argmax",
      "pipe_portco_e2e", "pipe_portco_ranks", "q1_agg", "j4_join_chain",
      "j3_bucketed"),
    fitScale = "0.1")

  /** The only writing workload: the simhash-band dedup the `dd_*` queries
    * read, on the delta-commit and compaction path. 5 batches of 1,000
    * documents at compactEvery 2 compact twice per pass (at batches 2 and
    * 4), and the store read grows with the deltas pending between
    * compactions. */
  val ingest: IngestWorkload = IngestWorkload("ingest_sf0.1", "0.1",
    batches = 5, compactEvery = 2)

  val all: Seq[Workload] = Seq(relational, ingest)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}

/** What the seed decides: the query order of each pass and the documents of
  * each micro-batch. The program under test sees only the result. */
object Schedule {
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(queries)

  /** Indices into the document list, split into `count` equal batches. */
  def batches(n: Int, seed: Long, count: Int): Seq[Seq[Int]] =
    new Random(seed).shuffle((0 until n).toIndexedSeq)
      .grouped(math.ceil(n.toDouble / count).toInt).toSeq

  /** Prints the schedule of a seed as JSON, for the benchmark's own test.
    * Usage: perfbench.Schedule <seed> */
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    println(Json.render(Map(
      "order" -> Workloads.all.collect { case q: QueryWorkload =>
        q.name -> (0 until 3).map(p => order(q.queries, seed, p)) }.toMap,
      "batches" -> batches(1000, seed, Workloads.ingest.batches))))
  }
}
