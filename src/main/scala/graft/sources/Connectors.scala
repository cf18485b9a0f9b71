package graft.sources

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._

/** I/O connector layer (SURVEY.md §2.1 S6): the reference's
  * side-effectful acquisition steps modeled as pluggable per-partition
  * functions, kept OUT of the oracle-checked query set.
  *
  * Design: connectors run inside `mapPartitions` so one client/connection is
  * amortized per partition and requests are distributed; retries with
  * exponential backoff reproduce the reference's 429 handling
  * (helper_functions.py:29-37, founded_year.py:157-174). The container has
  * zero egress, so the shipped implementations are deterministic stand-ins;
  * the partitioning/batching/retry scaffolding is the real, tested surface.
  */
object Connectors {

  /** Exponential backoff: base^attempt delays, like the reference's
    * `backoff ** attempt` sleep (helper_functions.py:29-37). The sleeper is
    * injectable so tests don't wait. Only non-fatal failures are retried:
    * an interrupt or a fatal JVM error propagates at once. */
  def withRetry[T](maxRetries: Int = 5, baseDelayMs: Long = 1000,
                   sleep: Long => Unit = Thread.sleep)(f: () => T): T = {
    var attempt = 0
    while (true) {
      try return f()
      catch {
        case scala.util.control.NonFatal(_) if attempt < maxRetries =>
          sleep(baseDelayMs * (1L << attempt)) // base-2 exponential
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** S6 probe result: accessibility + final (post-redirect) URL
    * (check_page_accessible, helper_functions.py:82-113). */
  final case class ProbeResult(url: String, accessible: Boolean, finalUrl: String)

  /** Pluggable probe. A production impl would issue HEAD-then-GET with
    * content-type/length checks; the pure URL-shape part (F12 extension
    * blacklist) lives in Exprs.badContentUrl as a plain filter. */
  trait PageProber extends Serializable {
    def probe(url: String): ProbeResult
  }

  /** Deterministic stand-in used in tests and the zero-egress container:
    * inaccessible iff the URL fails the F12 extension check or hashes to a
    * probe-failure bucket. */
  object DeterministicProber extends PageProber {
    private val bad = graft.functions.Exprs.BadContentTypeRe.r
    def probe(url: String): ProbeResult = {
      val ok = bad.findFirstIn(url).isEmpty &&
        math.floorMod(url.hashCode, 5) != 0
      ProbeResult(url, ok, if (ok) url else "")
    }
  }

  private implicit val probeEnc: Encoder[ProbeResult] = Encoders.product[ProbeResult]

  /** Probe every URL in `urlCol`, one prober per partition, results joined
    * back as struct columns (S6 as an enrichment stage). */
  def probePages(df: DataFrame, urlCol: String,
                 prober: PageProber = DeterministicProber,
                 maxRetries: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val urls = df.select(col(urlCol)).distinct().as[String]
    val probed = urls.mapPartitions { it =>
      it.map(u => withRetry(maxRetries, baseDelayMs = 0, sleep = _ => ())(
        () => prober.probe(u)))
    }.toDF("probe_url", "accessible", "final_url")
    df.join(probed, df(urlCol) === col("probe_url"), "left").drop("probe_url")
  }
}
