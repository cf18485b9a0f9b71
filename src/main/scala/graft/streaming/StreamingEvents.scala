package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream shape (§2.9 beyond
  * the reference's surface, per the builder brief): watermarked tumbling-
  * window aggregation and arbitrary-state sessionization.
  *
  * Both take an already-constructed streaming Dataset so batch fixtures,
  * MemoryStream tests, and file/kafka sources share one code path — source
  * choice is the caller's concern, mirroring how the seed ingest treats its
  * logs directory (StreamingSeed).
  */
object StreamingEvents {

  case class Event(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  /** Open-session state kept per user between micro-batches (epoch ms). */
  case class OpenSession(startMs: Long, endMs: Long, n: Int)
  case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)

  /** Tumbling 5-minute windows with a 10-minute watermark: per-window
    * per-type counts and value sums. Append mode — a window emits once its
    * end passes the watermark, late rows beyond it are dropped (the
    * reference has no late-data story; this is the standard Spark answer).
    * The sum aggregates DECIMAL(18,2) cents, not doubles: a streaming
    * aggregate folds rows in arrival order, so only an order-independent
    * accumulator gives a well-defined answer — and it is what lets the
    * batch twin (`st_window_agg`, EventAnalytics) hash-match a relational
    * oracle. Runs unchanged on a batch DataFrame (withWatermark is a
    * documented no-op there). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total"))

  /** Per-window top-k over [[windowedCounts]] output: rank (n desc,
    * event_type asc — deterministic under count ties) and keep the top
    * `k` — the trending-types stage. In a streaming deployment this
    * applies in the SINK (foreachBatch) over append-mode windows, where
    * every emitted window is already final under the watermark, so the
    * rank is well-defined without re-ranking on late data. The window is
    * partitioned per 5-minute bucket whose cardinality is the TYPE
    * vocabulary — bounded, never corpus-sized. */
  def topkPerWindow(windowed: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_start").orderBy(col("n").desc, col("event_type"))
    windowed.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Per-window streaming heavy hitters via the mergeable Misra-Gries
    * summary ([[graft.plans.MisraGriesTopK]] — the ta_heavy_hitters
    * sketch wired into the streaming surface, VERDICT r11 #8): state per
    * open window is O(k) sketch slots instead of the per-type exact
    * counts `st_topk_trending` recomputes, which is the 100 TB shape when
    * the key vocabulary is unbounded (URLs, query strings) — the state
    * store holds k·16 bytes per window regardless of how many distinct
    * keys the window saw. The sketch buffer is a TypedImperativeAggregate,
    * so Spark's streaming aggregation merges the serialized summary
    * across micro-batches; the MG mergeable-summaries bound (every item
    * with weight > W/(k+1) holds a slot regardless of merge order) is the
    * contract the replay spec pins — candidates below the guarantee are
    * merge-order-dependent and a consumer must not read them as ranked.
    * Items ride as xxhash64(key): a collision only ADDS weight, so the
    * guarantee direction (heavy ⇒ present) survives hashing. Runs
    * unchanged on a batch DataFrame. */
  def heavyHittersPerWindow(events: DataFrame, k: Int): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(graft.plans.mgTopK(xxhash64(col("event_type")), lit(1L), k).as("cand"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("cand"), col("n"))

  /** Arbitrary-state sessionization via flatMapGroupsWithState: a session
    * closes when the next event of the same user arrives more than `gapMs`
    * later; closed sessions are emitted, the open one rides in state. The
    * streaming twin of the batch `wa_session` query (ExtendedQueries). */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          val sorted = batch.toSeq.sortBy(_.ts.getTime)
          var open = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            open match {
              case Some(s) if t - s.endMs <= gapMs =>
                open = Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1))
              case Some(s) =>
                closed += Session(userId, s.startMs, s.endMs, s.n)
                open = Some(OpenSession(t, t, 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Running per-user totals via mapGroupsWithState (the one-output-per-
    * group sibling of [[sessionize]]'s flatMapGroupsWithState): each
    * micro-batch emits the user's CUMULATIVE count and value sum, with the
    * running totals riding in state. Update output mode — the natural
    * shape for a continuously-refreshed aggregate feeding a serving store.
    * State is two numbers per user; at scale the eviction policy would be
    * a GroupStateTimeout on inactivity (NoTimeout here keeps the spec
    * deterministic).
    *
    * The running total accumulates FIXED-POINT cents in a long (q1_agg
    * parity note: per-row half-up round, order-independent exact sum) —
    * the same fold then hash-matches a grouped-sum oracle when run in
    * batch mode (`st_running_stats`), where a double accumulator's result
    * would depend on per-group row order. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long), UserStats](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          batch.foreach { e =>
            n += 1
            // HALF_UP on BigDecimal = half-away-from-zero, matching DuckDB
            // round() for NEGATIVE values too (refund events) — the
            // positive-only floor(x*100+0.5) idiom would floor a -212.5
            // tie the other way (same precedent as SpecExtractors'
            // c_acctbal note)
            cents += BigDecimal(e.value * 100)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }
          state.update((n, cents))
          UserStats(userId, n, cents / 100.0)
      }
  }

  /** Streaming first-seen dedup — the stateful twin of the batch W1/E3
    * family (the reference's seen-set at seed_aic.py:311): keep the FIRST
    * row per key, with dedup state BOUNDED by the watermark.
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time, so state size tracks the watermark
    * horizon, not the corpus — the 100 TB streaming answer; a plain
    * `dropDuplicates` pins every key seen forever and OOMs an unbounded
    * stream. Within-horizon duplicates (the realistic recrawl/replay case)
    * are dropped exactly. */
  def firstSeenDedup(events: DataFrame, keys: Seq[String],
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

  /** Watermarked STREAM-STREAM interval join — the attribution shape: each
    * click joined to the same user's purchases within the next 10 minutes.
    * Both sides carry watermarks and the join condition time-bounds the
    * purchase against the click, so Spark can size the join state and EVICT
    * it as the watermark advances — the unbounded-state hazard of a naive
    * stream join is exactly what the time bound removes (state per side is
    * the watermark horizon, not the stream history). Inner join: a click
    * with no purchase in its window simply never emits. Works identically
    * on batch DataFrames (watermarks no-op), which is how the oracle
    * adjudicates it (`st_stream_join`, EventAnalytics). */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
                   windowUs: Long = 600000000L): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        // microsecond interval literal: integer-dividing down to SECONDS
        // silently truncated any windowUs not a whole second (ADVICE r10)
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowUs MICROSECOND"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("delta_us"),
        col("value"))
  }
}
