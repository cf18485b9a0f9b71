package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-log analytics beyond the reference's surface: ordered-stage funnel
  * conversion and cohort retention — the two aggregate shapes every
  * product-analytics workload runs over an events table, phrased as
  * one-shuffle-per-stage Spark plans with exact integer time arithmetic
  * (`Tables.tsUs` schema dispatch, same contract as the wa_ and st_ family).
  */
object EventAnalytics {

  /** Ordered funnel signup -> view -> purchase per user, computed as ONE
    * sort-fold per user: collect the user's funnel-relevant events, sort by
    * (ts_us, event_id), fold a 3-slot state machine over them. Stage k's
    * timestamp is the EARLIEST qualifying event STRICTLY after stage k-1
    * (strict: a same-microsecond event cannot witness "happened after").
    *
    * Scale shape: the filter keeps only the three funnel types, then one
    * hash shuffle on user_id; the per-user array is bounded by per-user
    * activity (the same bound any per-entity sessionization carries), and
    * the fold is a single pass — against the alternative chained-min form
    * (three aggregates + two joins, each a shuffle on the same key), this
    * runs ONE shuffle and never re-reads the log. The oracle states the
    * same semantics relationally (chained conditional MINs): the fold's
    * first-qualifying-event-in-sorted-order IS that min, because events
    * are folded in ascending (ts_us, event_id) order and a slot, once set,
    * never moves. */
  /** The funnel core over any (user_id, ts_us, event_id, event_type)
    * relation — one shuffle, sorted fold (see [[waFunnel]] for semantics).
    * Exposed for reuse and for the randomized reference spec. */
  def funnel(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"),
        col("event_type")))).as("evs"))
      .select(col("user_id"), expr(
        """aggregate(evs,
          |  named_struct('t1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT),
          |               't3', CAST(NULL AS BIGINT)),
          |  (acc, e) -> named_struct(
          |    't1', CASE WHEN acc.t1 IS NULL AND e.event_type = 'signup'
          |               THEN e.ts_us ELSE acc.t1 END,
          |    't2', CASE WHEN acc.t2 IS NULL AND e.event_type = 'view'
          |                    AND acc.t1 IS NOT NULL AND e.ts_us > acc.t1
          |               THEN e.ts_us ELSE acc.t2 END,
          |    't3', CASE WHEN acc.t3 IS NULL AND e.event_type = 'purchase'
          |                    AND acc.t2 IS NOT NULL AND e.ts_us > acc.t2
          |               THEN e.ts_us ELSE acc.t3 END))""".stripMargin).as("f"))
      .filter(col("f.t1").isNotNull)
      .select(col("user_id"), col("f.t1").as("t1"), col("f.t2").as("t2"),
        col("f.t3").as("t3"),
        when(col("f.t3").isNotNull, 3).when(col("f.t2").isNotNull, 2)
          .otherwise(1).cast("int").as("stage"))

  val waFunnel = QueryDef("wa_funnel",
    """WITH t AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM t WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT t.user_id, MIN(t.ts_us) AS t2 FROM t JOIN s1 ON t.user_id = s1.user_id
      |       WHERE t.event_type = 'view' AND t.ts_us > s1.t1 GROUP BY t.user_id),
      |s3 AS (SELECT t.user_id, MIN(t.ts_us) AS t3 FROM t JOIN s2 ON t.user_id = s2.user_id
      |       WHERE t.event_type = 'purchase' AND t.ts_us > s2.t2 GROUP BY t.user_id)
      |SELECT s1.user_id, CAST(s1.t1 AS BIGINT) AS t1,
      |  CAST(s2.t2 AS BIGINT) AS t2, CAST(s3.t3 AS BIGINT) AS t3,
      |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
      |            WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS stage
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    funnel(raw
      .filter(col("event_type").isin("signup", "view", "purchase"))
      .select(col("user_id"), Tables.tsUs(raw).as("ts_us"), col("event_id"),
        col("event_type")))
  }

  /** Cohort retention: users bucketed by their FIRST-active day (cohort),
    * counted per (cohort_day, day_offset) cell — the triangle every
    * retention dashboard renders. Day arithmetic is pure integer division
    * on epoch-µs; restricted to ts_us >= 0 on both sides because Spark's
    * `div` truncates toward zero while floor-division engines floor — the
    * x18 precedent, vacuous on this (post-epoch) data but keeps the parity
    * claim data-independent.
    *
    * Scale shape: TWO shuffles total, no join. The log collapses to one
    * active-day SET per user (partial collect_set dedups map-side, so the
    * shuffle carries distinct (user, day) volume, and a user's set is
    * bounded by the retention horizon — days, not events); the cohort day
    * is `array_min` of the same set, so the cohort lookup that is usually
    * a self-join costs nothing; the exploded (cohort, offset) aggregate is
    * triangle-sized (horizon²), broadcast-small at any corpus size. */
  val waRetention = QueryDef("wa_retention",
    """WITH t AS (SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events WHERE epoch_us(ts) >= 0),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM t GROUP BY user_id)
      |SELECT f.cohort_day, t.day - f.cohort_day AS day_offset,
      |  COUNT(*) AS n_users
      |FROM t JOIN f ON t.user_id = f.user_id
      |GROUP BY f.cohort_day, t.day - f.cohort_day""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    raw
      .select(col("user_id"), Tables.tsUs(raw).as("ts_us"))
      .filter(col("ts_us") >= 0L)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .groupBy("user_id").agg(collect_set(col("day")).as("days"))
      .select(array_min(col("days")).as("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** §2.9 streaming surface #5: the watermarked tumbling-window aggregate
    * ([[graft.streaming.StreamingEvents.windowedCounts]]) run in BATCH mode
    * — the SAME function, one code path, two execution modes (withWatermark
    * is documented no-op on a batch Dataset), finally tying the windowed
    * streaming op to a DuckDB oracle like its st_* siblings. `window()`
    * aligns to the epoch, so the oracle is integer floor-division of
    * epoch-µs to 5-minute boundaries; the sum is exact decimal cents (the
    * streaming op itself aggregates DECIMAL(18,2) — order-independence is
    * what makes a streaming aggregate's answer well-defined at all).
    * Post-epoch guard: same trunc-vs-floor note as [[waRetention]]. */
  val stWindowAgg = QueryDef("st_window_agg",
    """SELECT CAST(epoch_us(ts) // 300000000 * 300000000 AS BIGINT) AS w_start_us,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE epoch_us(ts) >= 0
      |GROUP BY 1, 2""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val ev = raw
      .select(expr(s"timestamp_micros(${Tables.tsUsSql(raw)})").as("ts"),
        col("event_type"), col("value"))
      // unix_micros is timezone-free like the oracle's epoch_us; a parsed
      // timestamp LITERAL would shift the cutoff by the session zone
      // offset on any non-UTC session (ADVICE r11)
      .filter(unix_micros(col("ts")) >= 0L)
    graft.streaming.StreamingEvents.windowedCounts(ev)
      .select(unix_micros(col("w_start")).as("w_start_us"), col("event_type"),
        col("n"), col("total"))
  }

  /** Per-type 3σ anomaly counts — the statistical QC pass a pipeline runs
    * over a metric stream, with the σ-test done ENTIRELY in exact integer
    * arithmetic: values become cents (the house fixed-point), and
    * |x − μ| > 3σ is algebraically cleared of both divisions,
    * (n·x − S)² > 9·(n·Q − S²) with S = Σx, Q = Σx² — so there is no
    * float, no sqrt, and no rounding boundary anywhere; the comparison is
    * bit-identical on any engine. The squares exceed 64 bits at large n
    * (S² ~ 10²² at 10M events/type), so both sides widen first: DECIMAL(38)
    * here, HUGEINT in the oracle — exact integers either way.
    *
    * Scale shape: one partial-agg'd shuffle to type-level (n, S, Q) — five
    * rows — broadcast back onto a second scan pass for the per-row test,
    * then a partial-agg'd count. The classic two-pass variance scan; no
    * row-level shuffle ever happens. */
  val waOutliers = QueryDef("wa_outliers",
    """WITH t AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |s AS (SELECT event_type, COUNT(*) AS n, SUM(c) AS sc, SUM(c * c) AS q
      |      FROM t GROUP BY event_type)
      |SELECT t.event_type, CAST(MAX(s.n) AS BIGINT) AS n,
      |  CAST(MAX(s.sc) AS BIGINT) AS sum_cents,
      |  CAST(SUM(CASE WHEN
      |      (CAST(s.n AS HUGEINT) * t.c - s.sc) * (CAST(s.n AS HUGEINT) * t.c - s.sc)
      |      > 9 * (CAST(s.n AS HUGEINT) * s.q - CAST(s.sc AS HUGEINT) * s.sc)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM t JOIN s ON s.event_type = t.event_type
      |GROUP BY t.event_type""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val t = raw.select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    // ADVICE r10: the S/Q ACCUMULATORS themselves must widen before the
    // sum — a LongType sum wraps silently on overflow (Σc² passes 2^63 at
    // ~10M rows of 10^5-cent values) while DuckDB's SUM(BIGINT) promotes
    // to HUGEINT. Cast to DECIMAL(38,0) pre-aggregation so partial sums
    // accumulate exactly, like the oracle's HUGEINT.
    val c38 = col("c").cast("decimal(38,0)")
    val s = t.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(c38).as("sc"), sum(c38 * col("c")).as("q"))
    val dev = col("n").cast("decimal(38,0)") * col("c") - col("sc")
    val spread = lit(9).cast("decimal(38,0)") *
      (col("n").cast("decimal(38,0)") * col("q") -
        col("sc") * col("sc"))
    t.join(broadcast(s), "event_type")
      .select(col("event_type"), col("n"), col("sc"),
        when(dev * dev > spread, 1L).otherwise(0L).as("o"))
      .groupBy("event_type")
      .agg(max("n").cast("long").as("n"), max("sc").cast("long").as("sum_cents"),
        sum("o").as("n_outliers"))
  }

  /** §2.9 streaming surface #6: Spark's NATIVE `session_window` operator
    * (gap-merged event-time sessions — the built-in the custom
    * flatMapGroupsWithState sessionizer (`st_session`) reimplements for
    * its emit-on-close semantics) run in batch mode against a relational
    * oracle. Window semantics: a session's end is max(ts) + gap, so the
    * oracle states gap-sessionization with that end convention; the gap
    * threshold is STRICT < in session_window merging (an event exactly
    * `gap` later starts a new session), matching the oracle's `>=` split.
    * All time arithmetic integral µs through the vintage dispatch.
    *
    * Why both sessionizers exist: the native operator gives watermarked
    * incremental sessions with state eviction for free on a stream and
    * whole-stage codegen in batch, but emits only completed aggregates;
    * the custom fold streams out CLOSED sessions while keeping the open
    * one in state. One semantics, two execution contracts — both now
    * oracle-pinned. */
  val stSessionNative = QueryDef("st_session_native",
    """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |m AS (SELECT user_id, event_id, ts_us,
      |  CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT user_id, ts_us,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      |  FROM m)
      |SELECT user_id, CAST(MIN(ts_us) AS BIGINT) AS w_start_us,
      |  CAST(MAX(ts_us) + 1800000000 AS BIGINT) AS w_end_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, seq""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    raw
      .select(expr(s"timestamp_micros(${Tables.tsUsSql(raw)})").as("ts"),
        col("user_id"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("w_start_us"),
        unix_micros(col("session_window.end")).as("w_end_us"),
        col("n_events"))
  }

  /** §2.9 streaming surface #7: the watermarked STREAM-STREAM interval
    * join ([[graft.streaming.StreamingEvents.intervalJoin]] — click →
    * same-user purchase within 10 minutes, the attribution shape) run in
    * batch mode against a DuckDB oracle. The time bound is what makes the
    * streaming form viable at all (it lets Spark size and evict join
    * state); in batch the same condition is a per-user interval join whose
    * range predicate is bounded by per-user activity — user_id is the
    * fine-grained equi-key, so the post-join range filter never sees a
    * coarse-bucket quadratic blowup (contrast the dd_semdedup k=8-cell
    * lesson). Strict > on the lower bound: a purchase at the click's exact
    * microsecond cannot be attributed to it. */
  val stStreamJoin = QueryDef("st_stream_join",
    """WITH t AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us FROM events)
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(p.ts_us - c.ts_us AS BIGINT) AS delta_us, p.value
      |FROM t c JOIN t p ON p.user_id = c.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts_us > c.ts_us AND p.ts_us <= c.ts_us + 600000000""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val ev = raw.select(
      expr(s"timestamp_micros(${Tables.tsUsSql(raw)})").as("ts"),
      col("user_id"), col("event_id"), col("event_type"), col("value"))
    graft.streaming.StreamingEvents.intervalJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
  }

  /** Last-touch attribution: each purchase's value is credited to the most
    * recent click/view by the same user within a 1-hour lookback, else to
    * 'direct'. Output per channel: conversion count + attributed cents.
    *
    * Scale shape — the [[TemporalQueries.ajAsof]] union+ordered-window
    * formulation, not the oracle's join+argmax: touches and purchases
    * union into ONE relation, shuffle once on user_id, and a linear
    * running `last(ignoreNulls)` sweep carries (channel, ts) forward to
    * each purchase row. The naive formulation joins every purchase to all
    * its preceding touches then argmaxes — per-user quadratic and a
    * nested-loop hazard at 100 TB; this is one shuffle + one sort,
    * work linear in events. The 1-hour bound applies AFTER selection
    * (most-recent-overall older than 1 h ⇒ nothing in-window ⇒ 'direct' —
    * equivalent by recency monotonicity, and cheaper than banding the
    * bound into the key since the sweep already pays no join). Ties:
    * same-ts touches sort before purchases (tag), later event_id wins —
    * total order, both engines. Cents are the house fixed-point; the sum
    * accumulates in DECIMAL. */
  /** The attribution sweep over any (user_id, ts_us, event_id, event_type,
    * cents) relation — see [[waAttribution]] for semantics and oracle. */
  def attribution(ev: DataFrame, lookbackUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = ev
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts_us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("tag"),
        col("event_id"), col("event_type"), col("cents"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("t_ch",
        last(when(col("tag") === 0, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("t_ts",
        last(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(
        when(col("t_ts").isNull || col("ts_us") - col("t_ts") > lookbackUs,
          lit("direct")).otherwise(col("t_ch")).as("channel"),
        col("cents"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        // sum128 (round 17): per-row cents = round(value·100) is orders
        // inside the 2⁶² per-row bound; only the channel TOTAL outgrows a
        // long — the exact case the two-long accumulator exists for
        // (Sum128 ≡ sum(dec(·)) under its scaladoc'd bounds; oracle green)
        graft.plans.sum128(col("cents")).cast("long").as("attributed_cents"))
  }

  val waAttribution = QueryDef("wa_attribution",
    """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events WHERE event_type IN ('click', 'view')),
      |p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.event_id, p.cents, t.event_type AS ch,
      |        ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY t.ts_us DESC, t.event_id DESC) AS rn
      |      FROM p LEFT JOIN t ON t.user_id = p.user_id
      |        AND t.ts_us <= p.ts_us AND p.ts_us - t.ts_us <= 3600000000)
      |SELECT COALESCE(ch, 'direct') AS channel, COUNT(*) AS n_conv,
      |  CAST(SUM(cents) AS BIGINT) AS attributed_cents
      |FROM j WHERE rn = 1 GROUP BY 1""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    attribution(raw
      .select(col("event_id"), col("user_id"), Tables.tsUs(raw).as("ts_us"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents")))
  }

  /** Sliding-window rate limiting: each event's count of same-user events
    * in the trailing 5 minutes (inclusive) and the throttle verdict at a
    * 5-per-window policy — the admission-control shape a crawler/API
    * frontend computes streamside with a per-key sliding counter.
    *
    * The frame is RANGE, not ROWS — the engine's only value-based frame,
    * and the distinction is semantic: the limit is defined over TIME, so
    * every event at the boundary timestamp must enter the frame together,
    * which RANGE guarantees and which also makes the result
    * order-deterministic under equal timestamps (a ROWS frame would count
    * a nondeterministic subset of ties). One user-keyed shuffle + linear
    * sweep. */
  val waRateLimit = QueryDef("wa_rate_limit",
    """WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
      |SELECT event_id, user_id,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS n_win,
      |  (COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) > 5) AS throttled
      |FROM t""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-300000000L, org.apache.spark.sql.expressions.Window.currentRow)
    raw.select(col("event_id"), col("user_id"), Tables.tsUs(raw).as("ts_us"))
      .withColumn("n_win", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("n_win"),
        (col("n_win") > 5).as("throttled"))
  }

  /** Rolling active users: per active day, DAU (distinct users that day),
    * trailing-7-day WAU, and the DAU/WAU stickiness ratio in integer ppm —
    * the engagement triple every analytics deployment computes daily.
    *
    * The scale-defining choice: a DISTINCT count over a sliding time
    * window is NOT a window function (COUNT(DISTINCT) OVER RANGE doesn't
    * exist, and emulating it per-day re-scans the week). Instead each
    * (user, active-day) fact — already deduplicated, the per-user-day
    * grain is tiny — explodes to the <= 7 report days it supports, and WAU
    * becomes a plain partial-agg'd groupBy(day) count over the re-deduped
    * (user, report-day) pairs. Work is 7x the user-day grain, independent
    * of raw event volume; every shuffle carries (user_id, day) longs only.
    * Report days are the days with >= 1 event (the left-semi gate), so a
    * quiet calendar day emits no row rather than a zero. */
  val waRollingActive = QueryDef("wa_rolling_active",
    """WITH t AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM t GROUP BY day),
      |x AS (SELECT DISTINCT t.user_id, d.day
      |      FROM t JOIN (SELECT day FROM dau) d ON d.day BETWEEN t.day AND t.day + 6),
      |wau AS (SELECT day, COUNT(*) AS wau FROM x GROUP BY day)
      |SELECT w.day AS day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
      |  CAST(d.dau * CAST(1000000 AS BIGINT) // w.wau AS BIGINT) AS stick_ppm
      |FROM wau w JOIN dau d ON d.day = w.day""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val t = raw.select(col("user_id"), Tables.tsUs(raw).as("ts_us"))
      .select(col("user_id"), expr("ts_us div 86400000000").as("day")).distinct()
    val dau = t.groupBy("day").agg(count(lit(1)).as("dau"))
    val x = t.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .join(dau.select("day"), Seq("day"), "left_semi")
      .distinct()
    x.groupBy("day").agg(count(lit(1)).as("wau"))
      .join(dau, "day")
      .select(col("day"), col("dau").cast("long").as("dau"),
        col("wau").cast("long").as("wau"),
        expr("dau * 1000000L div wau").as("stick_ppm"))
  }

  /** Robust (median/MAD) outlier counts per event type — the companion to
    * [[waOutliers]]'s mean/variance test: a median-absolute-deviation gate
    * is immune to the very outliers it hunts (one 10^9-cent event drags a
    * mean-based 3-sigma fence across the sky; it moves the median by at
    * most one rank). Flag c where |c - median| > 3*MAD.
    *
    * Exactness: medians of integers interpolate only to halves, so 2x the
    * interpolated median is EXACTLY integral in doubles (a+b < 2^53) and
    * both engines' double->int cast agrees on integral values. The
    * pipeline therefore carries med_half = 2*median(cents) (half-cents),
    * hv = |2c - med_half| (half-cents), mad_q = 2*median(hv) (quarter-
    * cents), and tests 2*hv > 3*mad_q — every comparison integer, no
    * 6-dp rounding anywhere.
    *
    * Scale shape: three scans of the (type, cents) projection with only
    * vocabulary-sized (5-row) aggregates shuffled and broadcast back.
    * Exact `percentile` buffers distinct values per group — the
    * documented cost of any exact median (agg_quantile carries the same
    * note); a 100 TB deployment swaps in approx_percentile / t-digest
    * with the rest of the pipeline unchanged, while the mean-based twin
    * (waOutliers) remains the pure two-pass streaming form. */
  val waMadOutliers = QueryDef("wa_mad_outliers",
    """WITH t AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |m AS (SELECT event_type, CAST(2 * quantile_cont(CAST(c AS DOUBLE), 0.5) AS BIGINT) AS med_half FROM t GROUP BY event_type),
      |h AS (SELECT t.event_type, t.c, abs(2*t.c - m.med_half) AS hv, m.med_half
      |      FROM t JOIN m ON m.event_type = t.event_type),
      |md AS (SELECT event_type, CAST(2 * quantile_cont(CAST(hv AS DOUBLE), 0.5) AS BIGINT) AS mad_q,
      |             COUNT(*) AS n FROM h GROUP BY event_type)
      |SELECT h.event_type AS event_type, CAST(MAX(md.n) AS BIGINT) AS n,
      |  CAST(MAX(h.med_half) AS BIGINT) AS med_half,
      |  CAST(MAX(md.mad_q) AS BIGINT) AS mad_q,
      |  CAST(SUM(CASE WHEN 2*h.hv > 3*md.mad_q THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM h JOIN md ON md.event_type = h.event_type
      |GROUP BY h.event_type""".stripMargin) { (spark, d) =>
    val t = Tables.events(spark, d)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val m = t.groupBy("event_type")
      .agg((lit(2) * expr("percentile(c, 0.5)")).cast("long").as("med_half"))
    val h = t.join(broadcast(m), "event_type")
      .select(col("event_type"), abs(lit(2) * col("c") - col("med_half")).as("hv"),
        col("med_half"))
    val md = h.groupBy("event_type")
      .agg((lit(2) * expr("percentile(hv, 0.5)")).cast("long").as("mad_q"),
        count(lit(1)).as("n"))
    h.join(broadcast(md), "event_type")
      .groupBy("event_type")
      .agg(max("n").cast("long").as("n"), max("med_half").as("med_half"),
        max("mad_q").as("mad_q"),
        sum(when(lit(2) * col("hv") > lit(3) * col("mad_q"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Trending event types: per 5-minute tumbling window, the top 3 types
    * by count (ties broken by type name — deterministic on both engines).
    * The batch twin of the streaming trending stage: the SAME
    * [[graft.streaming.StreamingEvents.windowedCounts]] aggregate the
    * declared st_window_agg rides, plus
    * [[graft.streaming.StreamingEvents.topkPerWindow]] — which a
    * streaming deployment applies in the sink over watermark-final
    * windows (StreamingEventsSpec replays exactly that). The rank window
    * partitions by the 5-minute bucket and ranks the TYPE vocabulary —
    * bounded per partition; the only corpus-sized stage is the windowed
    * aggregate's one shuffle. */
  val stTopkTrending = QueryDef("st_topk_trending",
    """WITH c AS (SELECT CAST(epoch_us(ts) // 300000000 * 300000000 AS BIGINT) AS w_start_us,
      |    event_type, COUNT(*) AS n
      |  FROM events WHERE epoch_us(ts) >= 0 GROUP BY 1, 2)
      |SELECT w_start_us, event_type, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY w_start_us
      |        ORDER BY n DESC, event_type) AS rnk FROM c) t
      |WHERE rnk <= 3""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val ev = raw
      .select(expr(s"timestamp_micros(${Tables.tsUsSql(raw)})").as("ts"),
        col("event_type"), col("value"))
      // unix_micros is timezone-free like the oracle's epoch_us; a parsed
      // timestamp LITERAL would shift the cutoff by the session zone
      // offset on any non-UTC session (ADVICE r11)
      .filter(unix_micros(col("ts")) >= 0L)
    graft.streaming.StreamingEvents
      .topkPerWindow(graft.streaming.StreamingEvents.windowedCounts(ev), 3)
      .select(unix_micros(col("w_start")).as("w_start_us"), col("event_type"),
        col("n"), col("rnk").cast("long").as("rnk"))
  }

  /** Streaming heavy hitters, oracle-adjudicated (the ta_heavy_hitters
    * contract per WINDOW): exact per-window counts gate the emitted rows —
    * types with cnt·(K+1) > W, i.e. above the Misra-Gries guarantee
    * threshold — and `in_sketch` probes each against the K-slot mergeable
    * MG summary that [[graft.streaming.StreamingEvents
    * .heavyHittersPerWindow]] maintains as streaming state (O(K) bytes
    * per open window however many distinct keys the window saw — the
    * shape st_topk_trending's exact counts can't take to unbounded key
    * vocabularies). The MG bound makes `in_sketch` deterministically TRUE
    * for every emitted row regardless of Spark's partial-merge order,
    * which is exactly what the oracle states; sub-guarantee candidates
    * are merge-order-dependent and never emitted. K=4 against the 5-type
    * vocabulary keeps genuine slot pressure. The replay spec drives the
    * SAME operator through MemoryStream micro-batches. */
  val stHeavyHitters: QueryDef = {
    val k = 4
    QueryDef("st_heavy_hitters",
      s"""WITH c AS (SELECT CAST(epoch_us(ts) // 300000000 * 300000000 AS BIGINT) AS w_start_us,
        |    event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE epoch_us(ts) >= 0 GROUP BY 1, 2),
        |w AS (SELECT w_start_us, SUM(cnt) AS wt FROM c GROUP BY 1)
        |SELECT c.w_start_us, c.event_type, c.cnt, TRUE AS in_sketch
        |FROM c JOIN w ON w.w_start_us = c.w_start_us
        |WHERE c.cnt * ${k + 1} > w.wt""".stripMargin) { (spark, d) =>
      val raw = Tables.events(spark, d)
      val ev = raw
        .select(expr(s"timestamp_micros(${Tables.tsUsSql(raw)})").as("ts"),
          col("event_type"), col("value"))
        .filter(unix_micros(col("ts")) >= 0L)
      val sk = graft.streaming.StreamingEvents.heavyHittersPerWindow(ev, k)
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("cand"), col("n").as("wt"))
      graft.streaming.StreamingEvents.windowedCounts(ev)
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("event_type"), col("n").as("cnt"))
        .join(sk, "w_start_us")
        .filter(col("cnt") * (k + 1) > col("wt"))
        .select(col("w_start_us"), col("event_type"), col("cnt"),
          array_contains(col("cand"), xxhash64(col("event_type"))).as("in_sketch"))
    }
  }

  val all: Seq[QueryDef] = Seq(waFunnel, waRetention, stWindowAgg, waOutliers,
    stSessionNative, stStreamJoin, waAttribution, waRateLimit, waRollingActive,
    waMadOutliers, stTopkTrending, stHeavyHitters)
}
