package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exprs._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended operator coverage beyond the reference's literal surface:
  * analytic windows with frames, sessionization, rollup, the J2/O4
  * first-success pattern chain, generator-shaped word counting (X9), map
  * lookup (X17), distinct-count stats, bucket collect (A6).
  *
  * events.ts has shipped as both raw nanosecond longs and TIMESTAMP_NTZ;
  * `Tables.tsUs` dispatches on the actual schema to microseconds, exactly
  * matching DuckDB's epoch_us() truncation — no float in any time
  * arithmetic.
  */
object ExtendedQueries {

  private def tsUs(df: org.apache.spark.sql.DataFrame) = Tables.tsUs(df)

  /** Analytic window: lag delta + running decimal sum with ROWS frame. */
  val waLagDelta = QueryDef("wa_lag_delta",
    """SELECT user_id, event_id,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS delta_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin) { (spark, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = Tables.events(spark, d)
    raw
      .select(col("user_id"), col("event_id"), tsUs(raw).as("ts_us"),
        col("value").cast("decimal(18,2)").as("v"))
      .select(col("user_id"), col("event_id"),
        (col("ts_us") - lag("ts_us", 1).over(w)).as("delta_us"),
        sum("v").over(wf).cast("double").as("run_sum"))
  }

  /** Sessionization: new session after a 30-minute silence; per-session
    * stats. Two windows + one groupBy — all integer time math. */
  val waSession = QueryDef("wa_session",
    """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |m AS (SELECT user_id, event_id, ts_us,
      |  CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT user_id, ts_us,
      |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM m)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  CAST(MIN(ts_us) AS BIGINT) AS start_us, CAST(MAX(ts_us) AS BIGINT) AS end_us
      |FROM s GROUP BY user_id, session_seq""".stripMargin) { (spark, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = Tables.events(spark, d)
    raw
      .select(col("user_id"), col("event_id"), tsUs(raw).as("ts_us"))
      .withColumn("new_s",
        when(lag("ts_us", 1).over(w).isNull ||
          col("ts_us") - lag("ts_us", 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("session_seq", sum("new_s").over(wf).cast("long"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"))
  }

  /** ROLLUP over the region/nation hierarchy (grouping-sets family). */
  val rollupAgg = QueryDef("rollup_agg",
    """SELECT r_name, n_name, COUNT(*) AS order_cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin) { (spark, d) =>
    // Dataset.rollup directly — no temp view, so concurrent queries in one
    // session can't collide on a fixed global view name
    Tables.orders(spark, d)
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("o_totalprice"))
      // Column-based overload: the String overload resolves via df.col, whose
      // dataset-id tags false-positive Spark 4's ambiguous-self-join check
      // under the rollup Expand
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  /** CUBE over (region, order priority) with GROUPING() markers — the rest
    * of the grouping-sets family next to rollup_agg. */
  val cubeAgg = QueryDef("cube_agg",
    """SELECT r_name, o_orderpriority,
      |  CAST(GROUPING(r_name) AS INTEGER) AS g_r,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
      |  COUNT(*) AS order_cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, o_orderpriority)""".stripMargin) { (spark, d) =>
    // Dataset.cube + grouping() markers — same no-temp-view rationale as
    // rollup_agg above
    Tables.orders(spark, d)
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("o_orderpriority"), col("o_totalprice"))
      // Column-based overload — same self-join-check rationale as rollup_agg
      .cube(col("r_name"), col("o_orderpriority"))
      .agg(grouping(col("r_name")).cast("int").as("g_r"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"),
        count(lit(1)).as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .select("r_name", "o_orderpriority", "g_r", "g_p", "order_cnt", "revenue")
  }

  /** J2/O4: ranked candidate patterns per firm, first "accessible" wins
    * (step1_attempt1.py:27-62, main_portCo.py:58-70). The probe is a
    * deterministic stand-in for check_page_accessible (S6 is an external
    * effect, SURVEY.md §2.1). */
  val o4FirstSuccess: QueryDef = {
    val pats = Seq(1 -> "/portfolio", 2 -> "/investments", 3 -> "/portfolio-companies",
      4 -> "/companies", 5 -> "/our-investments", 6 -> "/funds")
    val valuesSql = pats.map { case (r, s) => s"($r, '$s')" }.mkString(", ")
    QueryDef("o4_first_success",
      s"""WITH pat AS (SELECT * FROM (VALUES $valuesSql) p(rank, sub)),
        |cand AS (
        |  SELECT s_suppkey, rank,
        |    concat('https://www.', lower(regexp_replace(s_name, '#', '')), '.example.com', sub) AS candidate
        |  FROM supplier CROSS JOIN pat
        |  WHERE (s_suppkey * 7 + rank * 13) % 5 <> 0)
        |SELECT s_suppkey, CAST(rank AS INTEGER) AS chosen_rank, candidate FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_suppkey ORDER BY rank) AS rn FROM cand) t
        |WHERE rn = 1""".stripMargin) { (spark, d) =>
      import spark.implicits._
      val pat = pats.toDF("rank", "sub")
      val cand = Tables.supplier(spark, d).crossJoin(broadcast(pat))
        .withColumn("candidate",
          concat(lit("https://www."), lower(regexp_replace(col("s_name"), "#", "")),
            lit(".example.com"), col("sub")))
        .filter((col("s_suppkey") * 7 + col("rank") * 13) % 5 =!= 0)
      val w = Window.partitionBy("s_suppkey").orderBy("rank")
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("s_suppkey"), col("rank").cast("int").as("chosen_rank"), col("candidate"))
    }
  }

  /** X9 generator shape: explode to words, top-20 frequency. */
  val x9WordCount = QueryDef("x9_word_count",
    s"""SELECT w AS word, COUNT(*) AS n_occ
      |FROM (SELECT unnest($wordsSql) AS w FROM documents) t
      |GROUP BY w ORDER BY n_occ DESC, word LIMIT 20""".stripMargin) { (spark, d) =>
    Tables.documents(spark, d)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("word")).limit(20)
  }

  /** X17 dynamic key lookup (founded_year.py:72-74): value of the first key
    * containing "k". Native `graft_json_key_long` byte scan — the declarative
    * twin `foundedValue(from_json(props, map<string,int>), "(?i)k")` is
    * spec-matched in PlansSpec but runs from_json on the interpreted
    * evaluator (per-row parser construction, the deopt-stall hazard family
    * documented at graft.plans.JsonFieldUtil). */
  val x17MapLookup = QueryDef("x17_map_lookup",
    """SELECT event_id, CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER) AS k_val
      |FROM events WHERE event_type = 'purchase'""".stripMargin) { (spark, d) =>
    Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        graft.plans.jsonKeyLong(col("props"), "k").cast("int").as("k_val"))
  }

  /** Distinct-count stats per segment (free aggregation family, §2.4). */
  val a7DistinctStats = QueryDef("a7_distinct_stats",
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
      |FROM customer GROUP BY c_mktsegment""".stripMargin) { (spark, d) =>
    Tables.customer(spark, d)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        countDistinct("c_nationkey").as("n_nations"))
  }

  /** A6 set-dedup within bucket + stable sort (step2_attempt1.py:97-109). */
  val a6BucketSort = QueryDef("a6_bucket_sort",
    """SELECT event_type, string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS ks
      |FROM (SELECT DISTINCT event_type, CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER) % 25 AS k FROM events) t
      |GROUP BY event_type""".stripMargin) { (spark, d) =>
    Tables.events(spark, d)
      .select(col("event_type"),
        (graft.plans.jsonLong(col("props"), "k").cast("int") % 25).as("k"))
      .groupBy("event_type")
      .agg(concat_ws(",", transform(sort_array(collect_set(col("k"))),
        x => x.cast("string"))).as("ks"))
  }

  /** Relational PIVOT: per-user event counts spread across one column per
    * event type (explicit value list -> deterministic schema; Spark plans
    * this as a single pivot aggregate, the oracle states the equivalent
    * conditional aggregation). */
  val pivotAgg: QueryDef = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val caseCols = types.map(t =>
      s"CAST(COALESCE(SUM(CASE WHEN event_type = '$t' THEN 1 END), 0) AS BIGINT) AS $t").mkString(",\n      |  ")
    QueryDef("pivot_agg",
      s"""SELECT user_id,
        |  $caseCols
        |FROM events GROUP BY user_id""".stripMargin) { (spark, d) =>
      val pivoted = Tables.events(spark, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(pivoted)((df, t) =>
        df.withColumn(t, coalesce(col(t), lit(0L))))
    }
  }

  /** Relational UNPIVOT (melt): lineitem's three numeric measures to a long
    * (key, metric, value) table — Spark's unpivot operator, the oracle's
    * UNION ALL of projections. */
  val unpivotMetrics = QueryDef("unpivot_metrics",
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin) { (spark, d) =>
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
  }

  /** Approximate sketch aggregates (HyperLogLog++ distinct, quantile
    * sketch): the single-pass mergeable answer to COUNT(DISTINCT)/
    * percentile at 100 TB. Sketch ESTIMATES are engine-specific and can't
    * hash-match DuckDB, but error-bounded BOOLEANS can: Spark computes both
    * the sketch and the exact value in one aggregate pass and emits
    * "estimate within bound" flags; the oracle computes the exact columns
    * and states the bound flags as literal true. A false on the Spark side
    * (sketch drifted out of tolerance) is then a hash mismatch — i.e. the
    * sketch accuracy itself is driver-adjudicated, not self-graded.
    * Bounds: HLL++ with rsd=0.005 (2^16 registers) vs a 2% gate (4 sigma);
    * percentile_approx accuracy=10000 (rank error <= n/10000) vs a 5%
    * value gate on the median. */
  val approxStats = QueryDef("approx_stats",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n,
      |  COUNT(DISTINCT o_custkey) AS exact_customers,
      |  true AS hll_within_2pct,
      |  true AS p50_within_5pct
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (spark, d) =>
    // The exact distinct count runs as its OWN aggregation, joined back on
    // the 5-row group key — NEVER in the same agg as the sketches. Mixing
    // countDistinct with buffer-heavy imperative aggregates triggers
    // Spark's distinct-rewrite expand: the sketches lose map-side partial
    // aggregation and PartialMerge per (group, custkey) row instead — an
    // O(registers)=2^16 HLL buffer merge PER ROW. Measured: 20 s at
    // sf0.01 looked like a constant; at sf1 it was 20+ single-core
    // MINUTES (~750k x 64 KB merges) — the shape never finishes at
    // 100 TB. Split, both scans keep true partial agg (one merge per map
    // partition) and the join is a 5-row broadcast.
    val base = Tables.orders(spark, d)
    // graft.plans.hllDistinct == approx_count_distinct bit-for-bit (same
    // HyperLogLogPlusPlusHelper hashing/registers/bias query), but the
    // register file is one typed buffer mutated in place instead of 6,554
    // flattened long buffer slots — the built-in's cost scaled with the
    // REGISTER count per row (rsd ladder in Probe, round 18: 3.1 s at
    // rsd=0.005 vs 0.33 s at 0.05 on identical rows), which at 100 TB
    // taxes every scanned row by the sketch width.
    val sketches = base.groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        graft.plans.hllDistinct(col("o_custkey"), 0.005).as("hll_customers"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("kll_median"),
        expr("percentile(o_totalprice, 0.5)").as("exact_median"))
    // isNotNull before distinct: COUNT(DISTINCT x) ignores NULLs on both
    // engines, and distinct()+count would count one — the testdata has no
    // NULL custkeys today, but the split must preserve the semantics
    val exactDistinct = base.filter(col("o_custkey").isNotNull)
      .select("o_orderpriority", "o_custkey").distinct()
      .groupBy("o_orderpriority").agg(count(lit(1)).as("exact_customers"))
    // LEFT join + coalesce(0): a group whose custkeys are ALL NULL has no
    // row in exactDistinct, but the oracle's single aggregate still emits
    // it with COUNT(DISTINCT)=0 — an inner join would drop it (ADVICE r11)
    val exact0 = coalesce(col("exact_customers"), lit(0L))
    sketches.join(exactDistinct, Seq("o_orderpriority"), "left")
      .select(
        col("o_orderpriority"), col("n"),
        exact0.as("exact_customers"),
        (abs(col("hll_customers") - exact0) <=
          exact0 * lit(0.02)).as("hll_within_2pct"),
        (abs(col("kll_median") - col("exact_median")) <=
          col("exact_median") * lit(0.05)).as("p50_within_5pct"))
  }

  /** The events table as the typed stream-shaped Dataset both batch-mode
    * streaming twins fold over — ONE definition of the schema-dispatched
    * ts->timestamp conversion (the st_session oracle's ms-flooring contract
    * hangs off it), two callers. */
  private def eventsDs(spark: org.apache.spark.sql.SparkSession, d: String) = {
    import spark.implicits._
    val raw = Tables.events(spark, d)
    raw
      .select(expr(s"timestamp_micros(${Tables.tsUsSql(raw)})").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.StreamingEvents.Event]
  }

  /** §2.9 streaming surface, driver-adjudicated (VERDICT r6 #8): the SAME
    * `mapGroupsWithState` fold the streaming spec drives through
    * MemoryStream micro-batches, here run in BATCH mode over the events
    * table (Spark executes mapGroupsWithState on a batch Dataset as one
    * empty-initial-state pass per group — identical per-group logic, one
    * function, two callers). The fold accumulates fixed-point cents, so
    * its running total is order-independent and the oracle can state it
    * as a plain grouped sum. */
  val stRunningStats = QueryDef("st_running_stats",
    """SELECT user_id, COUNT(*) AS n_events,
      |  SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
      |FROM events GROUP BY user_id""".stripMargin) { (spark, d) =>
    graft.streaming.StreamingEvents.runningUserStats(eventsDs(spark, d))
      .toDF("user_id", "n_events", "total_value")
  }

  /** §2.9 streaming surface #2 (sibling of [[stRunningStats]]): the SAME
    * `flatMapGroupsWithState` sessionizer the streaming spec drives, run
    * in batch mode. Semantics pinned by the oracle: the fold emits CLOSED
    * sessions only — a session closes when the next same-user event
    * arrives more than 30 min later — and each user's trailing session
    * stays open in state (in a stream it would close on a later batch),
    * so the oracle replays gap-sessionization in epoch-MILLISECONDS
    * (`Timestamp.getTime` and DuckDB `epoch_ms` both floor) and drops
    * each user's last session. Tie order within a millisecond is
    * irrelevant: equal timestamps can never exceed the gap. */
  val stSession = QueryDef("st_session",
    """WITH t AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      |m AS (SELECT user_id, event_id, ts_ms,
      |  CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |s AS (SELECT user_id, ts_ms,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      |  FROM m),
      |g AS (SELECT user_id, seq, COUNT(*) AS n, MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms
      |      FROM s GROUP BY user_id, seq),
      |x AS (SELECT *, MAX(seq) OVER (PARTITION BY user_id) AS mx FROM g)
      |SELECT user_id, CAST(s_ms AS BIGINT) AS start_ms, CAST(e_ms AS BIGINT) AS end_ms,
      |  CAST(n AS INTEGER) AS n_events
      |FROM x WHERE seq < mx""".stripMargin) { (spark, d) =>
    graft.streaming.StreamingEvents.sessionize(eventsDs(spark, d), gapMs = 1800000L)
      .toDF("user_id", "start_ms", "end_ms", "n_events")
  }

  /** §2.9 streaming surface #3 — the FIRST-SEEN DEDUP semantics of
    * [[graft.streaming.StreamingEvents.firstSeenDedup]]
    * (`dropDuplicatesWithinWatermark`) stated in batch, event-time order:
    * the earliest event per (user_id, event_type) by (ts, event_id).
    * Batch `dropDuplicates` keeps an ARBITRARY row per key (partition-order
    * dependent — unhashable), so the batch twin pins the canonical
    * event-time winner instead, and StreamingEventsSpec closes the loop by
    * driving the real watermarked stream operator over a ts-ordered replay
    * and asserting it lands on exactly these rows (arrival order = event
    * time is the replay/backfill contract under which streaming dedup is
    * deterministic at all).
    *
    * Plan shape: min-of-struct argmin — ONE partial-agg-friendly shuffle
    * carrying (key, 24-byte struct) per map-side group, vs the oracle's
    * window statement which would shuffle and sort every raw event. Same
    * shape as w2's argmax; at 100 TB the map-side combine is the
    * difference between shuffling the event log and shuffling one row per
    * live key per partition. */
  val stFirstSeen: QueryDef = QueryDef("st_first_seen",
    """WITH t AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
      |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events)
      |SELECT user_id, event_type, CAST(ts_us AS BIGINT) AS first_ts_us,
      |  CAST(event_id AS BIGINT) AS first_event_id, value AS first_value
      |FROM t WHERE rn = 1""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    raw.select(col("user_id"), col("event_type"),
        Tables.tsUs(raw).as("ts_us"), col("event_id"), col("value"))
      .groupBy("user_id", "event_type")
      .agg(min(struct(col("ts_us"), col("event_id"), col("value"))).as("f"))
      .select(col("user_id"), col("event_type"),
        col("f.ts_us").as("first_ts_us"), col("f.event_id").as("first_event_id"),
        col("f.value").as("first_value"))
  }

  /** CDC latest-state compaction — the lakehouse upsert view: the event
    * log is a change stream keyed by user_id, the snapshot is each key's
    * LATEST event, and keys whose latest event is a tombstone ('error'
    * stands in for the delete marker on this schema) drop out entirely.
    * The complement of [[stFirstSeen]]: same one-shuffle arg-max-struct
    * aggregate (max instead of min; (ts_us, event_id) is a unique key so
    * the trailing payload fields never decide the comparison), with the
    * tombstone filter applied AFTER the arg-max — a key deleted then
    * never re-upserted must vanish, not resurface its prior state.
    *
    * Scale shape: partial arg-max per input partition, then one shuffle
    * of one row per live key per partition — log-volume-independent
    * state, the compaction every streaming-table reader runs. */
  val stCdcUpsert: QueryDef = QueryDef("st_cdc_upsert",
    """WITH t AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us FROM events),
      |l AS (SELECT user_id, event_id, event_type, value, ts_us,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM t)
      |SELECT user_id, CAST(event_id AS BIGINT) AS last_event_id,
      |  CAST(ts_us AS BIGINT) AS last_ts_us, event_type AS last_type, value AS last_value
      |FROM l WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    raw.select(col("user_id"), tsUs(raw).as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"),
        col("value"))).as("l"))
      .filter(col("l.event_type") =!= "error")
      .select(col("user_id"), col("l.event_id").as("last_event_id"),
        col("l.ts_us").as("last_ts_us"), col("l.event_type").as("last_type"),
        col("l.value").as("last_value"))
  }

  /** Equi-width histogram of event value per type: bucket = cents div 1000
    * (10-dollar bins), count and within-type share in integer ppm. The
    * distribution-profiling primitive (data validation, drift monitoring,
    * bin-packing decisions) as ONE partial-agg'd groupBy over (type,
    * bucket) — the histogram never materializes per-row state, and the
    * per-type totals DERIVE from the bucket counts (a second, vocabulary-
    * sized aggregation) instead of re-scanning the table. Bucket ids use
    * truncating div == floor div because values are non-negative by
    * construction (cents >= 1 in this schema; a signed-value deployment
    * would switch to floor()). */
  val aggHistogram = QueryDef("agg_histogram",
    """WITH t AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) // 1000 AS bucket FROM events),
      |b AS (SELECT event_type, bucket, COUNT(*) AS n FROM t GROUP BY event_type, bucket),
      |s AS (SELECT event_type, SUM(n) AS tot FROM b GROUP BY event_type)
      |SELECT b.event_type AS event_type, CAST(b.bucket AS BIGINT) AS bucket,
      |  CAST(b.n AS BIGINT) AS n,
      |  CAST(b.n * CAST(1000000 AS BIGINT) // s.tot AS BIGINT) AS share_ppm
      |FROM b JOIN s ON s.event_type = b.event_type""".stripMargin) { (spark, d) =>
    val b = Tables.events(spark, d)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint) div 1000").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
    val s = b.groupBy("event_type").agg(sum("n").as("tot"))
    b.join(broadcast(s), "event_type")
      .select(col("event_type"), col("bucket"), col("n").cast("long").as("n"),
        expr("n * 1000000L div tot").as("share_ppm"))
  }

  /** Quartile binning of documents by length — the quantile-discretizer
    * primitive (feature binning, curriculum bucketing, length-balanced
    * batch packing). The scale-defining choice: NEVER a global
    * `ntile() OVER (ORDER BY ...)` — that is a single-partition total sort
    * of the corpus. Thresholds come from ONE aggregate (three exact
    * interpolated quartiles over a 5-value-ish distribution), broadcast
    * back, and the assignment is a codegen'd CASE in the scan stage: one
    * pass, no wide shuffle, no sort.
    *
    * Exactness: quartile interpolation lands only on quarter-integers, so
    * 4x every quantity is EXACTLY integral in doubles and the engines'
    * casts agree — the wa_mad_outliers half-cent rule at 0.25 grain. At
    * 100 TB the thresholds swap to approx_percentile with the binning CASE
    * unchanged (the same documented swap as agg_quantile/wa_mad_outliers). */
  val aggQuantileBins = QueryDef("agg_quantile_bins",
    """WITH q AS (SELECT
      |    CAST(4*quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS BIGINT) AS t1,
      |    CAST(4*quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS BIGINT) AS t2,
      |    CAST(4*quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS BIGINT) AS t3
      |  FROM documents)
      |SELECT doc_id, CAST(CASE WHEN 4*n_chars <= t1 THEN 0
      |  WHEN 4*n_chars <= t2 THEN 1 WHEN 4*n_chars <= t3 THEN 2
      |  ELSE 3 END AS BIGINT) AS bin
      |FROM documents, q""".stripMargin) { (spark, d) =>
    val docs = Tables.documents(spark, d).select("doc_id", "n_chars")
    val q = docs.agg(
      (lit(4) * expr("percentile(n_chars, 0.25)")).cast("long").as("t1"),
      (lit(4) * expr("percentile(n_chars, 0.5)")).cast("long").as("t2"),
      (lit(4) * expr("percentile(n_chars, 0.75)")).cast("long").as("t3"))
    docs.crossJoin(broadcast(q))
      .select(col("doc_id"),
        when(lit(4) * col("n_chars") <= col("t1"), 0L)
          .when(lit(4) * col("n_chars") <= col("t2"), 1L)
          .when(lit(4) * col("n_chars") <= col("t3"), 2L)
          .otherwise(3L).as("bin"))
  }

  /** Per-key top-k WITHOUT a window sort: the bounded-state
    * [[graft.plans.TopKStructs]] aggregate holds <= 3 struct rows per
    * user and partial-aggregates map-side, so each task ships at most 3
    * rows per user — never the user's full purchase history. The window
    * form (the oracle's statement) shuffles and sorts EVERY row of every
    * key to keep 3; on a skewed 10^9-row key that is the difference
    * between a sort and 3 rows of state. Rank fields ride in the struct
    * (cents, event_id), DESC lexicographic, event_id unique — total
    * order, both engines deterministic. */
  val wTopkPerKey = QueryDef("w_topk_per_key",
    """WITH t AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents, event_id
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, cents, event_id, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY cents DESC, event_id DESC) AS rnk FROM t)
      |SELECT user_id, CAST(rnk AS BIGINT) AS rnk, cents, event_id
      |FROM r WHERE rnk <= 3""".stripMargin) { (spark, d) =>
    Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"), col("event_id"))
      .groupBy("user_id")
      .agg(graft.plans.topK(struct(col("cents"), col("event_id")), 3).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.cents").as("cents"), col("col.event_id").as("event_id"))
  }

  val all: Seq[QueryDef] = Seq(
    waLagDelta, waSession, rollupAgg, cubeAgg, o4FirstSuccess, x9WordCount,
    x17MapLookup, a7DistinctStats, a6BucketSort, pivotAgg, unpivotMetrics,
    approxStats, stRunningStats, stSession, stFirstSeen, stCdcUpsert,
    aggHistogram, aggQuantileBins, wTopkPerKey)
}
