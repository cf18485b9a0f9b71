package graft

import graft.streaming.StreamingEvents
import graft.streaming.StreamingEvents.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Watermarked windowed aggregation + arbitrary-state sessionization over
  * MemoryStream fixtures (deterministic micro-batches). */
class StreamingEventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts emit once the watermark passes the window end") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingEvents.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("win_counts").outputMode("append").start()
    try {
      // two events in [10:00,10:05), one in [10:05,10:10)
      in.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 2L, "click", 2.0),
        Event(ts(6), 1L, "error", 5.0))
      q.processAllAvailable()
      // advance event time far enough that watermark (10 min) passes both windows
      in.addData(Event(ts(40), 3L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getDouble(4)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 10:05:00.0", "error", 1L, 5.0)))
    } finally q.stop()
  }

  test("topkPerWindow over the streamed sink equals the batch trending query on closed windows") {
    implicit val sc = spark.sqlContext
    val raw = Tables.events(spark, sf0001)
    val ordered = raw.selectExpr(
        s"timestamp_micros(${Tables.tsUsSql(raw)}) as ts", "user_id",
        "event_type", "value")
      .orderBy("ts").collect()
      .map(r => Event(r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val in = MemoryStream[Event]
    val q = StreamingEvents.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("trend_replay")
      .outputMode("append").start()
    try {
      val (b1, b2) = ordered.splitAt(ordered.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      // append mode: only windows the final watermark passed have emitted —
      // the sink-side rank is exactly the deployment shape
      val streamedTopk = StreamingEvents.topkPerWindow(spark.table("trend_replay"), 3)
        .selectExpr("unix_micros(w_start) as w_start_us", "event_type", "n", "rnk")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      val closed = streamedTopk.map(_._1).toSet
      assert(closed.nonEmpty, "replay must close at least one window")
      val batch = graft.operators.EventAnalytics.stTopkTrending.fn(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3).toInt))
        .filter(t => closed.contains(t._1))
      assert(streamedTopk.toSet == batch.toSet)
    } finally q.stop()
  }

  test("mapGroupsWithState running stats accumulate across micro-batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingEvents.runningUserStats(in.toDS())
      .writeStream.format("memory").queryName("user_stats").outputMode("update").start()
    try {
      in.addData(Event(ts(1), 1L, "click", 2.0), Event(ts(2), 1L, "click", 3.0),
        Event(ts(2), 2L, "click", 7.0))
      q.processAllAvailable()
      in.addData(Event(ts(3), 1L, "error", 5.0))
      q.processAllAvailable()
      // update mode: latest row per user carries the cumulative totals
      val latest = spark.table("user_stats").as[StreamingEvents.UserStats]
        .collect().groupBy(_.user_id)
        .map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(latest(1L) == StreamingEvents.UserStats(1L, 3L, 10.0))
      assert(latest(2L) == StreamingEvents.UserStats(2L, 1L, 7.0))
    } finally q.stop()
  }

  test("watermark-bounded streaming dedup keeps the first row per key across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingEvents.firstSeenDedup(in.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      // batch 1: user 1 click appears twice within the batch
      in.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 1L, "click", 2.0),
        Event(ts(2), 2L, "click", 3.0))
      q.processAllAvailable()
      // batch 2: replay of user 1 click within the watermark horizon is
      // dropped; a new (user, type) passes
      in.addData(Event(ts(3), 1L, "click", 4.0), Event(ts(4), 1L, "error", 5.0))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .collect().map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(got == Set((1L, "click", 1.0), (2L, "click", 3.0), (1L, "error", 5.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingEvents.sessionize(in.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // batch 1: user 1 session A (10:01,10:02), then an event 2h later
      // closes A within the batch
      in.addData(Event(ts(1), 1L, "click", 0.0), Event(ts(2), 1L, "click", 0.0),
        Event(Timestamp.valueOf("2024-01-01 12:30:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      // batch 2: another 2h later closes session B; user 2 opens (stays in state)
      in.addData(Event(Timestamp.valueOf("2024-01-01 14:45:00"), 1L, "click", 0.0),
        Event(ts(3), 2L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions").as[StreamingEvents.Session]
        .collect().sortBy(_.start_ms)
      assert(got.length == 2)
      assert(got(0).user_id == 1L && got(0).n_events == 2 &&
        got(0).start_ms == ts(1).getTime && got(0).end_ms == ts(2).getTime)
      assert(got(1).user_id == 1L && got(1).n_events == 1 &&
        got(1).start_ms == Timestamp.valueOf("2024-01-01 12:30:00").getTime)
    } finally q.stop()
  }

  test("st_first_seen batch twin equals the streaming dedup over a ts-ordered replay") {
    // the contract the batch twin pins: when arrival order = event-time
    // order (the replay/backfill case), dropDuplicatesWithinWatermark
    // keeps exactly the event-time-first row per key — which is what the
    // oracle-gated st_first_seen argmin states. Drive the REAL stream
    // operator over the sf0.001 events replayed in (ts, event_id) order
    // and compare full rows.
    implicit val sc = spark.sqlContext
    val raw = Tables.events(spark, sf0001)
    val ordered = raw.selectExpr(
        s"timestamp_micros(${Tables.tsUsSql(raw)}) as ts", "user_id",
        "event_type", "value", "event_id",
        s"${Tables.tsUsSql(raw)} as ts_us")
      .orderBy("ts_us", "event_id")
      .collect()
    val in = MemoryStream[(Timestamp, Long, String, Double, Long)]
    // dedup on the key columns only; event_id rides along to identify the
    // surviving row exactly (value alone could collide)
    // horizon wider than the fixture's whole time span: key state must not
    // evict mid-replay, or a recurring key would legitimately re-emit
    // (bounded-state eviction behavior is pinned by the unit test above)
    val q = StreamingEvents.firstSeenDedup(
        in.toDF().toDF("ts", "user_id", "event_type", "value", "event_id"),
        Seq("user_id", "event_type"), watermark = "36500 days")
      .writeStream.format("memory").queryName("first_seen_replay")
      .outputMode("append").start()
    try {
      // two micro-batches to cross a batch boundary mid-stream
      val (b1, b2) = ordered.splitAt(ordered.length / 2)
      in.addData(b1.map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4))))
      q.processAllAvailable()
      in.addData(b2.map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4))))
      q.processAllAvailable()
      val streamed = spark.table("first_seen_replay")
        .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(4))).toSet
      val batch = graft.operators.ExtendedQueries.stFirstSeen.fn(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("batch-mode sessionize (st_session) equals an independent gap fold") {
    // the driver oracle replays this in SQL; here a plain Scala fold over
    // the same events pins the CLOSED-sessions-only contract independently
    val out = graft.operators.ExtendedQueries.stSession.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(out.nonEmpty)
    val eventsRaw = Tables.events(spark, sf0001)
    val events = eventsRaw
      // schema-dispatched µs, floored to ms (matches Timestamp.getTime)
      .selectExpr("user_id", s"${Tables.tsUsSql(eventsRaw)} div 1000 as ts_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = events.groupBy(_._1).flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[(Long, Long, Int)]) {
        case (Nil, t) => List((t, t, 1))
        case ((s, e, n) :: rest, t) =>
          if (t - e <= 1800000L) (s, t, n + 1) :: rest
          else (t, t, 1) :: (s, e, n) :: rest
      }.reverse
      sessions.dropRight(1).map { case (s, e, n) => (u, s, e, n) } // drop the open one
    }.toSet
    assert(out === expected)
  }

  test("stream-stream interval join emits the batch-twin pairs across micro-batches") {
    implicit val sc = spark.sqlContext
    val cIn = MemoryStream[(Timestamp, Long, Long, Double)]
    val pIn = MemoryStream[(Timestamp, Long, Long, Double)]
    def df(s: MemoryStream[(Timestamp, Long, Long, Double)]) =
      s.toDF().toDF("ts", "user_id", "event_id", "value")
    val q = StreamingEvents.intervalJoin(df(cIn), df(pIn))
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      // click@1 -> purchase@5 (within 10 min); click@20 -> purchase@25;
      // user 2's purchase has no click; the @30/@30 pair is NOT attributed
      // (strict > on the lower bound)
      cIn.addData((ts(1), 1L, 100L, 0.0), (ts(20), 1L, 101L, 0.0),
        (ts(30), 4L, 102L, 0.0))
      pIn.addData((ts(5), 1L, 200L, 9.0), (ts(25), 1L, 201L, 7.0),
        (ts(40), 2L, 202L, 1.0), (ts(30), 4L, 203L, 5.0))
      q.processAllAvailable()
      // advance both watermarks past every window so all results are final
      cIn.addData((ts(59), 9L, 999L, 0.0))
      pIn.addData((ts(59), 9L, 998L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("ssj")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === Set(
        (1L, 100L, 200L, 240000000L),
        (1L, 101L, 201L, 300000000L)))
      // and the SAME function over the same rows in batch mode agrees
      val rows = Seq((ts(1), 1L, 100L, 0.0), (ts(20), 1L, 101L, 0.0),
        (ts(30), 4L, 102L, 0.0), (ts(59), 9L, 999L, 0.0))
      val prows = Seq((ts(5), 1L, 200L, 9.0), (ts(25), 1L, 201L, 7.0),
        (ts(40), 2L, 202L, 1.0), (ts(30), 4L, 203L, 5.0), (ts(59), 9L, 998L, 0.0))
      val batch = StreamingEvents.intervalJoin(
        rows.toDF("ts", "user_id", "event_id", "value"),
        prows.toDF("ts", "user_id", "event_id", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch === streamed)
    } finally q.stop()
  }

  test("streaming heavy hitters: MG guarantee holds on closed windows across micro-batch merges") {
    implicit val sc = spark.sqlContext
    val K = 2 // guarantee: weight > W/(K+1) = W/3 holds a slot
    // window 10:00 — click 6/9 (guaranteed), scroll 2, error 1;
    // window 10:05 — error 5/6 (guaranteed), click 1; rows split across
    // micro-batches so the serialized sketch state MERGES across batches
    def ev(m: Int, t: String, n: Int) = Seq.fill(n)(Event(ts(m), 1L, t, 1.0))
    val batch1 = ev(0, "click", 4) ++ ev(1, "scroll", 2) ++ ev(5, "error", 2)
    val batch2 = ev(2, "click", 2) ++ ev(3, "error", 1) ++
      ev(6, "error", 3) ++ ev(7, "click", 1)
    val in = MemoryStream[Event]
    val q = StreamingEvents.heavyHittersPerWindow(in.toDF(), K)
      .writeStream.format("memory").queryName("hh_replay")
      .outputMode("append").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      in.addData(Event(ts(40), 3L, "click", 1.0)); q.processAllAvailable()
      val got = spark.table("hh_replay").collect()
        .map(r => (r.getTimestamp(0).toString,
          (r.getSeq[Long](2).toSet, r.getLong(3)))).toMap
      val hash = spark.sql(
        "SELECT xxhash64('click'), xxhash64('error'), xxhash64('scroll')")
        .collect()(0)
      val (hClick, hError) = (hash.getLong(0), hash.getLong(1))
      // both windows closed; O(k) state: never more than K candidates
      assert(got.keySet === Set("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
      assert(got.values.forall(_._1.size <= K))
      // the mergeable-summaries guarantee, merge order notwithstanding
      val w0 = got("2024-01-01 10:00:00.0")
      assert(w0._2 === 9L && w0._1.contains(hClick), "click 6/9 > W/3 must hold a slot")
      val w1 = got("2024-01-01 10:05:00.0")
      assert(w1._2 === 6L && w1._1.contains(hError), "error 5/6 > W/3 must hold a slot")
      // batch twin: the same operator over the same rows as a plain
      // DataFrame satisfies the same guarantee (one definition, two modes)
      val batchRun = StreamingEvents.heavyHittersPerWindow(
          (batch1 ++ batch2).toDF(), K).collect()
        .map(r => r.getTimestamp(0).toString -> r.getSeq[Long](2).toSet).toMap
      assert(batchRun("2024-01-01 10:00:00.0").contains(hClick))
      assert(batchRun("2024-01-01 10:05:00.0").contains(hError))
    } finally q.stop()
  }
}
