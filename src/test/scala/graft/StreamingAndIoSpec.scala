package graft

import graft.operators.{SeedPipeline, Sinks}
import graft.sources.Connectors
import graft.streaming.{RollingIngest, StreamingSeed}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming seed ingest (§2.9), connector scaffolding (S4–S7), sinks (K1–K4). */
class StreamingAndIoSpec extends SparkSpec {
  import spark.implicits._

  test("streaming seed ingest reproduces the golden 28 firms") {
    val q = StreamingSeed.runToMemory(spark, "/root/reference/logs", "seed_stream")
    try {
      val got = spark.table("seed_stream")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = spark.read.option("header", "true")
        .csv("/root/reference/output/PE_firms.csv")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == want)
      assert(got.size == 28)
    } finally q.stop()
  }

  test("withRetry retries with base-2 exponential backoff then succeeds") {
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Connectors.withRetry(maxRetries = 5, baseDelayMs = 100, sleep = delays += _) { () =>
      calls += 1
      if (calls < 4) throw new RuntimeException("429")
      "ok"
    }
    assert(out == "ok")
    assert(calls == 4)
    assert(delays.toSeq == Seq(100L, 200L, 400L)) // base-2, like the reference
  }

  test("withRetry gives up after maxRetries") {
    var calls = 0
    intercept[RuntimeException] {
      Connectors.withRetry(maxRetries = 2, baseDelayMs = 0, sleep = _ => ()) { () =>
        calls += 1; throw new RuntimeException("boom")
      }
    }
    assert(calls == 3)
  }

  test("withRetry does not retry an interrupt: it propagates with no sleep") {
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    intercept[InterruptedException] {
      Connectors.withRetry(maxRetries = 5, baseDelayMs = 1000, sleep = delays += _) { () =>
        calls += 1; throw new InterruptedException("stop")
      }
    }
    assert(calls == 1)
    assert(delays.isEmpty)
  }

  test("probePages enriches with accessibility; F12 extensions always fail") {
    val urls = Seq("https://x.com/portfolio", "https://x.com/report.pdf").toDF("url")
    val out = Connectors.probePages(urls, "url").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!out("https://x.com/report.pdf"))
  }

  test("K2 JSONL append sink round-trips the envelope") {
    val dir = Files.createTempDirectory("graft_k2").toString + "/logs"
    val df = Seq(("2025-01-01T00:00:00", "https://a", 200L)).toDF("datetime", "url", "status")
    Sinks.appendJsonl(df, dir, Seq("datetime", "url", "status"))
    Sinks.appendJsonl(df, dir, Seq("datetime", "url", "status")) // append again
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.select("url").distinct().collect().head.getString(0) == "https://a")
  }

  test("A4+K3 nested assembly emits sorted portco docs per firm") {
    val firms = Seq(("acme"), ("zen")).toDF("firm")
    val portcos = Seq(
      ("acme", "beta", "https://b", 2.0),
      ("acme", "alpha", "https://a", 1.0)
    ).toDF("firm", "name", "url", "score")
    val out = Sinks.nestedAssembly(firms, portcos, "firm")
    val acme = out.filter($"firm" === "acme").select("portcos").collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(acme.map(_.getString(0)) == Seq("alpha", "beta")) // sorted
    val zen = out.filter($"firm" === "zen").select(size($"portcos")).collect().head.getInt(0)
    assert(zen == 1) // left join keeps firm with a single null-struct entry

    val dir = Files.createTempDirectory("graft_k3").toString + "/docs"
    Sinks.writeNestedJson(out, dir)
    assert(spark.read.json(dir).count() == 2)
  }

  test("K4 run-partitioned sink prunes by run_ts on read") {
    val dir = Files.createTempDirectory("graft_k4").toString + "/runs"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Sinks.writeRunPartitioned(df, dir, "2025-01-01_00-00-00")
    Sinks.writeRunPartitioned(df, dir, "2025-01-02_00-00-00")
    val all = spark.read.parquet(dir)
    assert(all.count() == 4)
    val one = all.filter($"run_ts" === "2025-01-01_00-00-00")
    assert(one.count() == 2)
    // partition pruning visible in the plan
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || one.inputFiles.length == 1)
  }

  test("rolling ingest: streamed micro-batches drive the ANN store; equals batch replay") {
    // The streaming x incremental composition: three micro-batches flow
    // through RollingIngest.annIngest — each probes the store of every
    // PRIOR batch and appends its own bands, batch 3 RE-INGESTING two ids
    // with perturbed vectors (supersede). The cumulative sink output must
    // equal calling lshAnnIncremental in plain batch mode per step over
    // the same superseded corpora — streaming mechanics (foreachBatch,
    // versioned parquet store, round-trip) must not change one row.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(64)(j => (math.sin(seed * 31 + j * 7) * 2).toFloat)
    val b1 = (0L until 8L).map(i => (i, vec(i.toInt)))
    val b2 = (8L until 14L).map(i => (i, vec(i.toInt)))
    val b3 = (14L until 18L).map(i => (i, vec(i.toInt))) ++
      Seq(2L, 5L).map(i => (i, vec(i.toInt + 100))) // re-ingest, new payload
    val dir = Files.createTempDirectory("graft_roll").toString + "/store"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.annIngest(
      in.toDF().toDF("vec_id", "embedding"), dir) { (nbrs, id) =>
      seen += id
      got ++= nbrs.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // independent replay: plain batch calls over the superseded corpora.
    // Stream batch ids remap to their rank via the ids the sink actually
    // saw (an empty startup batch, if the trigger emits one, is skipped
    // by annIngest and takes no rank; a data batch emitting zero rows
    // still takes one).
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    val gotRanked = got.map { case (id, q1, n1, c1) => (rank(id).toLong, q1, n1, c1) }.toSet
    val steps = Seq(b1, b2, b3)
    val expected = steps.indices.flatMap { i =>
      val batch = steps(i)
      val prior = steps.take(i).flatten
        .filterNot { case (id, _) => batch.exists(_._1 == id) }
      val store = Similarity.hyperBands(prior.toDF("vec_id", "embedding"))
      Similarity.lshAnnIncremental(store, batch.toDF("vec_id", "embedding"))
        .collect().map(r => (i.toLong, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(got.nonEmpty)
    assert(gotRanked === expected)
    // delta layout: one d<batchId> directory per data batch, no base yet
    // (below the compaction threshold), and the supersede-resolved
    // effective store holds every live id exactly twice (2 bands/vector)
    val dDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("d"))
    assert(dDirs.length == 3, dDirs.map(_.getName).mkString(","))
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("base")))
    val schema = Similarity.hyperBands(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    assert(eff.groupBy("vec_id").count().filter($"count" =!= 2).count() == 0)
    assert(eff.select("vec_id").distinct().count() == 18)
  }

  test("routed rolling ingest partitions the store by cell and matches the routed batch path") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(64)(j => (math.cos(seed * 13 + j * 5) * 2).toFloat)
    val b1 = (0L until 10L).map(i => (i, (i % 3).toInt, vec(i.toInt)))
    val b2 = (10L until 16L).map(i => (i, (i % 3).toInt, vec(i.toInt)))
    val dir = Files.createTempDirectory("graft_roll_cell").toString + "/store"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val in = MemoryStream[(Long, Int, Seq[Float])]
    val q = RollingIngest.annIngest(
      in.toDF().toDF("vec_id", "cell", "embedding"), dir,
      routeCols = Seq("cell")) { (nbrs, _) =>
      got ++= nbrs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      Seq(b1, b2).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // the per-batch deltas are cell-partitioned on disk
    val dDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("d"))
    assert(dDirs.nonEmpty)
    assert(dDirs.forall(_.listFiles().exists(_.getName.startsWith("cell="))))
    // per-step replay through the ROUTED batch entry point
    val expected = Seq(b1, b2).zipWithIndex.flatMap { case (batch, i) =>
      val prior = Seq(b1, b2).take(i).flatten
      Similarity.lshAnnIncremental(
        Similarity.hyperBands(prior.toDF("vec_id", "cell", "embedding")),
        batch.toDF("vec_id", "cell", "embedding"), routeCols = Seq("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(got.nonEmpty)
    assert(got.toSet === expected)
  }

  test("rolling dedup ingest: streamed document batches emit incremental near-dup pairs") {
    // The dedup family through the same driver: fixture documents arrive
    // in three micro-batches (the third re-crawling two early ids with
    // changed text), each batch's emitted (doc_a, doc_b, hamming) pairs
    // must equal the plain-batch simhashNearDupIncremental replay over
    // the same superseded corpora.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val third = docs.length / 3
    val (b1, rest) = docs.splitAt(third)
    val (b2, b3base) = rest.splitAt(third)
    val b3 = b3base ++ b1.take(2).map { case (id, t) => (id, t + " recrawled anew") }
    val dir = Files.createTempDirectory("graft_roll_dd").toString + "/store"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    // batch ids recorded on every sink call — a NON-empty batch may
    // legitimately emit zero pairs yet still consume a rank
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(
      in.toDF().toDF("doc_id", "text"), dir) { (pairs, id) =>
      seen += id
      got ++= pairs.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    try {
      Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    val gotRanked = got.map { case (id, a, b2c, h) => (rank(id).toLong, a, b2c, h) }.toSet
    val steps = Seq(b1, b2, b3)
    val expected = steps.indices.flatMap { i =>
      val batch = steps(i)
      val prior = steps.take(i).flatten
        .filterNot { case (id, _) => batch.exists(_._1 == id) }
      val store = Dedup.simhash64Bands(prior.toDF("doc_id", "text"))
      Dedup.simhashNearDupIncremental(store, batch.toDF("doc_id", "text"))
        .collect().map(r => (i.toLong, r.getLong(0), r.getLong(1), r.getInt(2)))
    }.toSet
    assert(gotRanked === expected)
    assert(gotRanked.nonEmpty, "fixture corpus should contain near-dup pairs")
  }
}
