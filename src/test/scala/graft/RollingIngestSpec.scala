package graft

import graft.operators.Similarity
import graft.streaming.RollingIngest
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The delta-store contract of [[RollingIngest]] (VERDICT r8 #1): per-batch
  * writes scale with the BATCH, compaction amortizes the corpus-sized write,
  * supersede resolves at read, string route values round-trip, the
  * intra-batch duplicate pick is deterministic, and the routed probe's store
  * scan is partition-pruned to the batch's cells. */
class RollingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(64)(j => (math.sin(seed * 17 + j * 3) * 2).toFloat)

  /** Drive `batches` through annIngest over a fresh store dir; returns
    * (storeDir, sink rows as (batchRank, qid, nid)). */
  private def runAnn(batches: Seq[Seq[(Long, Seq[Float])]], compactEvery: Int)
      : (String, Seq[(Int, Long, Long)]) = {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri").toString + "/store"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "embedding"),
      dir, compactEvery = compactEvery) { (nbrs, id) =>
      seen += id
      got ++= nbrs.collect().map(r => (id, r.getLong(0), r.getLong(1)))
    }
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    (dir, got.toSeq.map { case (id, a, b) => (rank(id), a, b) })
  }

  private def storeFiles(dir: String, prefix: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith(prefix)).flatMap(walk)
  }

  private val annSchema =
    Similarity.hyperBands(Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).schema

  test("per-batch store writes scale with the batch, not the corpus") {
    // four equal 200-vector batches, no compaction: each delta directory
    // must hold EXACTLY its own batch's ids, and the last delta's bytes
    // must not grow with the accumulated store (a snapshot store would
    // write 4x the first delta by batch 4)
    val batches = (0 until 4).map(b =>
      (b * 200 until (b + 1) * 200).map(i => (i.toLong, vec(i))))
    val (dir, _) = runAnn(batches, compactEvery = 100)
    val dDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("d"))
      .sortBy(_.getName.drop(1).toInt)
    assert(dDirs.length == 4)
    dDirs.zipWithIndex.foreach { case (d, i) =>
      val ids = spark.read.parquet(d.toString).select("vec_id").distinct()
        .as[Long].collect().sorted
      assert(ids.toSeq == (i * 200 until (i + 1) * 200).map(_.toLong),
        s"delta ${d.getName} must hold exactly batch $i's ids")
    }
    val sizes = dDirs.map(d => storeFiles(dir, d.getName).map(_.length).sum.toDouble)
    assert(sizes.max / sizes.min < 1.5,
      s"equal batches must write equal-sized deltas, got ${sizes.mkString(",")}")
  }

  test("compaction folds deltas into a base; results equal the plain batch replay") {
    // compactEvery=2 over five batches, batch 4 re-ingesting two early ids
    // (supersede must survive compaction). Expected layout walk: batch 2
    // folds d0+d1 -> base1; batch 4 folds d2+d3 (+base1) -> base3; leaving
    // base3 + d4.
    val b0 = (0L until 8L).map(i => (i, vec(i.toInt)))
    val b1 = (8L until 14L).map(i => (i, vec(i.toInt)))
    val b2 = (14L until 18L).map(i => (i, vec(i.toInt)))
    val b3 = (18L until 22L).map(i => (i, vec(i.toInt)))
    val b4 = (22L until 26L).map(i => (i, vec(i.toInt))) ++
      Seq(2L, 9L).map(i => (i, vec(i.toInt + 500)))
    val steps = Seq(b0, b1, b2, b3, b4)
    val (dir, got) = runAnn(steps, compactEvery = 2)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names == Seq("base3", "d4"), names.mkString(","))
    // effective store == bands of the supersede-resolved corpus
    val eff = RollingIngest.storeView(spark, dir, annSchema, "vec_id").get
    val corpus = steps.zipWithIndex.flatMap { case (b, i) =>
      b.filterNot { case (id, _) =>
        steps.drop(i + 1).exists(_.exists(_._1 == id)) }
    }
    val want = Similarity.hyperBands(corpus.toDF("vec_id", "embedding"))
    assert(eff.collect().toSet == want.collect().toSet)
    // sink rows equal the per-step plain batch replay over superseded corpora
    val expected = steps.indices.flatMap { i =>
      val batch = steps(i)
      val prior = steps.take(i).flatten
        .filterNot { case (id, _) => batch.exists(_._1 == id) }
      Similarity.lshAnnIncremental(
        Similarity.hyperBands(prior.toDF("vec_id", "embedding")),
        batch.toDF("vec_id", "embedding"))
        .collect().map(r => (i, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(got.toSet == expected)
  }

  test("numeric-looking STRING route values round-trip through the store") {
    // cells "01" and "1" are DISTINCT string route values; partition-column
    // type inference would collapse "01" -> 1 on read-back, silently
    // breaking the supersede anti-join and the routed band join
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_str").toString + "/store"
    val b0 = (0L until 6L).map(i => (i, if (i % 2 == 0) "01" else "1", vec(i.toInt)))
    val b1 = (6L until 9L).map(i => (i, "01", vec(i.toInt))) :+
      (0L, "01", vec(700)) // re-ingest id 0 in cell "01"
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "cell", "embedding"),
      dir, routeCols = Seq("cell")) { (nbrs, _) => nbrs.collect(): Unit }
    try Seq(b0, b1).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val schema = Similarity.hyperBands(
      Seq.empty[(Long, String, Seq[Float])].toDF("vec_id", "cell", "embedding")).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    val cells = eff.select("cell").distinct().as[String].collect().toSet
    assert(cells == Set("01", "1"), s"cells came back as $cells")
    // supersede matched id 0 across the string cell: exactly 2 band rows
    assert(eff.filter($"vec_id" === 0L).count() == 2)
    assert(eff.select("vec_id").distinct().count() == 9)
  }

  test("storeView over a base plus 2 deltas starts no Spark job at definition") {
    // compactEvery 2 over four batches: batch 2 folds d0+d1 -> base1,
    // batch 3 appends; the store is base1 + d2 + d3
    val batches = (0 until 4).map(b =>
      (b * 10 until (b + 1) * 10).map(i => (i.toLong, vec(i))))
    val (dir, _) = runAnn(batches, compactEvery = 2)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names == Seq("base1", "d2", "d3"), names.mkString(","))
    val (view, jobs) = org.apache.spark.graftspec.JobCount(spark.sparkContext) {
      RollingIngest.storeView(spark, dir, annSchema, "vec_id").get
    }
    assert(jobs == 0)
    assert(view.select("vec_id").distinct().count() == 40)
  }

  test("a band column the element lacks fails the read") {
    // a narrow (64-bit) dedup store read with the wide (128-bit) band
    // schema must throw, never read sig_lo/sig_hi as nulls
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_narrow").toString + "/store"
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), dir) {
      (p, _) => p.collect(): Unit
    }
    try { in.addData((0L until 6L).map(i => (i, s"doc $i token k$i"))); q.processAllAvailable() }
    finally q.stop()
    val wide = graft.operators.Dedup.simhash128Bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
    intercept[org.apache.spark.sql.AnalysisException] {
      RollingIngest.storeView(spark, dir, wide, "doc_id").get.collect()
    }
  }

  test("an ingest and its store reads leave partitionColumnTypeInference untouched") {
    // store reads type partition columns themselves; they must not flip a
    // setting of the shared session that concurrent queries read — a
    // watcher thread samples it through an ingest (which runs on the
    // stream's own session) and through direct store reads on this one
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val before = spark.conf.getOption(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    @volatile var watching = true
    val watcher = new Thread(() => while (watching) {
      seen.add(spark.conf.getOption(key)); Thread.sleep(1)
    })
    watcher.setDaemon(true)
    watcher.start()
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_conf").toString + "/store"
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "cell", "embedding"),
      dir, routeCols = Seq("cell"), compactEvery = 2) { (nbrs, _) => nbrs.collect(): Unit }
    val schema = Similarity.hyperBands(
      Seq.empty[(Long, String, Seq[Float])].toDF("vec_id", "cell", "embedding")).schema
    try {
      (0 until 3).foreach { b =>
        in.addData((b * 5L until (b + 1) * 5L).map(i => (i, s"0$b", vec(i.toInt))))
        q.processAllAvailable()
      }
      (0 until 5).foreach { _ =>
        val cells = RollingIngest.storeView(spark, dir, schema, "vec_id").get
          .select("cell").distinct().as[String].collect().toSet
        assert(cells == Set("00", "01", "02"))
      }
    } finally { q.stop(); watching = false; watcher.join() }
    seen.add(spark.conf.getOption(key))
    assert(seen.asScala.toSet == Set(before), s"the setting took the values $seen")
  }

  test("rolling IVF-PQ ingest: frozen-book encode, routed probe, cell-partitioned store, replay equivalence") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_pq").toString + "/store"
    // frozen books train OFFLINE on a seed corpus (the deployment step);
    // the stream itself never retrains
    val seedCorpus = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (coarse, books) = Similarity.ivfPqTrain(
      seedCorpus.toDF("vec_id", "embedding"))
    val b0 = (0L until 16L).map(i => (i, vec(i.toInt)))
    val b1 = (16L until 28L).map(i => (i, vec(i.toInt)))
    val b2 = (28L until 36L).map(i => (i, vec(i.toInt))) :+
      (3L, vec(903)) // re-ingest id 3 with a new payload (supersede)
    val steps = Seq(b0, b1, b2)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.ivfPqIngest(in.toDF().toDF("vec_id", "embedding"),
      dir, coarse, books) { (nbrs, id) =>
      seen += id
      got ++= nbrs.collect().map(r =>
        (id, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try steps.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    // the store is cell-partitioned at rest (the IVF layout)
    val dDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("d"))
    assert(dDirs.nonEmpty && dDirs.forall(
      _.listFiles().exists(_.getName.startsWith("cell="))),
      "every delta must be written partitionBy(cell)")
    // effective store == frozen-book encode of the supersede-resolved corpus
    val schema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), coarse, books).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    val corpus = steps.zipWithIndex.flatMap { case (b, i) =>
      b.filterNot { case (id, _) =>
        steps.drop(i + 1).exists(_.exists(_._1 == id)) }
    }
    val want = Similarity.ivfPqEncode(
      corpus.toDF("vec_id", "embedding"), coarse, books)
    assert(eff.collect().toSet == want.collect().toSet)
    // sink rows equal the static per-step replay of the same probe
    val expected = steps.indices.flatMap { i =>
      val batch = steps(i)
      val prior = steps.take(i).flatten
        .filterNot { case (id, _) => batch.exists(_._1 == id) }
      Similarity.ivfPqIncrementalCodes(
        Similarity.ivfPqEncode(prior.toDF("vec_id", "embedding"), coarse, books),
        Similarity.ivfPqEncode(batch.toDF("vec_id", "embedding"), coarse, books),
        coarse, books, nprobe = 1)
        .collect().map(r => (i, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(got.toSet.map((t: (Long, Long, Long, Double)) =>
      (rank(t._1), t._2, t._3, t._4)) == expected)
    assert(got.nonEmpty)
  }

  test("ivfPqIngest: store reads stay bounded across >= 2 compactions") {
    // 7 batches at compactEvery=2 fold the base at least twice; after
    // EVERY batch the live store must hold at most (1 base + compactEvery
    // pending deltas + this batch's own delta) directories — the bound
    // that keeps the probe's K broadcast anti-joins constant as the
    // corpus grows (VERDICT r13 #5)
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_bound").toString + "/store"
    val seedCorpus = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (coarse, books) = Similarity.ivfPqTrain(
      seedCorpus.toDF("vec_id", "embedding"))
    val layouts = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.ivfPqIngest(in.toDF().toDF("vec_id", "embedding"),
      dir, coarse, books, compactEvery = 2) { (nbrs, _) => nbrs.collect(): Unit }
    try (0 until 7).foreach { i =>
      in.addData((i * 6 until (i + 1) * 6).map(j => (j.toLong, vec(j))))
      q.processAllAvailable()
      layouts += new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    } finally q.stop()
    layouts.foreach { l =>
      assert(l.size <= 4, s"store layout outgrew the compaction bound: $l")
    }
    val bases = layouts.flatMap(_.filter(_.startsWith("base"))).distinct
    assert(bases.size >= 2, s"expected >= 2 base folds, saw $bases across $layouts")
    // the final effective store still resolves every ingested id
    val schema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), coarse, books).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    assert(eff.select("vec_id").distinct().count() == 42)
  }

  test("re-ingest across route values cannot resurrect the superseded row") {
    // ADVICE r13 (high): route columns can be pure functions of the payload
    // (the IVF cell is), so re-ingesting an id with a changed payload moves
    // it to a NEW cell. A later batch probing only the OLD cell must not see
    // the stale row: if the route filter is applied to delta reads BEFORE
    // supersede resolution, the superseding row (new cell) is pruned away,
    // the stale row wins, and the probe emits pairs scored against the
    // superseded payload.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_res").toString + "/store"
    val b0 = (0L until 5L).map(i => (i, "c0", vec(i.toInt))) :+
      (9L, "c0", vec(100))           // id 9 first lands in cell c0
    val b1 = Seq((9L, "c1", vec(901)), // re-ingest id 9: payload change moves it to c1
      (20L, "c1", vec(20)))
    val b2 = Seq((30L, "c0", vec(100))) // probes ONLY c0; vec identical to 9's OLD payload
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "cell", "embedding"),
      dir, routeCols = Seq("cell")) { (nbrs, id) =>
      got ++= nbrs.collect().map(r => (id, r.getLong(0), r.getLong(1)))
    }
    try Seq(b0, b1, b2).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // the stale c0 row of id 9 must not win the supersede under a c0-only
    // route filter: id 9's live row is in c1, so the c0 view excludes it
    val schema = Similarity.hyperBands(
      Seq.empty[(Long, String, Seq[Float])].toDF("vec_id", "cell", "embedding")).schema
    val c0View = RollingIngest.storeView(spark, dir, schema, "vec_id",
      routeFilter = Some(col("cell") === "c0")).get
    assert(c0View.filter($"vec_id" === 9L).isEmpty,
      "superseded c0 row of id 9 resurrected under the route-filtered view")
    // and batch 2's probe (identical vector, same old cell) saw no ghost pair
    assert(!got.exists { case (b, _, nid) => b == 2L && nid == 9L },
      s"batch 2 probe emitted a pair against id 9's superseded payload: $got")
  }

  test("intra-batch duplicate ids pick the same row regardless of arrival order") {
    // one batch carries id 7 twice with DIFFERENT payloads; a replayed
    // (here: re-ordered) run must rebuild the identical delta, or replay
    // idempotence breaks for at-least-once foreachBatch
    val dup = Seq((7L, vec(7)), (7L, vec(999)))
    val rest = (0L until 4L).map(i => (i, vec(i.toInt)))
    val (d1, _) = runAnn(Seq(rest ++ dup), compactEvery = 8)
    val (d2, _) = runAnn(Seq(dup.reverse ++ rest), compactEvery = 8)
    val r1 = RollingIngest.storeView(spark, d1, annSchema, "vec_id").get.collect().toSet
    val r2 = RollingIngest.storeView(spark, d2, annSchema, "vec_id").get.collect().toSet
    assert(r1 == r2, "the deterministic duplicate pick must be order-independent")
    assert(r1.count(_.getLong(0) == 7L) == 2, "id 7 keeps exactly one vector (2 bands)")
  }

  // ---- composed dedup-then-index ingest (VERDICT r14 #4) ----

  /** Drive (doc_id, text, embedding) batches through dedupIndexIngest over
    * fresh store dirs; returns (dedupDir, annDir, neighbor rows as
    * (batchRank, qid, nid), decisions as (batchRank, doc_id, keeper_id,
    * kept)). */
  private def runDedupIndex(batches: Seq[Seq[(Long, String, Seq[Float])]],
                            compactEvery: Int = 8)
      : (String, String, Seq[(Int, Long, Long)], Seq[(Int, Long, Long, Boolean)]) = {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_ddi").toString
    val (dd, ann) = (root + "/dedup", root + "/ann")
    val nbrs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val decs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.dedupIndexIngest(
      in.toDF().toDF("doc_id", "text", "embedding"), dd, ann,
      compactEvery = compactEvery,
      dedupSink = (d, id) => decs ++= d.collect().map(r =>
        (id, r.getLong(0), r.getLong(1), r.getBoolean(2)))) { (n, id) =>
      seen += id
      nbrs ++= n.collect().map(r => (id, r.getLong(0), r.getLong(1)))
    }
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    (dd, ann,
      nbrs.toSeq.map { case (id, a, b) => (rank(id), a, b) },
      decs.toSeq.map { case (id, d, kp, k) => (rank(id), d, kp, k) })
  }

  test("dedupIndexIngest: keeper decision gates the ANN store (first-seen wins)") {
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "completely different words about streaming ingestion and stores"
    val tC = "third unrelated document mentioning graphs vectors and bands"
    val b0 = Seq((10L, tA, vec(1)), (11L, tB, vec(2)))
    // 20 duplicates stored doc 10's text exactly -> dropped, keeper 10;
    // 21 and 22 duplicate EACH OTHER (batch-only component, min wins);
    // 23 is fresh -> kept
    // 23's embedding REUSES doc 11's vector: identical sign sketch, so a
    // band collision (hence a neighbor row) is guaranteed for the keeper
    val b1 = Seq((20L, tA, vec(3)), (21L, tC, vec(4)), (22L, tC, vec(5)),
      (23L, "totally novel prose regarding quantum flux capacitors", vec(2)))
    val (dd, ann, nbrs, decs) = runDedupIndex(Seq(b0, b1))
    val d1 = decs.filter(_._1 == 1).map(t => (t._2, t._3, t._4)).toSet
    assert(d1 == Set((20L, 10L, false), (21L, 21L, true), (22L, 21L, false),
      (23L, 23L, true)), s"batch-1 decisions were $d1")
    // both stores hold exactly the keepers, under the same ids
    val ddSchema = graft.operators.Dedup.simhash64Bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
    val keepers = Set(10L, 11L, 21L, 23L)
    val ddIds = RollingIngest.storeView(spark, dd, ddSchema, "doc_id").get
      .select("doc_id").distinct().as[Long].collect().toSet
    val annIds = RollingIngest.storeView(spark, ann, annSchema, "vec_id").get
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(ddIds == keepers, s"dedup store held $ddIds")
    assert(annIds == keepers, s"ann store held $annIds")
    // dropped docs never probed the ANN store: no neighbor row has a
    // dropped doc on the query side
    assert(nbrs.forall { case (_, qid, _) => keepers.contains(qid) },
      s"dropped docs leaked into the ANN probe: $nbrs")
    // and keepers DID get neighbor rows in their own batch
    assert(nbrs.exists { case (b, qid, _) => b == 1 && qid == 23L })
  }

  test("dedupIndexIngest: sink rows equal the batch-composition replay") {
    // random-ish unrelated texts (no near-dups except the planted ones) so
    // the replay below predicts exactly which docs survive each batch
    def text(i: Long) = s"document $i speaks of topic${i % 7} and idea${i % 5} " +
      s"plus unique token u$i and filler f${i * 31 % 13}"
    val b0 = (0L until 10L).map(i => (i, text(i), vec(i.toInt)))
    val b1 = (10L until 18L).map(i => (i, text(i), vec(i.toInt))) :+
      (18L, text(3), vec(18)) // dup of stored doc 3 -> dropped
    val b2 = (19L until 25L).map(i => (i, text(i), vec(i.toInt)))
    val steps = Seq(b0, b1, b2)
    val (_, ann, nbrs, decs) = runDedupIndex(steps)
    // replay: keepers accumulate; each step's expected neighbors come from
    // the SAME probe primitive over the accumulated keeper bands
    var keeperCorpus = Seq.empty[(Long, Seq[Float])]
    val expected = scala.collection.mutable.Set.empty[(Int, Long, Long)]
    steps.zipWithIndex.foreach { case (b, i) =>
      val dropped = decs.filter(d => d._1 == i && !d._4).map(_._2).toSet
      val kept = b.filterNot(t => dropped.contains(t._1)).map(t => (t._1, t._3))
      expected ++= Similarity.lshAnnIncrementalBands(
        Similarity.hyperBands(keeperCorpus.toDF("vec_id", "embedding")),
        Similarity.hyperBands(kept.toDF("vec_id", "embedding")))
        .collect().map(r => (i, r.getLong(0), r.getLong(1)))
      keeperCorpus ++= kept
    }
    assert(nbrs.toSet == expected,
      s"streaming neighbors diverged from the batch replay")
    // the planted dup was dropped, everything else kept
    assert(decs.filter(!_._4).map(_._2) == Seq(18L))
    // final ANN store equals the bands of the accumulated keeper corpus
    val eff = RollingIngest.storeView(spark, ann, annSchema, "vec_id").get
    val want = Similarity.hyperBands(keeperCorpus.toDF("vec_id", "embedding"))
    assert(eff.collect().toSet == want.collect().toSet)
  }

  test("dedupIndexIngest: a batch with keepers starts no count job for the static ANN side") {
    // only the routed IVF-PQ side feeds a census, so only it may count the
    // appended rows; the static hyperplane side gets no count job
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def text(i: Long) = s"job count doc $i on topic${i % 7} with token u$i"
    val root = Files.createTempDirectory("graft_ddi_jobs").toString
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.dedupIndexIngest(
      in.toDF().toDF("doc_id", "text", "embedding"), root + "/dedup", root + "/ann") {
      (n, _) => n.collect(): Unit
    }
    val jobs = try {
      in.addData((0L until 10L).map(i => (i, text(i), vec(i.toInt))))
      q.processAllAvailable()
      org.apache.spark.graftspec.JobCount(spark.sparkContext) {
        in.addData((10L until 20L).map(i => (i, text(i), vec(i.toInt))))
        q.processAllAvailable()
      }._2
    } finally q.stop()
    // local[4]: 35 jobs; 37 while the static side still counted its rows
    assert(jobs <= 35, s"a keeper batch ran $jobs jobs")
  }

  test("dedupIndexIngest: routed ANN side writes cell-partitioned deltas of keepers only") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_ddi_r").toString
    val (dd, ann) = (root + "/dedup", root + "/ann")
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b0 = (0L until 6L).map(i => (i, s"unique text $i with own words w$i x${i * 7}",
      (i % 2).toString, vec(i.toInt)))
    // 10 duplicates doc 0's text -> dropped; its bands must reach NEITHER store
    val b1 = Seq((10L, b0.head._2, "0", vec(10)),
      (11L, tA, "1", vec(11)))
    val in = MemoryStream[(Long, String, String, Seq[Float])]
    val q = RollingIngest.dedupIndexIngest(
      in.toDF().toDF("doc_id", "text", "cell", "embedding"), dd, ann,
      routeCols = Seq("cell")) { (n, _) => n.collect(): Unit }
    try Seq(b0, b1).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // every ANN delta is written partitionBy(cell) — the routed layout
    val dDirs = new java.io.File(ann).listFiles().filter(_.getName.startsWith("d"))
    assert(dDirs.nonEmpty && dDirs.forall(
      _.listFiles().exists(_.getName.startsWith("cell="))),
      "routed composed ingest must write cell-partitioned ANN deltas")
    // keepers only, on both stores; the dropped dup reached neither
    val annSchemaR = Similarity.hyperBands(
      Seq.empty[(Long, String, Seq[Float])].toDF("vec_id", "cell", "embedding")).schema
    val annIds = RollingIngest.storeView(spark, ann, annSchemaR, "vec_id").get
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(annIds == Set(0L, 1L, 2L, 3L, 4L, 5L, 11L), s"ann store held $annIds")
    val ddSchema = graft.operators.Dedup.simhash64Bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
    val ddIds = RollingIngest.storeView(spark, dd, ddSchema, "doc_id").get
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ddIds == annIds, s"stores diverged: dd=$ddIds ann=$annIds")
  }

  test("dedupIndexIngest: wide-tier bootstrap stores wide bands and matches its replay") {
    // the band tier is a bootstrap parameter of a rolling store (its
    // bands are at rest): wideBands = true must sketch, probe, and store
    // the 64-lane wide tier end to end, and the sink must equal the same
    // replay with wide bands
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_ddi_w").toString
    val (dd, ann) = (root + "/dedup", root + "/ann")
    def text(i: Long) = s"wide doc $i carrying token t$i and tag g${i % 5}"
    val b0 = (0L until 8L).map(i => (i, text(i), vec(i.toInt)))
    val b1 = (8L until 14L).map(i => (i, text(i), vec(i.toInt)))
    val nbrs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.dedupIndexIngest(
      in.toDF().toDF("doc_id", "text", "embedding"), dd, ann,
      wideBands = true) { (n, id) =>
      nbrs ++= n.collect().map(r => (id, r.getLong(0), r.getLong(1)))
    }
    try Seq(b0, b1).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val wideSchema = Similarity.hyperBandsWide(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).schema
    val eff = RollingIngest.storeView(spark, ann, wideSchema, "vec_id").get
    // 4 wide bands per vector (narrow would store 2)
    assert(eff.filter($"vec_id" === 0L).count() == 4,
      "wide bootstrap must store the 4-band wide tier")
    val want = Similarity.hyperBandsWide(
      (b0 ++ b1).map(t => (t._1, t._3)).toDF("vec_id", "embedding"))
    assert(eff.collect().toSet == want.collect().toSet)
    // sink equals the wide-band replay per step
    val expected = Seq(b0, b1).zipWithIndex.flatMap { case (b, i) =>
      val prior = Seq(b0, b1).take(i).flatten.map(t => (t._1, t._3))
      Similarity.lshAnnIncrementalBands(
        Similarity.hyperBandsWide(prior.toDF("vec_id", "embedding")),
        Similarity.hyperBandsWide(b.map(t => (t._1, t._3)).toDF("vec_id", "embedding")))
        .collect().map(r => (i.toLong, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(nbrs.toSet == expected)
  }

  test("ivfPqIngestRouted: census-drift retrain re-encodes the base; content invariant; probes use new books") {
    // VERDICT r15 #1: bootstrap books at the fixture kc = 8; ingest enough
    // vectors that ivfPqKcRouted(census) crosses one grid step (>= 16 at
    // n >= ~128 with retrainGridSteps = 1) and assert the offline event:
    // new books<v>, re-encoded base<v>, (vec_id, q, norm) invariant,
    // post-retrain probes identical to the static replay under NEW books.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_rt").toString + "/store"
    val seed = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (c0, b0) = Similarity.ivfPqTrain(seed.toDF("vec_id", "embedding"))
    assert(c0.size == 8)
    val steps = (0 until 4).map(s =>
      (s * 60L until (s + 1) * 60L).map(i => (i, vec(i.toInt))))
    val retrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val nbrs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.ivfPqIngestRouted(
      in.toDF().toDF("vec_id", "embedding"), dir, c0, b0,
      retrainGridSteps = 1,
      onRetrain = (o, n, cz) => retrains += ((o, n, cz))) { (n, id) =>
      seen += id
      nbrs ++= n.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try steps.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // exactly one retrain: 8 -> 16 once census >= ~128 (n=120 at batch-2
    // start is exp=3.45->round 3; n=180 at batch-3 start: sqrt=13.4,
    // log2=3.75 -> 16)
    assert(retrains.nonEmpty, "census never triggered a retrain")
    assert(retrains.map(_._2).forall(_ >= 16) && retrains.head._1 == 8,
      s"unexpected retrain points: $retrains")
    val (cN, bN) = RollingIngest.readBooks(spark,
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("books"))
        .map(_.toString).maxBy(p => p.split("books").last.toLong))
    assert(cN.size == retrains.last._2)
    // the whole effective store is encoded under the NEWEST books — base
    // re-encoded, post-retrain deltas natively: content equality
    val schema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), c0, b0).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    val corpus = steps.flatten
    val want = Similarity.ivfPqEncode(corpus.toDF("vec_id", "embedding"), cN, bN)
    assert(eff.collect().toSet == want.collect().toSet,
      "store content must equal the new-books encode of the full corpus")
    // store-content invariance across the re-encode, stated directly:
    // (vec_id, q, norm) equals the books-independent projection
    val inv = eff.select("vec_id", "q", "norm").collect().toSet
    val wantInv = want.select("vec_id", "q", "norm").collect().toSet
    assert(inv == wantInv)
    // the books serializer round-trips order-exactly (tie-breaks are
    // positional)
    val rtDir = Files.createTempDirectory("graft_books_rt").toString + "/bk"
    RollingIngest.writeBooks(spark, rtDir, cN, bN)
    val (cR, bR) = RollingIngest.readBooks(spark, rtDir)
    assert(cR.map(_._1) == cN.map(_._1) &&
      cR.map(_._2.toSeq) == cN.map(_._2.toSeq))
    assert(bR.map(_.map(_._1)) == bN.map(_.map(_._1)))
    // post-retrain batches' sink rows equal the static replay under the
    // new books (the probe switched operating points with the store)
    val postBatch = steps.last
    val prior = steps.dropRight(1).flatten
    val expected = Similarity.ivfPqIncrementalCodes(
      Similarity.ivfPqEncode(prior.toDF("vec_id", "embedding"), cN, bN),
      Similarity.ivfPqEncode(postBatch.toDF("vec_id", "embedding"), cN, bN),
      cN, bN, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lastRank = seen.distinct.sorted.last
    val gotLast = nbrs.filter(_._1 == lastRank).map(t => (t._2, t._3, t._4)).toSet
    assert(gotLast == expected,
      "post-retrain probe rows must equal the new-books static replay")
  }

  test("ivfPqIngestRouted: a crash between books<v> and base<v> resumes the re-encode") {
    // the one multi-step window of the retrain event: books<v> on disk,
    // base<v> not yet written. The resume rule (newest books version >
    // newest base version while deltas <= v live) must complete the
    // re-encode from the still-live old rows and end in the same store
    // state a crash-free run reaches.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def driveBatches(dir: String, steps: Seq[Seq[(Long, Seq[Float])]],
                     c0: Seq[(Int, Array[Long])], b0: Seq[Seq[(Int, Array[Long])]],
                     retrains: scala.collection.mutable.ArrayBuffer[(Int, Int)]): Unit = {
      val in = MemoryStream[(Long, Seq[Float])]
      val q = RollingIngest.ivfPqIngestRouted(
        in.toDF().toDF("vec_id", "embedding"), dir, c0, b0,
        retrainGridSteps = 1,
        onRetrain = (o, n, _) => retrains += ((o, n))) { (n, _) => n.collect(): Unit }
      try steps.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val seed = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (c0, b0) = Similarity.ivfPqTrain(seed.toDF("vec_id", "embedding"))
    val steps = (0 until 4).map(st =>
      (st * 120L until (st + 1) * 120L).map(i => (i, vec(i.toInt))))
    // crash-free reference run
    val refDir = Files.createTempDirectory("graft_rt_ref").toString + "/store"
    val refRetrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    driveBatches(refDir, steps, c0, b0, refRetrains)
    assert(refRetrains.nonEmpty)
    // crashed run: drive the pre-retrain prefix, then simulate the crash
    // window by hand — train + write books<v> exactly as the event would,
    // but "die" before base<v>
    val dir = Files.createTempDirectory("graft_rt_crash").toString + "/store"
    val preRetrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    driveBatches(dir, steps.take(2), c0, b0, preRetrains)
    assert(preRetrains.isEmpty, "retrain must not fire inside the prefix")
    val schema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), c0, b0).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    val targetKc = Similarity.ivfPqKcRouted(240)
    assert(targetKc >= c0.size * 2)
    val trained = Similarity.ivfPqTrainQ(eff.select("vec_id", "q"), targetKc)
    val v = 1L // newest element after batches 0 and 1
    RollingIngest.writeBooks(spark, s"$dir/books$v", trained._1, trained._2)
    // resume: drive the remaining batches through a FRESH query whose ids
    // continue the history (MemoryStream restarts at 0, so re-feed the
    // prefix content alongside — no: ids must be strictly newer, so drive
    // a continuation stream seeded to the next batch ids by feeding the
    // remaining steps through a new query only works if its batch ids
    // exceed the store's. Feed ALL steps so batch ids 0..3 map onto the
    // original ids — guardHistory would refuse ids <= 1, so instead feed
    // the remaining steps through a stream whose first two batches are
    // consumed before the store dir is attached is not expressible; the
    // supported recovery contract is the ORIGINAL checkpointed query
    // replaying its next batch. Simulate exactly that: a new driver whose
    // batch ids continue from 2 — MemoryStream ids restart at 0, so shift
    // the store's expectation by feeding two placeholder EMPTY batches
    // first (empty batches skip the loop body entirely and advance the
    // stream's batch id without touching the store).
    val in2 = MemoryStream[(Long, Seq[Float])]
    val resRetrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val q2 = RollingIngest.ivfPqIngestRouted(
      in2.toDF().toDF("vec_id", "embedding"), dir, c0, b0,
      retrainGridSteps = 1,
      onRetrain = (o, n, _) => resRetrains += ((o, n))) { (n, _) => n.collect(): Unit }
    try {
      // two empty micro-batches advance ids 0 and 1 without store writes
      in2.addData(Seq.empty[(Long, Seq[Float])]); q2.processAllAvailable()
      in2.addData(Seq.empty[(Long, Seq[Float])]); q2.processAllAvailable()
      steps.drop(2).foreach { b => in2.addData(b); q2.processAllAvailable() }
    } finally q2.stop()
    // the resume path re-encoded without re-firing onRetrain for books<1>
    // (it may fire LATER for a further census crossing, same as reference)
    val (cN, bN) = RollingIngest.readBooks(spark,
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("books"))
        .map(_.toString).maxBy(_.split("books").last.toLong))
    val effAfter = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    val want = Similarity.ivfPqEncode(
      steps.flatten.toDF("vec_id", "embedding"), cN, bN)
    assert(effAfter.collect().toSet == want.collect().toSet,
      "resumed store must equal the new-books encode of the full corpus")
    // and the store state matches the crash-free run's invariants: exactly
    // one live base at/above the books version, no deltas <= it
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    val baseVers = names.filter(_.startsWith("base")).map(_.drop(4).toLong)
    val bookVers = names.filter(_.startsWith("books")).map(_.drop(5).toLong)
    assert(baseVers.size == 1 && bookVers.size == 1 && baseVers.max >= 1L)
    assert(!names.exists(n => n.startsWith("d") && !n.startsWith("books") &&
      n.drop(1).toLong <= baseVers.max))
  }

  test("ivfPqIngestRouted: re-ingesting the same ids never retrains past the live operating point") {
    // VERDICT r16 watch item: the cumulative census double-counts
    // re-ingested ids (appends never decrement). The retrain CHECK must
    // derive the exact supersede-resolved live count, skip the stale
    // trigger, and reset the census — a 60-vector store that has seen the
    // same 60 ids five times must stay at its bootstrap kc, not retrain
    // to the kc of its 300-row append history.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_reingest").toString + "/store"
    val seed = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (c0, b0) = Similarity.ivfPqTrain(seed.toDF("vec_id", "embedding"))
    assert(c0.size == 8)
    val batch = (0L until 60L).map(i => (i, vec(i.toInt)))
    // live kc stays at the bootstrap grid point while cumulative appends
    // cross the next one: kcRouted(60) = 8, kcRouted(>=240 cumulative) = 16
    assert(Similarity.ivfPqKcRouted(60) == 8 &&
      Similarity.ivfPqKcRouted(300) >= 16)
    val retrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.ivfPqIngestRouted(
      in.toDF().toDF("vec_id", "embedding"), dir, c0, b0,
      retrainGridSteps = 1,
      onRetrain = (o, n, cz) => retrains += ((o, n, cz))) { (n, _) => n.collect(): Unit }
    try (0 until 5).foreach { _ => in.addData(batch); q.processAllAvailable() }
    finally q.stop()
    assert(retrains.isEmpty,
      s"stale cumulative census must not fire a retrain: $retrains")
    // no books beyond the bootstrap marker, and the store content is the
    // supersede-resolved 60 rows under the BOOTSTRAP books
    val bookVers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("books")).map(_.drop(5).toLong)
    assert(bookVers.toSeq == Seq(-1L), s"unexpected books dirs: ${bookVers.toSeq}")
    val schema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), c0, b0).schema
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    val want = Similarity.ivfPqEncode(batch.toDF("vec_id", "embedding"), c0, b0)
    assert(eff.collect().toSet == want.collect().toSet)
  }

  test("dedupIndexIngestPq: keeper-gated quantized ingest equals the batch-composition replay") {
    // VERDICT r15 #2: the production crawl stack — dedup gate -> frozen-book
    // encode -> routed probe -> cell-partitioned delta — in one loop
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_ddi_pq").toString
    val (dd, ann) = (root + "/dedup", root + "/ann")
    val (coarse, books) = Similarity.ivfPqTrain(
      (0L until 40L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding"))
    def text(i: Long) = s"document $i speaks of topic${i % 7} and idea${i % 5} " +
      s"plus unique token u$i and filler f${i * 31 % 13}"
    val b0 = (0L until 10L).map(i => (i, text(i), vec(i.toInt)))
    val b1 = (10L until 18L).map(i => (i, text(i), vec(i.toInt))) :+
      (18L, text(3), vec(18)) // dup of stored doc 3 -> dropped
    val b2 = (19L until 25L).map(i => (i, text(i), vec(i.toInt)))
    val steps = Seq(b0, b1, b2)
    val nbrs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val decs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.dedupIndexIngestPq(
      in.toDF().toDF("doc_id", "text", "embedding"), dd, ann, coarse, books,
      dedupSink = (d, _) => decs ++= d.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2)))) { (n, id) =>
      seen += id
      nbrs ++= n.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try steps.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    assert(decs.filter(!_._3).map(_._1) == Seq(18L))
    // every ANN delta is cell-partitioned (the IVF layout at rest)
    val dDirs = new java.io.File(ann).listFiles().filter(_.getName.startsWith("d"))
    assert(dDirs.nonEmpty && dDirs.forall(
      _.listFiles().exists(_.getName.startsWith("cell="))),
      "keeper-gated quantized ingest must write cell-partitioned deltas")
    // both stores hold exactly the keepers; the code store equals the
    // frozen-book encode of the accumulated keeper corpus
    val keeperCorpus = steps.flatten.filterNot(_._1 == 18L).map(t => (t._1, t._3))
    val codeSchema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), coarse, books).schema
    val eff = RollingIngest.storeView(spark, ann, codeSchema, "vec_id").get
    val want = Similarity.ivfPqEncode(
      keeperCorpus.toDF("vec_id", "embedding"), coarse, books)
    assert(eff.collect().toSet == want.collect().toSet)
    val ddSchema = graft.operators.Dedup.simhash64Bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
    val ddIds = RollingIngest.storeView(spark, dd, ddSchema, "doc_id").get
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ddIds == keeperCorpus.map(_._1).toSet)
    // sink rows equal the static batch-composition replay: per step, the
    // keepers' codes probe the accumulated keeper code store
    var acc = Seq.empty[(Long, Seq[Float])]
    val expected = scala.collection.mutable.Set.empty[(Int, Long, Long, Double)]
    steps.zipWithIndex.foreach { case (b, i) =>
      val kept = b.filterNot(_._1 == 18L).map(t => (t._1, t._3))
      expected ++= Similarity.ivfPqIncrementalCodes(
        Similarity.ivfPqEncode(acc.toDF("vec_id", "embedding"), coarse, books),
        Similarity.ivfPqEncode(kept.toDF("vec_id", "embedding"), coarse, books),
        coarse, books, nprobe = 1)
        .collect().map(r => (i, r.getLong(0), r.getLong(1), r.getDouble(2)))
      acc ++= kept
    }
    assert(nbrs.toSet.map((t: (Long, Long, Long, Double)) =>
      (rank(t._1), t._2, t._3, t._4)) == expected.toSet)
    assert(nbrs.nonEmpty)
  }

  test("dedupIndexIngestPqRouted: keeper-gated store retrains on canonical growth; decisions books-independent") {
    // the full production stack with no frozen lever: the code store owns
    // its books and retrains at the KEEPER census trigger; the dedup gate
    // must be unaffected by which books are live
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (c0, b0) = Similarity.ivfPqTrain(
      (0L until 40L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding"))
    assert(c0.size == 8)
    def text(i: Long) = s"routed doc $i on theme${i % 9} with token u$i " +
      s"and tail t${i * 23 % 17}"
    // 4 x 120 docs; one planted dup per later batch exercises the gate
    val steps = (0 until 4).map { st =>
      val base = (st * 120L until (st + 1) * 120L)
        .map(i => (i, text(i), vec(i.toInt)))
      if (st == 0) base else base.dropRight(1) :+
        (st * 120L + 119L, text(st - 1L), vec((st * 120 + 119).toInt))
    }
    val dups = steps.zipWithIndex.drop(1).map { case (b, _) => b.last._1 }
    def run(routed: Boolean): (Seq[(Long, Long, Boolean)], String,
        Seq[(Int, Int, Long)]) = {
      val root = Files.createTempDirectory(s"graft_ddipqr$routed").toString
      val (dd, ann) = (root + "/dedup", root + "/ann")
      val decs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
      val retrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      val in = MemoryStream[(Long, String, Seq[Float])]
      val src = in.toDF().toDF("doc_id", "text", "embedding")
      val collectD = (d: org.apache.spark.sql.DataFrame, _: Long) => {
        decs ++= d.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getBoolean(2))): Unit
      }
      val q =
        if (routed) RollingIngest.dedupIndexIngestPqRouted(src, dd, ann, c0, b0,
          retrainGridSteps = 1, dedupSink = collectD,
          onRetrain = (o, n, cz) => retrains += ((o, n, cz))) { (n, _) =>
          n.collect(): Unit
        }
        else RollingIngest.dedupIndexIngestPq(src, dd, ann, c0, b0,
          dedupSink = collectD) { (n, _) => n.collect(): Unit }
      try steps.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      (decs.toSeq, ann, retrains.toSeq)
    }
    val (frozenDecs, _, _) = run(routed = false)
    val (routedDecs, annDir, retrains) = run(routed = true)
    // keeper decisions are a pure function of the dedup side — identical
    // whichever books (or retrain schedule) the code store carries
    assert(routedDecs.toSet == frozenDecs.toSet)
    assert(routedDecs.filter(!_._3).map(_._1).toSet == dups.toSet)
    // the census trigger fired on keeper growth (480-ish keepers; kc 8->16
    // at >= 128, then 16->32 needs 1024 -- exactly one retrain here)
    assert(retrains.map(t => (t._1, t._2)) == Seq((8, 16)),
      s"unexpected retrain schedule: $retrains")
    // the whole code store is encoded under the NEWEST books
    val (cN, bN) = RollingIngest.readBooks(spark,
      new java.io.File(annDir).listFiles().filter(_.getName.startsWith("books"))
        .map(_.toString).maxBy(_.split("books").last.toLong))
    assert(cN.size == 16)
    val schema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), c0, b0).schema
    val eff = RollingIngest.storeView(spark, annDir, schema, "vec_id").get
    val keepers = steps.flatten.filterNot(t => dups.contains(t._1))
      .map(t => (t._1, t._3))
    val want = Similarity.ivfPqEncode(keepers.toDF("vec_id", "embedding"), cN, bN)
    assert(eff.collect().toSet == want.collect().toSet)
  }

  test("wideSig bootstrap: 128-bit rolling dedup tier stores wide sigs; keeper decisions match narrow pre-knee") {
    // VERDICT r15 #3: the text-side twin of wideBands. On a PRE-KNEE
    // corpus (planted exact dups: Hamming 0 on every tier; unrelated docs:
    // far above 3 on both) the tiers must make the SAME keeper decisions,
    // while the wide store holds (sig_lo, sig_hi) 32-bit-band rows.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def text(i: Long) = s"document $i about topic${i % 7} with unique token u$i " +
      s"and marker m${i * 13 % 11} plus trailing filler words"
    val b0 = (0L until 9L).map(i => (i, text(i), vec(i.toInt)))
    val b1 = ((9L until 15L).map(i => (i, text(i), vec(i.toInt))) :+
      (15L, text(2), vec(15))) :+ (16L, text(9), vec(16)) // dups of 2 and 9
    val steps = Seq(b0, b1)
    def run(wide: Boolean): (Seq[(Long, Long, Boolean)], String) = {
      val root = Files.createTempDirectory(s"graft_ddi_ws$wide").toString
      val (dd, ann) = (root + "/dedup", root + "/ann")
      val decs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
      val in = MemoryStream[(Long, String, Seq[Float])]
      val q = RollingIngest.dedupIndexIngest(
        in.toDF().toDF("doc_id", "text", "embedding"), dd, ann, wideSig = wide,
        dedupSink = (d, _) => decs ++= d.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getBoolean(2)))) { (n, _) => n.collect(): Unit }
      try steps.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      (decs.toSeq, dd)
    }
    val (narrowDecs, _) = run(wide = false)
    val (wideDecs, wideDd) = run(wide = true)
    assert(narrowDecs.toSet == wideDecs.toSet,
      s"pre-knee keeper decisions diverged across tiers:\n$narrowDecs\n$wideDecs")
    assert(wideDecs.filter(!_._3).map(_._1).toSet == Set(15L, 16L))
    // the wide store holds the 128-bit shape and equals the keeper corpus
    // sketched wide
    val wideSchema = graft.operators.Dedup.simhash128Bands(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
    val eff = RollingIngest.storeView(spark, wideDd, wideSchema, "doc_id").get
    assert(eff.columns.contains("sig_lo") && eff.columns.contains("sig_hi"))
    val keepers = steps.flatten.filterNot(t => Set(15L, 16L).contains(t._1))
      .map(t => (t._1, t._2))
    val want = graft.operators.Dedup.simhash128Bands(keepers.toDF("doc_id", "text"))
    assert(eff.collect().toSet == want.collect().toSet)
  }

  test("dedupIngest wideSig: pair stream equals the wide-tier batch replay") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_ws").toString + "/store"
    def text(i: Long) = s"doc $i holds token k$i theme t${i % 6} and suffix s${i * 7 % 11}"
    val b0 = (0L until 8L).map(i => (i, text(i)))
    val b1 = (8L until 13L).map(i => (i, text(i))) :+ (13L, text(4)) // dup of 4
    val steps = Seq(b0, b1)
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), dir,
      wideSig = true) { (p, id) =>
      seen += id
      pairs ++= p.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    try steps.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val rank = seen.distinct.sorted.zipWithIndex.toMap
    val expected = steps.indices.flatMap { i =>
      val prior = steps.take(i).flatten
      graft.operators.Dedup.simhashNearDupIncrementalBands(
        graft.operators.Dedup.simhash128Bands(prior.toDF("doc_id", "text")),
        graft.operators.Dedup.simhash128Bands(steps(i).toDF("doc_id", "text")),
        sigCols = Seq("sig_lo", "sig_hi"))
        .collect().map(r => (i, r.getLong(0), r.getLong(1), r.getInt(2)))
    }.toSet
    assert(pairs.toSet.map((t: (Long, Long, Long, Int)) =>
      (rank(t._1), t._2, t._3, t._4)) == expected)
    assert(pairs.exists(p => p._2 == 4L && p._3 == 13L && p._4 == 0),
      "the planted dup must pair at Hamming 0 on the wide tier")
  }

  test("dedupIngest: every batch's initial probe plan broadcasts the batch and shuffles no base row") {
    // the batch bands are materialized before the probe is planned, so the
    // planner sees their real size from the first plan: no sort-merge join
    // for AQE to demote, and no exchange fed by a base scan (shuffled or
    // broadcast) — the base streams through the broadcast joins
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val dir = Files.createTempDirectory("graft_ri_plan").toString + "/store"
    def text(i: Long) = s"plan doc $i on topic${i % 7} with token u$i and tag g${i % 5}"
    val steps = (0 until 5).map(b => (b * 40L until (b + 1) * 40L).map(i => (i, text(i))))
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), dir,
      compactEvery = 2) { (p, _) =>
      plans += (p.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      })
      p.collect(): Unit
    }
    try steps.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    def scansOf(prefix: String)(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName.startsWith(prefix))
      case _ => false
    }
    // the nodes whose rows reach `p` as rows: through a broadcast join's
    // streamed side, not through an aggregate or another join
    def streamed(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case j: BroadcastHashJoinExec =>
        streamed(if (j.buildSide == BuildRight) j.left else j.right)
      case _: BaseJoinExec | _: BaseAggregateExec => Nil
      case _ => p.children.flatMap(streamed)
    })
    assert(plans.size == steps.size)
    assert(plans.exists(p => p.exists(scansOf("base")) && p.exists(scansOf("d"))),
      "a batch must probe a base and a delta together")
    plans.zipWithIndex.foreach { case (p, i) =>
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"batch $i plans a sort-merge join:\n$p")
      val fed = p.collect { case e: Exchange => e }
        .flatMap(_.children.flatMap(streamed)).filter(scansOf("base"))
      assert(fed.isEmpty, s"batch $i exchanges base rows:\n$p")
    }
  }

  test("dedupIndexIngest: delta bytes ∝ batch across >= 2 compactions on both stores") {
    def text(i: Long) = s"doc $i of topic${i % 11} with unique token q$i " +
      s"and marker m${i * 17 % 19} plus padding words here"
    // 7 equal 40-doc batches at compactEvery=2: both stores must fold a
    // base at least twice, keep a bounded directory layout after every
    // batch, and write equal-sized deltas for equal batches
    val batches = (0 until 7).map(b =>
      (b * 40L until (b + 1) * 40L).map(i => (i, text(i), vec(i.toInt))))
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_ddi_c").toString
    val (dd, ann) = (root + "/dedup", root + "/ann")
    val layouts = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Seq[String])]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = RollingIngest.dedupIndexIngest(
      in.toDF().toDF("doc_id", "text", "embedding"), dd, ann,
      compactEvery = 2) { (n, _) => n.collect(): Unit }
    try batches.foreach { b =>
      in.addData(b); q.processAllAvailable()
      layouts += ((new java.io.File(dd).listFiles().map(_.getName).sorted.toSeq,
        new java.io.File(ann).listFiles().map(_.getName).sorted.toSeq))
    } finally q.stop()
    layouts.foreach { case (l1, l2) =>
      assert(l1.size <= 4 && l2.size <= 4,
        s"store layout outgrew the compaction bound: $l1 / $l2")
    }
    Seq(dd, ann).foreach { dir =>
      val bases = layouts.flatMap(l =>
        (if (dir == dd) l._1 else l._2).filter(_.startsWith("base"))).distinct
      assert(bases.size >= 2, s"$dir: expected >= 2 base folds, saw $bases")
    }
    // equal batches -> comparable delta sizes on the ANN store (no
    // corpus-sized rewrite hiding in the per-batch path)
    val dDirs = layouts.last._2.filter(_.startsWith("d"))
    val sizes = dDirs.map(n => storeFiles(ann, n).map(_.length).sum.toDouble)
    assert(sizes.nonEmpty && sizes.max / sizes.min < 1.5,
      s"equal batches must write equal-sized deltas, got ${sizes.mkString(",")}")
  }

  test("routed probe prunes the store scan to the batch's cells") {
    // store over cells {0,1,2}; a probe restricted to cell 0 must touch
    // only cell=0 partition directories (VERDICT r8 #7: the 100 TB
    // partition-pruning story as pinned behavior, not prose)
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_ri_prune").toString + "/store"
    val b0 = (0L until 12L).map(i => (i, (i % 3).toInt, vec(i.toInt)))
    val b1 = (12L until 18L).map(i => (i, (i % 3).toInt, vec(i.toInt)))
    val in = MemoryStream[(Long, Int, Seq[Float])]
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "cell", "embedding"),
      dir, routeCols = Seq("cell")) { (nbrs, _) =>
      plans += nbrs.queryExecution.executedPlan.toString; nbrs.collect(): Unit
    }
    try Seq(b0, b1).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val schema = Similarity.hyperBands(
      Seq.empty[(Long, Int, Seq[Float])].toDF("vec_id", "cell", "embedding")).schema
    // measure actual files read, with AQE off so the executed plan exposes
    // the FileSourceScan metrics directly
    def filesRead(filter: Option[org.apache.spark.sql.Column]): Long = {
      val df = RollingIngest.storeView(spark, dir, schema, "vec_id",
        routeFilter = filter).get
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val (pruned, all) = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      (filesRead(Some(col("cell") === 0)), filesRead(None))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(pruned > 0 && all > pruned,
      s"cell=0 probe must read fewer files ($pruned) than the full store ($all)")
    // the pruned view still resolves the same rows as post-filtering
    val full = RollingIngest.storeView(spark, dir, schema, "vec_id").get
      .filter($"cell" === 0).collect().toSet
    val direct = RollingIngest.storeView(spark, dir, schema, "vec_id",
      routeFilter = Some(col("cell") === 0)).get.collect().toSet
    assert(direct == full)
    // and the live probe's store reads carried the cell filter into the scan
    assert(plans.exists(_.contains("PartitionFilters")),
      "probe plan must show partition filters on the routed store scan")
  }

  test("partitioned store writes stay clustered: files per element bounded by populated cells") {
    // VERDICT r16 #6: the repartition-before-partitionBy in commitDelta is
    // load-bearing (the unclustered form fanned 32 tasks x 512 cells into
    // ~16k 2 KB files per delta at the sf10 routed operating point —
    // 425-527 s retrain events vs 28-86 s) but nothing failed if a
    // refactor dropped it. Pin it at the unit: drive commitDelta with a
    // worst-case input (every task holds every cell — 16 pre-spread
    // partitions x 8 cells), across three commits so one compaction folds
    // a base, and assert every store element (delta AND base) holds at
    // most one parquet file per populated cell (+1 tolerance). Verified
    // to bite: with the clustering repartition removed this fails at 128
    // files per delta / ~60 per base. AQE off + 16 shuffle partitions for
    // the drive — adaptive coalescing collapses toy shuffles to one
    // partition, which is clustered by accident.
    def bandsFor(ids: Range): org.apache.spark.sql.DataFrame =
      spark.range(ids.start, ids.end).select(
        col("id").as("vec_id"),
        (col("id") % 8).cast("int").as("cell"),
        (col("id") * 7 % 64).as("code"))
        .repartition(16, col("vec_id"))
    val schema = bandsFor(0 until 0).schema
    val dir = Files.createTempDirectory("graft_ri_files").toString + "/store"
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevShuf = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      Seq(0 until 256, 256 until 512, 512 until 768).zipWithIndex.foreach {
        case (ids, i) => RollingIngest.commitDelta(spark, dir, bandsFor(ids),
          schema, "vec_id", Seq("cell"), compactEvery = 2, id = i.toLong)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuf)
    }
    val els = new java.io.File(dir).listFiles().toSeq.filter(f =>
      f.isDirectory && (f.getName.matches("d\\d+") || f.getName.startsWith("base")))
    assert(els.map(_.getName).toSet == Set("base1", "d2"),
      s"expected one folded base + the newest delta, got ${els.map(_.getName)}")
    els.foreach { el =>
      val files = storeFiles(dir, el.getName).size
      val cells = spark.read.parquet(el.toString)
        .select("cell").distinct().count()
      assert(cells >= 2, s"${el.getName}: multi-cell element required")
      assert(files <= cells + 1,
        s"${el.getName}: $files parquet files for $cells populated cells " +
          "— the clustering repartition before partitionBy was lost")
    }
    // the effective store still resolves every row exactly once
    val eff = RollingIngest.storeView(spark, dir, schema, "vec_id").get
    assert(eff.count() == 768 &&
      eff.select("vec_id").distinct().count() == 768)
  }

  // ---- rolling connected components (round 17) ----

  /** Drive edge batches through componentsIngest; after EVERY batch assert
    * the resolved store equals labelPropagation over the full edge
    * history. Returns the store dir for post-hoc layout assertions. */
  private def runComponents(batches: Seq[Seq[(Long, Long)]],
                            compactEvery: Int): String = {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_cc").toString + "/store"
    val in = MemoryStream[(Long, Long)]
    val q = RollingIngest.componentsIngest(
      in.toDF().toDF("u", "v"), dir, compactEvery) { (_, _) => () }
    try {
      var history = Seq.empty[(Long, Long)]
      batches.foreach { b =>
        in.addData(b); q.processAllAvailable()
        history ++= b
        val want = graft.operators.Dedup.labelPropagation(
          history.toDF("u", "v").select(
            least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b"))
            .filter(col("a") =!= col("b")).distinct())
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = RollingIngest.componentLabels(spark, dir).get
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want,
          s"resolved store must equal full-history labelPropagation after " +
            s"this batch: got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
      }
    } finally q.stop()
    dir
  }

  test("componentsIngest: labels equal full-history components after every batch") {
    // grows two separate components over two batches, then BRIDGES them
    // with a single edge — the cascade case: the store holds many rows of
    // both labels, and the merge must cost one ledger entry, not a relabel
    runComponents(Seq(
      Seq((10L, 11L), (11L, 12L), (20L, 21L)),          // two components
      Seq((12L, 13L), (21L, 22L), (22L, 23L)),          // both grow
      Seq((13L, 21L)),                                  // one bridging edge
      Seq((30L, 31L), (5L, 10L))                        // new comp + new min
    ), compactEvery = 100)
  }

  test("componentsIngest: the bridge writes a ledger element, not a relabel of untouched rows") {
    val dir = runComponents(Seq(
      Seq((10L, 11L), (11L, 12L), (20L, 21L), (21L, 22L)),
      Seq((12L, 20L))), compactEvery = 100)
    // the bridge batch touched only {12, 20} (+ their labels via the
    // ledger): its delta must be batch-sized, with the rename in m<id>
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("m")), s"expected a ledger element: $names")
    val lastDelta = names.filter(_.startsWith("d")).map(_.drop(1).toLong).max
    val deltaRows = spark.read.parquet(s"$dir/d$lastDelta").count()
    assert(deltaRows <= 4,
      s"bridge delta must stay batch-sized (touched nodes + labels), got $deltaRows")
    // untouched chain members (11, 21, 22) still resolve to the merged min
    val got = RollingIngest.componentLabels(spark, dir).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(10L, 11L, 12L, 20L, 21L, 22L).forall(got(_) == 10L))
  }

  test("componentsIngest: compaction folds the ledger into the base and deletes it") {
    val dir = runComponents(Seq(
      Seq((10L, 11L), (20L, 21L)),
      Seq((10L, 20L)),                 // merge -> ledger entry
      Seq((40L, 41L)),
      Seq((50L, 51L)),
      Seq((60L, 61L))), compactEvery = 3)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("base")), s"expected a compacted base: $names")
    assert(!names.exists(n => n.startsWith("m") && !n.startsWith("base")),
      s"compaction must fold + delete ledger elements: $names")
    // folded base rows carry the RESOLVED labels directly
    val base = names.filter(_.startsWith("base")).head
    val baseRows = spark.read.parquet(s"$dir/$base")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(10L, 11L, 20L, 21L).forall(n => baseRows.get(n).forall(_ == 10L)),
      s"folded base must hold resolved labels: $baseRows")
  }

  test("dedupClustersIngest: durable cluster labels equal components over the replayed pair stream") {
    // the composed crawl stack: near-dup pairs update the components store
    // inside the SAME micro-batch; the resolved label view must equal
    // labelPropagation over every pair the dedup replay produces
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_ddcc").toString
    val (dd, cc) = (root + "/dedup", root + "/cc")
    def text(i: Long) = s"doc $i holds token k$i theme t${i % 6} and suffix s${i * 7 % 11}"
    val b0 = (0L until 8L).map(i => (i, text(i)))
    val b1 = (8L until 13L).map(i => (i, text(i))) :+ (13L, text(4))  // dup of 4
    val b2 = Seq((14L, text(4)), (15L, text(9)))                     // dups of 4 and 9
    val steps = Seq(b0, b1, b2)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupClustersIngest(
      in.toDF().toDF("doc_id", "text"), dd, cc) { (labels, _) =>
      sunk ++= labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try steps.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // expected pairs: the static incremental replay per step, unioned
    val allPairs = steps.indices.flatMap { i =>
      val prior = steps.take(i).flatten
      graft.operators.Dedup.simhashNearDupIncrementalBands(
        graft.operators.Dedup.simhash64Bands(prior.toDF("doc_id", "text")),
        graft.operators.Dedup.simhash64Bands(steps(i).toDF("doc_id", "text")))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(allPairs.nonEmpty, "fixture must produce near-dup pairs")
    val want = graft.operators.Dedup.labelPropagation(
      allPairs.toDF("u", "v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = RollingIngest.componentLabels(spark, cc).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"composed cluster store must equal full-pair components: got " +
        s"${got.toSeq.sorted} want ${want.toSeq.sorted}")
    // the sink saw every store row at least once (labels may be re-sunk
    // when later batches touch them)
    assert(want.subsetOf(
      sunk.toSet ++ got), "sink rows + store must cover the component set")
  }
}
