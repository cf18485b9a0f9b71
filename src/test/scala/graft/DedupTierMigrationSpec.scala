package graft

import graft.operators.Dedup
import graft.streaming.RollingIngest
import java.nio.file.Files

/** The offline narrow→wide tier-migration event for the rolling dedup
  * store (VERDICT r16 #1): keeper ids invariant, wide schema at rest, the
  * stream resumes on the store-owned tier, the interrupted-event crash
  * window refuses with a guided recovery, and the census trigger fires in
  * the knee's direction. */
class DedupTierMigrationSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private def text(i: Long): String =
    s"doc $i of topic${i % 11} with unique token q$i and marker " +
      s"m${i * 17 % 19} plus padding words here"

  private val narrowSchema = Dedup.simhash64Bands(
    Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
  private val wideSchema = Dedup.simhash128Bands(
    Seq.empty[(Long, String)].toDF("doc_id", "text")).schema

  private def storeIds(dir: String, wide: Boolean): Set[Long] =
    RollingIngest.storeView(spark, dir,
      if (wide) wideSchema else narrowSchema, "doc_id").get
      .select("doc_id").distinct().as[Long].collect().toSet

  test("migration: keeper ids invariant, wide rows at rest, old elements swept") {
    val dir = Files.createTempDirectory("graft_mig").toString + "/store"
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), dir) {
      (p, _) => p.collect(): Unit
    }
    try Seq(0L until 8L, 8L until 14L).foreach { r =>
      in.addData(r.map(i => (i, text(i)))); q.processAllAvailable()
    } finally q.stop()
    val before = storeIds(dir, wide = false)
    assert(before == (0L until 14L).toSet)
    val corpus = (0L until 14L).map(i => (i, text(i))).toDF("doc_id", "text")
    RollingIngest.migrateDedupTier(spark, dir, corpus)
    // layout: exactly the re-sketched base + its tier marker, all narrow
    // elements swept
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names == Seq("base1", "tier1"), names.mkString(","))
    // keeper set byte-identical; content is the wide sketch of the corpus
    assert(storeIds(dir, wide = true) == before)
    val eff = RollingIngest.storeView(spark, dir, wideSchema, "doc_id").get
    val want = Dedup.simhash128Bands(corpus)
    assert(eff.collect().toSet == want.collect().toSet,
      "migrated store must equal the wide sketch of the keeper corpus")
    // idempotence/abuse guard: migrating an already-wide store refuses
    val e = intercept[IllegalArgumentException] {
      RollingIngest.migrateDedupTier(spark, dir, corpus)
    }
    assert(e.getMessage.contains("already on the wide tier"))
  }

  test("stream resumes on the store-owned wide tier and pairs across the migration boundary") {
    val root = Files.createTempDirectory("graft_mig_resume").toString
    val (dir, cp) = (root + "/store", root + "/cp")
    val in = MemoryStream[(Long, String)]
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    def start() = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"),
      dir, configure = _.option("checkpointLocation", cp)) { (p, _) =>
      pairs ++= p.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    val q = start()
    try Seq(0L until 8L, 8L until 14L).foreach { r =>
      in.addData(r.map(i => (i, text(i)))); q.processAllAvailable()
    } finally q.stop()
    RollingIngest.migrateDedupTier(spark, dir,
      (0L until 14L).map(i => (i, text(i))).toDF("doc_id", "text"))
    pairs.clear()
    // resume the SAME checkpoint: batch ids continue past the migrated
    // base version, and the batch sketches at the store's tier — doc 20
    // is an exact copy of pre-migration doc 3, so it must pair at
    // Hamming 0 against the re-sketched store
    val q2 = start()
    try {
      in.addData((14L until 20L).map(i => (i, text(i))) :+ (20L, text(3)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(pairs.exists(p => p._1 == 3L && p._2 == 20L && p._3 == 0),
      s"exact dup of a pre-migration keeper must pair at Hamming 0, got $pairs")
    // the post-migration batch equals the static wide-tier replay
    val prior = (0L until 14L).map(i => (i, text(i)))
    val batch = (14L until 20L).map(i => (i, text(i))) :+ (20L, text(3))
    val want = Dedup.simhashNearDupIncrementalBands(
      Dedup.simhash128Bands(prior.toDF("doc_id", "text")),
      Dedup.simhash128Bands(batch.toDF("doc_id", "text")),
      sigCols = Seq("sig_lo", "sig_hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.toSet == want)
    // and the new delta is wide at rest
    val newest = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("d\\d+")).maxBy(_.getName.drop(1).toLong)
    assert(spark.read.parquet(newest.toString).columns.contains("sig_hi"))
    // store ids = every doc seen (corpus + resumed batch)
    assert(storeIds(dir, wide = true) == (0L to 20L).toSet)
  }

  test("interrupted migration: stream refuses with guided recovery; re-run resumes") {
    val root = Files.createTempDirectory("graft_mig_crash").toString
    val (dir, cp) = (root + "/store", root + "/cp")
    val in = MemoryStream[(Long, String)]
    def start() = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"),
      dir, configure = _.option("checkpointLocation", cp)) { (p, _) =>
      p.collect(): Unit
    }
    val q = start()
    try { in.addData((0L until 10L).map(i => (i, text(i)))); q.processAllAvailable() }
    finally q.stop()
    // a corpus missing keepers aborts AFTER the marker write (the real
    // mid-event crash state): marker present, base still narrow
    val truncated = (0L until 6L).map(i => (i, text(i))).toDF("doc_id", "text")
    val eMig = intercept[IllegalArgumentException] {
      RollingIngest.migrateDedupTier(spark, dir, truncated)
    }
    assert(eMig.getMessage.contains("covers 6 of 10"))
    assert(new java.io.File(dir).listFiles().exists(_.getName == "tier0"),
      "the crash sentinel must survive the abort")
    // the narrow rows are still live and untouched
    assert(storeIds(dir, wide = false) == (0L until 10L).toSet)
    // a resumed stream must refuse, naming the recovery
    val q2 = start()
    val eStream = intercept[Exception] {
      try { in.addData(Seq((10L, text(10)))); q2.processAllAvailable() }
      finally q2.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(eStream).exists(c =>
      Option(c.getMessage).exists(_.contains("migrateDedupTier"))),
      s"stream must name the recovery, got $eStream")
    // re-running the migration with the full corpus completes the event…
    RollingIngest.migrateDedupTier(spark, dir,
      (0L until 10L).map(i => (i, text(i))).toDF("doc_id", "text"))
    assert(storeIds(dir, wide = true) == (0L until 10L).toSet)
    // …and the stream resumes (batch 1 replays against the wide store)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(storeIds(dir, wide = true) == (0L to 10L).toSet)
  }

  test("census trigger fires narrow-past-knee only") {
    val dir = Files.createTempDirectory("graft_mig_due").toString + "/store"
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), dir) {
      (p, _) => p.collect(): Unit
    }
    try { in.addData((0L until 10L).map(i => (i, text(i)))); q.processAllAvailable() }
    finally q.stop()
    assert(!RollingIngest.dedupTierMigrationDue(spark, dir),
      "10 docs are nowhere near the default knee")
    assert(RollingIngest.dedupTierMigrationDue(spark, dir, knee = 5),
      "narrow store past the knee is due")
    RollingIngest.migrateDedupTier(spark, dir,
      (0L until 10L).map(i => (i, text(i))).toDF("doc_id", "text"))
    assert(!RollingIngest.dedupTierMigrationDue(spark, dir, knee = 5),
      "a migrated (wide) store is never due")
  }
}
