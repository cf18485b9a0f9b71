package graft

import graft.operators.Similarity
import graft.streaming.RollingIngest
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pinned snapshots of the rolling stores (round 17): a pin captures the
  * live element set into an atomic manifest, every sweep site spares
  * pinned elements, and the snapshot read path reproduces the pin-time
  * effective store EXACTLY — while the live store keeps ingesting,
  * compacting, retraining and merging on top. The reproducibility
  * contract a training run needs ("this model read corpus snapshot S")
  * at zero write-path cost.
  */
class RollingSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(64)(j => (math.sin(seed * 17 + j * 3) * 2).toFloat)

  private val annSchema =
    Similarity.hyperBands(Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).schema

  private def elNames(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet

  test("a pin survives compaction: snapshotView equals the pin-time store bit-for-bit") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap").toString + "/store"
    // five batches; batches 3-4 re-ingest early ids with CHANGED payloads
    // (supersede) and compactEvery=2 folds twice — the live store after
    // the run differs from the pinned one in both content and layout
    val steps: Seq[Seq[(Long, Seq[Float])]] = Seq(
      (0L until 8L).map(i => (i, vec(i.toInt))),
      (8L until 14L).map(i => (i, vec(i.toInt))),
      (14L until 18L).map(i => (i, vec(i.toInt))),
      (18L until 22L).map(i => (i, vec(i.toInt))) :+ (2L, vec(502)),
      (22L until 26L).map(i => (i, vec(i.toInt))) :+ (9L, vec(509)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "embedding"),
      dir, compactEvery = 2) { (_, _) => () }
    var pinned: Set[org.apache.spark.sql.Row] = Set.empty
    var manifest: Seq[String] = Seq.empty
    try steps.zipWithIndex.foreach { case (b, i) =>
      in.addData(b); q.processAllAvailable()
      if (i == 1) { // pin at a batch boundary, 2 batches in
        manifest = RollingIngest.pinSnapshot(spark, dir, "train-v1")
        pinned = RollingIngest.storeView(spark, dir, annSchema, "vec_id")
          .get.collect().toSet
      }
      if (i == 4) RollingIngest.pinSnapshot(spark, dir, "train-v2")
    } finally q.stop()
    // lineage between the two pins: batches 2-4 added 14..25, and the
    // re-ingests of 2 and 9 changed those ids' content in place
    val diff = RollingIngest.snapshotDiff(spark, dir, "train-v1", "train-v2",
      annSchema, "vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == ((14L until 26L).map(i => (i, "added")).toSet
      ++ Set((2L, "updated"), (9L, "updated"))), s"unexpected diff $diff")
    // and the reverse direction flips added <-> removed
    val rev = RollingIngest.snapshotDiff(spark, dir, "train-v2", "train-v1",
      annSchema, "vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rev == ((14L until 26L).map(i => (i, "removed")).toSet
      ++ Set((2L, "updated"), (9L, "updated"))))
    assert(RollingIngest.unpinSnapshot(spark, dir, "train-v2"))
    // the manifest named the then-live elements, and they are still on disk
    assert(manifest.nonEmpty && manifest.forall(elNames(dir).contains),
      s"pinned elements $manifest must survive housekeeping; disk has ${elNames(dir)}")
    // snapshot == the eager pin-time copy, exactly — two compaction folds
    // and two superseding re-ingests later
    val snap = RollingIngest.snapshotView(spark, dir, "train-v1",
      annSchema, "vec_id").get.collect().toSet
    assert(snap == pinned, "snapshotView must reproduce the pin-time store")
    assert(snap.nonEmpty && snap != RollingIngest.storeView(
      spark, dir, annSchema, "vec_id").get.collect().toSet,
      "the live store must have moved past the snapshot (else the test is vacuous)")
    // the live store is UNAFFECTED by retention: equals the band sketch of
    // the supersede-resolved full corpus
    val corpus = steps.zipWithIndex.flatMap { case (b, i) =>
      b.filterNot { case (id, _) =>
        steps.drop(i + 1).exists(_.exists(_._1 == id)) }
    }
    val wantLive = Similarity.hyperBands(corpus.toDF("vec_id", "embedding"))
      .collect().toSet
    assert(RollingIngest.storeView(spark, dir, annSchema, "vec_id")
      .get.collect().toSet == wantLive)
    // pins are immutable; unknown names fail loud
    intercept[IllegalArgumentException] {
      RollingIngest.pinSnapshot(spark, dir, "train-v1")
    }
    intercept[IllegalArgumentException] {
      RollingIngest.snapshotView(spark, dir, "no-such", annSchema, "vec_id")
    }
    assert(RollingIngest.listSnapshots(spark, dir).map(_._1) == Seq("train-v1"))
    // unpin + vacuum reclaims the retained elements; the live store and
    // its layout end exactly where a pin-free run would have
    assert(RollingIngest.unpinSnapshot(spark, dir, "train-v1"))
    RollingIngest.vacuumStore(spark, dir)
    val liveBase = elNames(dir).filter(_.startsWith("base"))
      .map(_.drop(4).toLong).max
    assert(elNames(dir).forall(n =>
      RollingIngest.parseEl(n).exists { case (k, v) =>
        (k == "base" && v == liveBase) || (k == "d" && v > liveBase) }),
      s"vacuum must reclaim all unpinned history, disk has ${elNames(dir)}")
    assert(RollingIngest.storeView(spark, dir, annSchema, "vec_id")
      .get.collect().toSet == wantLive)
  }

  test("a routed retrain keeps a pinned snapshot's books; pinned codes decode under them") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap_rt").toString + "/store"
    val seed = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (c0, b0) = Similarity.ivfPqTrain(seed.toDF("vec_id", "embedding"))
    val steps = (0 until 4).map(s =>
      (s * 60L until (s + 1) * 60L).map(i => (i, vec(i.toInt))))
    val retrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.ivfPqIngestRouted(
      in.toDF().toDF("vec_id", "embedding"), dir, c0, b0,
      retrainGridSteps = 1,
      onRetrain = (o, n, cz) => retrains += ((o, n, cz))) { (_, _) => () }
    var manifest: Seq[String] = Seq.empty
    try steps.zipWithIndex.foreach { case (b, i) =>
      in.addData(b); q.processAllAvailable()
      if (i == 0) manifest = RollingIngest.pinSnapshot(spark, dir, "pre-retrain")
    } finally q.stop()
    assert(retrains.nonEmpty, "harness must cross a retrain (else vacuous)")
    // the manifest pinned the bootstrap books element; the retrain sweep
    // spared it
    val pinnedBooks = manifest.filter(_.startsWith("books"))
    assert(pinnedBooks.nonEmpty && pinnedBooks.forall(elNames(dir).contains),
      s"pinned books $pinnedBooks must survive the retrain sweep")
    // pinned codes decode under the PINNED books: the snapshot equals the
    // bootstrap-books encode of batch 0 (the pin-time corpus)
    val codeSchema = Similarity.ivfPqEncode(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), c0, b0).schema
    val (cP, bP) = RollingIngest.readBooks(spark,
      s"$dir/${pinnedBooks.maxBy(n => n.drop(5).toLong)}")
    assert(cP.map(_._1) == c0.map(_._1) && cP.map(_._2.toSeq) == c0.map(_._2.toSeq),
      "pinned books must round-trip the bootstrap books")
    val snap = RollingIngest.snapshotView(spark, dir, "pre-retrain",
      codeSchema, "vec_id").get.collect().toSet
    val want = Similarity.ivfPqEncode(
      steps.head.toDF("vec_id", "embedding"), cP, bP).collect().toSet
    assert(snap == want,
      "snapshot codes must equal the pinned-books encode of the pin-time corpus")
  }

  test("after unpinning, the next commit reclaims the outdated books; fsck reports them until then") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap_unpin").toString + "/store"
    val seed = (0L until 40L).map(i => (i, vec(i.toInt)))
    val (c0, b0) = Similarity.ivfPqTrain(seed.toDF("vec_id", "embedding"))
    val steps = (0 until 4).map(s =>
      (s * 60L until (s + 1) * 60L).map(i => (i, vec(i.toInt))))
    val retrains = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.ivfPqIngestRouted(
      in.toDF().toDF("vec_id", "embedding"), dir, c0, b0,
      retrainGridSteps = 1,
      onRetrain = (o, n, cz) => retrains += ((o, n, cz))) { (_, _) => () }
    def findings(name: String) =
      RollingIngest.fsckStore(spark, dir).filter(_._2 == name)
    try {
      steps.zipWithIndex.foreach { case (b, i) =>
        in.addData(b); q.processAllAvailable()
        if (i == 0) RollingIngest.pinSnapshot(spark, dir, "pre-retrain")
      }
      assert(retrains.size == 1, "harness must cross exactly one retrain")
      assert(elNames(dir).contains("books-1"), "the pin must retain the bootstrap books")
      assert(findings("books-1") == Seq(("info", "books-1",
        "superseded but retained by a pin")))
      assert(RollingIngest.unpinSnapshot(spark, dir, "pre-retrain"))
      assert(findings("books-1") == Seq(("info", "books-1",
        "superseded and unpinned; reclaimable by any commit or vacuumStore")))
      // one more small batch: no retrain fires, so only the commit sweeps
      in.addData((240L until 245L).map(i => (i, vec(i.toInt))))
      q.processAllAvailable()
    } finally q.stop()
    assert(retrains.size == 1, "the last batch must not retrain (else the sweep is the retrain's)")
    val books = elNames(dir).filter(_.startsWith("books"))
    assert(books.size == 1 && !books.contains("books-1"),
      s"the commit must reclaim the unpinned outdated books, disk has ${elNames(dir)}")
    assert(RollingIngest.fsckStore(spark, dir).isEmpty)
  }

  test("fsck reports an unpinned outdated tier marker as reclaimable; the next commit sweeps it") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_fsck_tier").toString + "/store"
    def text(i: Long) = s"tier doc $i on topic${i % 5} with token u$i"
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"),
      dir, compactEvery = 2) { (_, _) => () }
    def feed(ids: Seq[Long]): Unit = {
      in.addData(ids.map(i => (i, text(i)))); q.processAllAvailable()
    }
    try {
      (0 until 3).foreach(b => feed(b * 10L until (b + 1) * 10L))
      assert(elNames(dir) == Set("base1", "d2"), elNames(dir))
      // two narrow-tier markers at or below the base: tier0 is outdated
      Seq(false).toDF("wide").write.parquet(s"$dir/tier0")
      Seq(false).toDF("wide").write.parquet(s"$dir/tier1")
      val found = RollingIngest.fsckStore(spark, dir)
      assert(found == Seq(("info", "tier0",
        "superseded and unpinned; reclaimable by any commit or vacuumStore")), found)
      feed(30L until 40L)
    } finally q.stop()
    assert(elNames(dir) == Set("base1", "d2", "d3", "tier1"), elNames(dir))
    assert(RollingIngest.fsckStore(spark, dir).isEmpty)
  }

  test("components: snapshot labels are pin-time labels; later merges and ledger folds stay out") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap_cc").toString + "/store"
    val steps: Seq[Seq[(Long, Long)]] = Seq(
      Seq((10L, 11L), (11L, 12L), (20L, 21L), (21L, 22L)), // two components
      Seq((12L, 20L)),                                     // bridge -> ledger m1
      Seq((30L, 31L)),                                     // (pin here)
      Seq((5L, 10L)),                                      // new min relabels comp
      Seq((40L, 41L)), Seq((42L, 43L)), Seq((44L, 45L)))   // push past the fold
    val in = MemoryStream[(Long, Long)]
    val q = RollingIngest.componentsIngest(
      in.toDF().toDF("u", "v"), dir, compactEvery = 3) { (_, _) => () }
    var pinned: Set[(Long, Long)] = Set.empty
    var manifest: Seq[String] = Seq.empty
    try steps.zipWithIndex.foreach { case (b, i) =>
      in.addData(b); q.processAllAvailable()
      if (i == 2) {
        manifest = RollingIngest.pinSnapshot(spark, dir, "cc-v1")
        pinned = RollingIngest.componentLabels(spark, dir).get
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    } finally q.stop()
    // the pin captured a live ledger element (the bridge merge), and the
    // compaction fold left it on disk
    val pinnedM = manifest.filter(_.startsWith("m"))
    assert(pinnedM.nonEmpty, "harness must pin a live ledger element (else vacuous)")
    assert(pinnedM.forall(elNames(dir).contains),
      s"pinned ledger elements $pinnedM must survive the fold")
    // snapshot labels == the eager pin-time labels; the later batch-4
    // merge (5-10, relabeling the bridged component) must NOT leak in
    val snap = RollingIngest.snapshotComponentLabels(spark, dir, "cc-v1")
      .get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snap == pinned, "snapshot labels must be the pin-time labels")
    assert(snap.exists(_._2 == 10L) && !snap.exists(_._2 == 5L),
      "pin-time component label (10) must not show the post-pin merge (5)")
    // the LIVE read is unaffected by ledger retention: equals full-history
    // labelPropagation (the floor keeps folded pinned ledger rows out)
    val want = graft.operators.Dedup.labelPropagation(
      steps.flatten.toDF("u", "v").select(
        least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = RollingIngest.componentLabels(spark, dir).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == want)
  }

  test("dedup store: snapshotDedupView derives the tier and reproduces the pin-time keeper bands") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap_dd").toString + "/store"
    def text(i: Long) = s"snapshot doc $i on topic${i % 5} with token u$i"
    val steps = Seq(
      (0L until 12L).map(i => (i, text(i))),
      (12L until 20L).map(i => (i, text(i))),
      (20L until 30L).map(i => (i, text(i))))
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"),
      dir, compactEvery = 2) { (_, _) => () }
    var pinned: Set[org.apache.spark.sql.Row] = Set.empty
    try steps.zipWithIndex.foreach { case (b, i) =>
      in.addData(b); q.processAllAvailable()
      if (i == 1) {
        RollingIngest.pinSnapshot(spark, dir, "corpus-v1")
        val schema = graft.operators.Dedup.simhash64Bands(
          Seq.empty[(Long, String)].toDF("doc_id", "text")).schema
        pinned = RollingIngest.storeView(spark, dir, schema, "doc_id")
          .get.collect().toSet
      }
    } finally q.stop()
    // schema-free read: the view derives the narrow tier from the pinned
    // elements and reproduces the pin-time bands
    val snap = RollingIngest.snapshotDedupView(spark, dir, "corpus-v1")
      .get.collect().toSet
    assert(snap == pinned && snap.nonEmpty)
    assert(snap.map(_.getAs[Long]("doc_id")) == (0L until 20L).toSet)
  }

  test("a pinned snapshot yields identical training shards after the live store moves on") {
    // the end-to-end reproducibility story the feature exists for: pin ->
    // derive the keeper ids -> pack training shards; a year of further
    // ingest (here: two more batches and a compaction fold) must not
    // change one byte of the packed output
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap_pack").toString + "/store"
    def text(i: Long) = s"pack doc $i body " +
      (0 until (8 + (i % 5)).toInt).map(j => s"t${i}w$j").mkString(" ")
    val steps = Seq((0L until 15L), (15L until 27L), (27L until 40L), (40L until 55L))
      .map(_.map(i => (i, text(i))))
    val corpus = steps.flatten.toDF("doc_id", "text")
    def shardsOf(ids: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = {
      val toks = corpus.join(ids, "doc_id").select(col("doc_id"),
        size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
          .cast("long").as("n_tok"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      toks.withColumn("cum", sum("n_tok").over(w))
        .select(col("doc_id"), col("n_tok"),
          expr("(cum - n_tok) div 64").as("shard_id"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"),
      dir, compactEvery = 2) { (_, _) => () }
    var shardsAtPin: Seq[(Long, Long, Long)] = Seq.empty
    try steps.zipWithIndex.foreach { case (b, i) =>
      in.addData(b); q.processAllAvailable()
      if (i == 1) {
        RollingIngest.pinSnapshot(spark, dir, "train")
        shardsAtPin = shardsOf(RollingIngest
          .snapshotDedupView(spark, dir, "train").get
          .select("doc_id").distinct())
      }
    } finally q.stop()
    val shardsNow = shardsOf(RollingIngest
      .snapshotDedupView(spark, dir, "train").get
      .select("doc_id").distinct())
    assert(shardsNow == shardsAtPin && shardsNow.nonEmpty,
      "packed shards from the pinned snapshot must be identical after the store moved")
    assert(shardsNow.map(_._1).toSet == (0L until 27L).toSet)
    // and the live store genuinely moved (same pack over live ids differs)
    val liveIds = RollingIngest.storeView(spark, dir,
      graft.operators.Dedup.simhash64Bands(
        Seq.empty[(Long, String)].toDF("doc_id", "text")).schema, "doc_id")
      .get.select("doc_id").distinct()
    assert(shardsOf(liveIds).map(_._1).toSet == (0L until 55L).toSet)
  }

  test("fsckStore: healthy is silent; every planted violation is found with its recovery") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_fsck").toString + "/store"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "embedding"),
      dir, compactEvery = 2) { (_, _) => () }
    try (0 until 3).foreach { i =>
      in.addData((i * 10L until (i + 1) * 10L).map(j => (j, vec(j.toInt))))
      q.processAllAvailable()
    } finally q.stop()
    def levels(f: Seq[(String, String, String)]) = f.groupBy(_._1)
    // healthy: no errors, no warns (infos allowed — e.g. none here)
    val healthy = RollingIngest.fsckStore(spark, dir)
    assert(!healthy.exists(t => t._1 == "error" || t._1 == "warn"),
      s"healthy store must fsck clean, got $healthy")
    // plant: a crashed-write leftover, an interrupted-migration marker,
    // a corrupt element, and a pin with a deleted element
    new java.io.File(dir, ".tmp_junk").mkdirs()
    Seq(true).toDF("wide").write.parquet(s"$dir/tier99")
    val bad = new java.io.File(dir, "d98"); bad.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/d98/part-garbage.parquet"), "not parquet")
    val manifest = RollingIngest.pinSnapshot(spark, dir, "s")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(dir, manifest.filter(_.startsWith("d")).head))
    val found = RollingIngest.fsckStore(spark, dir)
    val byLevel = levels(found)
    assert(byLevel("info").exists(_._2 == ".tmp_junk"))
    assert(byLevel("warn").exists(t => t._2 == "tier99" &&
      t._3.contains("migrateDedupTier")))
    assert(byLevel("error").exists(t => t._2 == "d98" &&
      t._3.contains("tmp+rename")))
    assert(byLevel("error").exists(t => t._2 == "s" &&
      t._3.contains("NOT reproducible")))
  }

  test("fsckStore: a truncated second part file is an error, though the element's schema opens") {
    val dir = Files.createTempDirectory("graft_fsck_part").toString + "/store"
    spark.range(0, 300).repartition(3).selectExpr("id as vec_id", "id * 2 as v")
      .write.parquet(s"$dir/d0")
    assert(RollingIngest.fsckStore(spark, dir).isEmpty)
    val parts = new java.io.File(s"$dir/d0").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getPath)
    assert(parts.length == 3)
    val second = parts(1).toPath
    java.nio.file.Files.write(second,
      java.util.Arrays.copyOf(java.nio.file.Files.readAllBytes(second),
        (parts(1).length / 2).toInt))
    // inference reads only the first part's footer: the schema still
    // opens, only a data read would fail
    assert(spark.read.parquet(s"$dir/d0").schema.fieldNames.toSeq == Seq("vec_id", "v"))
    val found = RollingIngest.fsckStore(spark, dir)
    assert(found.exists(t => t._1 == "error" && t._2 == "d0" &&
      t._3.contains(parts(1).getName) && t._3.contains("tmp+rename")), found)
  }

  test("a manually deleted pinned element fails the snapshot read loudly") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_snap_del").toString + "/store"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = RollingIngest.annIngest(in.toDF().toDF("vec_id", "embedding"),
      dir, compactEvery = 100) { (_, _) => () }
    try {
      in.addData((0L until 10L).map(i => (i, vec(i.toInt))))
      q.processAllAvailable()
    } finally q.stop()
    val manifest = RollingIngest.pinSnapshot(spark, dir, "s")
    // delete a pinned element behind the pin contract's back
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(dir, manifest.head))
    val e = intercept[IllegalArgumentException] {
      RollingIngest.snapshotView(spark, dir, "s", annSchema, "vec_id")
    }
    assert(e.getMessage.contains(manifest.head) &&
      e.getMessage.contains("NOT reproducible"))
  }
}
