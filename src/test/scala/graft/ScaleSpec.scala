package graft

import graft.operators.Scale
import org.apache.spark.sql.functions._

/** Plan-level checks for the scale utilities. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the rows of the plain join") {
    // skewed large side: 90% of rows share key 1
    val large = (1 to 2000).map(i => (if (i % 10 == 0) i % 7 else 1, s"v$i")).toDF("k", "v")
    val small = (0 to 6).map(i => (i, s"dim$i")).toDF("k", "d")
    val plain = large.join(small, Seq("k"))
    val salted = Scale.saltedJoin(large, small, "k", saltFactor = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("Inflate preserves join fan-out, name shapes, and shingle disjointness") {
    val dst = java.nio.file.Files.createTempDirectory("graft_infl").toString
    Inflate.run(spark, sf0001, dst, 2)
    def cnt(t: String) = spark.read.parquet(s"$dst/$t.parquet").count()
    val o0 = Tables.orders(spark, sf0001).count()
    assert(cnt("orders") == 2 * o0)
    // every order still joins exactly ONE customer (no quadratic blowup)
    val o = spark.read.parquet(s"$dst/orders.parquet")
    val c = spark.read.parquet(s"$dst/customer.parquet")
    assert(o.join(c, col("o_custkey") === col("c_custkey")).count() == 2 * o0)
    // key-embedding names regenerate, so name joins keep per-replica selectivity
    val s = spark.read.parquet(s"$dst/supplier.parquet")
    assert(s.filter(!col("s_name").rlike("^Supplier#\\d{9}$")).count() == 0)
    assert(s.select("s_name").distinct().count() == s.count())
    // word-salted replicas share no shingles: exact-dup groups don't grow
    val d = spark.read.parquet(s"$dst/documents.parquet")
    val dupGroups0 = Tables.documents(spark, sf0001)
      .groupBy("text").count().filter(col("count") > 1).count()
    assert(d.groupBy("text").count().filter(col("count") > 1).count() == 2 * dupGroups0)
    // fixed dims stay fixed
    assert(cnt("nation") == Tables.nation(spark, sf0001).count())
  }

  test("Inflate factor > 10 keeps the name/key correspondence (pad width adapts)") {
    // lpad TRUNCATES longer inputs: with the old fixed width 9, factor 12
    // pushes keys past 1e9 and names silently collide across replicas
    val dst = java.nio.file.Files.createTempDirectory("graft_infl12").toString
    Inflate.run(spark, sf0001, dst, 12)
    val s = spark.read.parquet(s"$dst/supplier.parquet")
    assert(s.select("s_name").distinct().count() == s.count(),
      "key-embedding names must stay unique past the 1e9 key boundary")
    // width follows the factor: max key 11*1e8+... has 10 digits
    assert(s.filter(!col("s_name").rlike("^Supplier#\\d{10}$")).count() == 0)
  }

  /** Distinct one-directional band-collision pairs of an (id, band_id,
    * band_val) relation — the shared candidate-counting discipline of both
    * saturation tests (simhash and hyperplane tiers). */
  private def rawCandidates(bands: org.apache.spark.sql.DataFrame,
                            idCol: String): Long = {
    val b = bands.select(idCol, "band_id", "band_val").cache()
    try {
      val a1 = b.select(col("band_id"), col("band_val"), col(idCol).as("id_a"))
      val b1 = b.select(col("band_id"), col("band_val"), col(idCol).as("id_b"))
      a1.join(b1, Seq("band_id", "band_val")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().count()
    } finally b.unpersist()
  }

  test("64-bit bands keep candidate buckets sparse where the 8-bit baseline saturates") {
    // Word-salted replicas (the Inflate documents transform, in-memory):
    // 3000 docs, shingle-disjoint across replicas, so there are no
    // cross-replica near-dups — any candidate growth beyond ~6x the base
    // corpus is pure band-bucket saturation. The 32-bit baseline's 8-bit
    // bands (256 values) are already saturating at this size; the
    // production 16-bit bands (65536 values) must stay at least an order
    // of magnitude sparser. This is the count-based (deterministic) twin
    // of the timed sf1 sweep in ARCHITECTURE.md "Measured scaling".
    val docs0 = Tables.documents(spark, "/root/testdata/sf0.01").select("doc_id", "text")
    val reps = spark.range(6).select(col("id").as("rep"))
    val docs = docs0.crossJoin(broadcast(reps)).select(
      (col("doc_id") + col("rep") * 100000000L).as("doc_id"),
      regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1x"), col("rep").cast("string"))).as("text")).cache()
    val c32 = rawCandidates(graft.operators.Dedup.simhash32Bands(docs), "doc_id")
    val c64 = rawCandidates(graft.operators.Dedup.simhash64Bands(docs), "doc_id")
    docs.unpersist()
    assert(c64 * 10 <= c32,
      s"production bands must cut raw candidates >=10x at 3000 docs (c32=$c32, c64=$c64)")
  }

  test("auto-tier simhash flips 64 -> 128 bit exactly at the saturation knee") {
    import graft.operators.Dedup
    // the pure rule at the real knee (2 x 16-bit bucket space)
    assert(Dedup.SimhashBandKnee === 131072L)
    assert(Dedup.simhashTier(Dedup.SimhashBandKnee - 1) === 64)
    assert(Dedup.simhashTier(Dedup.SimhashBandKnee) === 128)
    assert(Dedup.simhashTier(500) === 64)       // every test SF
    assert(Dedup.simhashTier(500000) === 128)   // the sf10 decade point
    // end-to-end with an overridden knee so both tiers run on 500 docs:
    // below the knee the auto path must equal the declared 64-bit query's
    // pairs; above it the declared 128-bit query's
    val docs = Tables.documents(spark, sf0001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val narrow = pairs(Dedup.simhashNearDupAuto(docs, knee = Long.MaxValue))
    val wide = pairs(Dedup.simhashNearDupAuto(docs, knee = 1L))
    assert(narrow === pairs(Dedup.simhashNearDupPairs(Dedup.simhash64Bands(docs))))
    assert(wide === pairs(Dedup.simhashNearDupPairs(Dedup.simhash128Bands(docs),
      sigCols = Seq("sig_lo", "sig_hi"))))
    // the wide tier is the stricter point on the precision curve: a pair at
    // 128-bit hamming <= 3 has lo-half hamming <= 3 (the lo half IS the
    // 64-bit signature) and by pigeonhole still shares a 16-bit band
    assert(wide.map(t => (t._1, t._2)).subsetOf(narrow.map(t => (t._1, t._2))))
  }

  test("wide hyperplane bands keep buckets sparse where the narrow tier saturates") {
    import graft.operators.Similarity
    // Spread synthetic corpus (xxhash64-derived components: pairwise
    // near-orthogonal, so there are no genuine near neighbors — any band
    // collision is pure bucket saturation): 3000 vectors. Narrow 8-bit
    // buckets collide random pairs at ~2/256; the 16-bit wide bands must
    // stay at least an order of magnitude sparser. Count-based
    // (deterministic) twin of the timed sf1 point in ARCHITECTURE.md.
    // (The testdata embeddings are the WRONG corpus for this check: they
    // are cluster-generated, and same-cluster vectors are genuine
    // neighbors both tiers rightly keep — measured: only a 2.6x cut.)
    val qn = spark.range(3000)
      .select(col("id").as("vec_id"), transform(sequence(lit(1), lit(64)),
        i => pmod(xxhash64(col("id"), i), lit(2001L)) - lit(1000L)).as("q"))
      .select(col("vec_id"), col("q"),
        sqrt(graft.plans.dotQNative(col("q"), col("q")).cast("double")).as("norm"))
      .cache()
    val cNarrow = rawCandidates(Similarity.hyperBandsOfQNorm(qn), "vec_id")
    val cWide = rawCandidates(Similarity.hyperBandsWideOfQNorm(qn), "vec_id")
    qn.unpersist()
    assert(cWide * 10 <= cNarrow,
      s"wide bands must cut raw candidates >=10x at 3000 vectors (narrow=$cNarrow, wide=$cWide)")
  }

  test("auto-tier knn graph flips 8 -> 16 bit bands at the occupancy knee") {
    import graft.operators.Similarity
    assert(Similarity.KnnBandKnee === 131072L)
    assert(Similarity.knnGraphTier(Similarity.KnnBandKnee - 1) === 8)
    assert(Similarity.knnGraphTier(Similarity.KnnBandKnee) === 16)
    assert(Similarity.knnGraphTier(5000) === 8)     // every test SF
    assert(Similarity.knnGraphTier(500000) === 16)  // the sf10 decade point
    // end-to-end with an overridden knee so both tiers run on the small SF:
    // the auto path must equal the declared tier queries' edge sets
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val narrow = edges(Similarity.knnGraphAuto(spark, sf0001, knee = Long.MaxValue))
    val wide = edges(Similarity.knnGraphAuto(spark, sf0001, knee = 1L))
    assert(narrow === edges(Similarity.simKnnGraph.fn(spark, sf0001)))
    assert(wide === edges(Similarity.simKnnGraphWide.fn(spark, sf0001)))
    // the ROUTED auto entry must equal the routed tier queries the same way
    val routedNarrow =
      edges(Similarity.knnGraphRoutedAuto(spark, sf0001, knee = Long.MaxValue))
    val routedWide = edges(Similarity.knnGraphRoutedAuto(spark, sf0001, knee = 1L))
    assert(routedNarrow === edges(Similarity.simKnnGraphRouted.fn(spark, sf0001)))
    assert(routedWide === edges(Similarity.knnGraphRoutedWide(spark, sf0001)))
    assert(routedNarrow.nonEmpty, "routed narrow graph must have edges at gate SF")
  }

  test("dedup-then-index auto entry equals the declared narrow composition below the knee") {
    import graft.operators.Similarity
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val narrow =
      edges(Similarity.dedupThenIndexAuto(spark, sf0001, knee = Long.MaxValue))
    assert(narrow === edges(Similarity.simDedupIndex.fn(spark, sf0001)))
    assert(narrow.nonEmpty)
    // past the (overridden) knee the survivor graph rides the wide bands —
    // still a valid graph over the same survivor set (ids ⊆ narrow's ids
    // need not hold for edges, but every endpoint must be a survivor)
    val wide = edges(Similarity.dedupThenIndexAuto(spark, sf0001, knee = 1L))
    val survivors = narrow.flatMap(e => Seq(e._1, e._2))
    val removedIds = graft.operators.Clustering.ddSemdedup.fn(spark, sf0001)
      .collect().filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet
    wide.foreach { e =>
      assert(!removedIds.contains(e._1) && !removedIds.contains(e._2),
        s"wide survivor graph leaked a removed id: $e")
    }
    assert(survivors.nonEmpty)
  }

  test("kc-routed IVF-PQ at the forced fixture kc equals the declared sim_ivf_pq") {
    import graft.operators.Similarity
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // routing equality at a fixed kc (VERDICT r14 #2): the auto entry with
    // kc forced to the fixture constant must reproduce the declared rows
    val forced = edges(Similarity.ivfPqAuto(spark, sf0001,
      kcOverride = Some(Similarity.IvfPqCells)))
    assert(forced === edges(Similarity.simIvfPq.fn(spark, sf0001)))
    assert(forced.nonEmpty, "forced-kc IVF-PQ returned no neighbors at gate SF")
    // the routed point itself must still emit k neighbors per probe (cells
    // differ, results may legitimately differ — recall is priced by the
    // sim_pq_recall harness, not this equality spec)
    val routed = Similarity.ivfPqAuto(spark, sf0001)
    assert(routed.groupBy("qid").count().collect().forall(_.getLong(1) <= 3))
    assert(routed.count() > 0)
    // the router's law: √n on the power-of-2 grid, floored at the fixture
    // constant, capped at 4096
    assert(Similarity.ivfPqKcRouted(1) === Similarity.IvfPqCells)
    assert(Similarity.ivfPqKcRouted(500) === 16)
    assert(Similarity.ivfPqKcRouted(5000) === 64)
    assert(Similarity.ivfPqKcRouted(50000) === 256)
    assert(Similarity.ivfPqKcRouted(500000) === 512)
    assert(Similarity.ivfPqKcRouted(Long.MaxValue) === 4096)
  }

  test("auto-tier incremental image ingest flips 16 -> 32 bit bands at the occupancy knee") {
    import graft.operators.Multimodal
    assert(Multimodal.ImageBandKnee === 131072L)
    assert(Multimodal.imageTier(Multimodal.ImageBandKnee - 1) === 16)
    assert(Multimodal.imageTier(Multimodal.ImageBandKnee) === 32)
    assert(Multimodal.imageTier(60000) === 16)   // sf1
    assert(Multimodal.imageTier(600000) === 32)  // the sf10 decade point
    // end-to-end with an overridden knee so both tiers run on the small
    // SF: the auto path must equal the declared tier queries' pairs
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val narrow = pairs(Multimodal.mmImageIncrementalAuto(spark, sf0001,
      knee = Long.MaxValue))
    val wide = pairs(Multimodal.mmImageIncrementalAuto(spark, sf0001, knee = 1L))
    assert(narrow === pairs(Multimodal.mmImageIncremental.fn(spark, sf0001)))
    assert(wide === pairs(Multimodal.mmImageIncremental128.fn(spark, sf0001)))
    // the combined 128-bit tier is the stricter operating point: its
    // hamming <= 3 pairs have ahash-half hamming <= 3, so its pair ids
    // are a subset of the narrow tier's
    assert(wide.map(t => (t._1, t._2)).subsetOf(narrow.map(t => (t._1, t._2))))
  }
}
