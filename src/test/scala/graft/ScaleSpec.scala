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

  test("the 128-bit simhash tier's pairs are a subset of the 64-bit tier's") {
    import graft.operators.Dedup
    // the one band knee: 2 x the 16-bit bucket space
    assert(Dedup.SimhashBandKnee === 131072L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = pairs(Dedup.ddSimhashNearDup64.fn(spark, sf0001))
    val wide = pairs(Dedup.ddSimhashNearDup128.fn(spark, sf0001))
    // the wide tier is the stricter point on the precision curve: a pair at
    // 128-bit hamming <= 3 has lo-half hamming <= 3 (the lo half IS the
    // 64-bit signature) and by pigeonhole still shares a 16-bit band
    assert(wide.nonEmpty, "wide tier has no pairs at gate SF")
    assert(wide.subsetOf(narrow))
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

  test("ivfPqKcRouted: sqrt(n) on the power-of-2 grid, fixture-kc floor, 4096 cap") {
    import graft.operators.Similarity
    assert(Similarity.ivfPqKcRouted(1) === Similarity.IvfPqCells)
    assert(Similarity.ivfPqKcRouted(500) === 16)
    assert(Similarity.ivfPqKcRouted(5000) === 64)
    assert(Similarity.ivfPqKcRouted(50000) === 256)
    assert(Similarity.ivfPqKcRouted(500000) === 512)
    assert(Similarity.ivfPqKcRouted(Long.MaxValue) === 4096)
  }

  test("the 128-bit incremental image tier's pairs are a subset of the 16-bit tier's") {
    import graft.operators.Multimodal
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = pairs(Multimodal.mmImageIncremental.fn(spark, sf0001))
    val wide = pairs(Multimodal.mmImageIncremental128.fn(spark, sf0001))
    // the combined 128-bit tier is the stricter operating point: its
    // hamming <= 3 pairs have ahash-half hamming <= 3, so its pair ids
    // are a subset of the narrow tier's
    assert(wide.nonEmpty, "wide tier has no pairs at gate SF")
    assert(wide.subsetOf(narrow))
  }
}
