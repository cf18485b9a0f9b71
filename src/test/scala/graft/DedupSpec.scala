package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup operator behavior on constructed near-duplicates + testdata. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def docsDf = Seq(
    (0L, base),
    (1L, base),                                    // exact dup of 0
    (2L, base + " with a tiny suffix change here"), // near dup of 0
    (3L, "completely different content about spark shuffles and partitions only")
  ).toDF("doc_id", "text")

  test("shinglesOf produces distinct 3-gram shingles") {
    val sh = docsDf.filter($"doc_id" === 0)
      .select(Dedup.shinglesOf($"text")).collect().head.getSeq[String](0)
    assert(sh.contains("the quick brown"))
    assert(sh.contains("quick brown fox"))
    // 13 words -> 11 shingles, all distinct here
    assert(sh.size == 11)
  }

  test("short documents yield no shingles (no crash)") {
    val sh = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(Dedup.shinglesOf($"text")).collect().head.getSeq[String](0)
    assert(sh.isEmpty)
  }

  test("scalable MinHash+LSH finds exact and near dups, not unrelated docs") {
    val sigs = Dedup.minhashNativeDF(docsDf)
    val pairs = Dedup.lshCandidatePairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))   // identical shingle sets -> identical sigs
    assert(pairs.contains((0L, 2L)))   // high-overlap near dup shares a band
    assert(!pairs.contains((0L, 3L)))  // unrelated doc shares no band
    assert(!pairs.contains((1L, 3L)))
  }

  test("identical docs have identical signatures across both wid paths") {
    val s1 = Dedup.minhashNativeDF(docsDf).filter($"doc_id" <= 1)
      .collect().map(_.toSeq.drop(1)).toSeq
    assert(s1.head == s1(1))
    val s2 = Dedup.docWidArraysDecl(docsDf)
      .select($"doc_id" +: Dedup.minhashArrayCols: _*)
      .filter($"doc_id" <= 1)
      .collect().map(_.toSeq.drop(1)).toSeq
    assert(s2.head == s2(1))
  }

  test("dd_exact groups exact duplicates on testdata") {
    val out = Dedup.ddExact.fn(spark, sf0001)
    val total = out.agg(sum("n_copies")).collect().head.getLong(0)
    assert(total == Tables.documents(spark, sf0001).count())
  }

  test("native shingle-id pass equals the declarative pipeline (order included)") {
    val docs = Tables.documents(spark, sf0001)
    val native = Dedup.docWidArrays(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val decl = Dedup.docWidArraysDecl(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(native.toSeq === decl.toSeq)
  }

  test("native shingle STRING pass equals shinglesOf (order included)") {
    // the dd_ngram_jaccard rewrite (round 18) rides on this equality: the
    // native one-pass graft_word_shingle_strings must produce exactly the
    // declarative array_distinct(transform(...)) shingle array, including
    // first-occurrence order — over the fixture corpus AND the constructed
    // edge docs (short doc, repeated shingles, exotic whitespace runs)
    val edge = Seq((100L, "one two"), (101L, "a b c a b c a b c"),
      (102L, "tab\tand\nnewlinevt\ffeed\rcr end pad"),
      (103L, "  leading and trailing   spaces collapse  ")).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").union(edge)
    val native = docs.select($"doc_id",
      graft.plans.wordShingleStrings($"text").as("sh"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val decl = docs.select($"doc_id", Dedup.shinglesOf($"text").as("sh"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(native.toSeq === decl.toSeq)
  }

  test("native minhash signature equals the declarative lambda path") {
    val docs = Tables.documents(spark, sf0001)
    val native = Dedup.minhashNativeDF(docs).orderBy("doc_id").collect().map(_.toSeq)
    val decl = Dedup.docWidArraysDecl(docs)
      .select(col("doc_id") +: Dedup.minhashArrayCols: _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(native.toSeq === decl.toSeq)
  }

  test("dd_simhash_neardup: sound (hamming <= 3) and complete (pigeonhole) vs brute force") {
    // Recompute the 32-bit signatures DECLARATIVELY (the query itself uses
    // the native one-pass expression — this doubles as an equality check),
    // then brute-force all-pairs hamming as the completeness reference.
    val sums = (0 until 32).map { j =>
      aggregate(col("wids"), lit(0),
        (acc, w) => acc + when(((lit(Dedup.A32(j)) * w + lit(Dedup.B32(j))) % lit(Dedup.P)) % 2 === 1, 1)
          .otherwise(-1)).as(s"s$j")
    }
    val sigExpr = (0 until 32).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // brute force over the SAME near-copy-resolved corpus the declared
    // query reads (the round-14 density convention)
    val sigs = Dedup.docWidArrays(Dedup.nearCopyDocs(Tables.documents(spark, sf0001)))
      .select(col("doc_id") +: sums: _*)
      .select(col("doc_id"), sigExpr.as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb, java.lang.Long.bitCount(ha ^ hb))).toSet

    val got = Dedup.ddSimhashNearDup.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.forall(_._3 <= 3))
    assert(got === brute, "band candidate generation must find exactly the <=3-hamming pairs")
  }

  test("64-bit production bands find exactly the <=3-hamming pairs") {
    val docs = Tables.documents(spark, sf0001)
    val sigs = Dedup.docWidArrays(docs)
      .select(col("doc_id"),
        graft.plans.simhashSig(col("wids"), Dedup.A64, Dedup.B64, Dedup.P).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashNearDupPairs(Dedup.simhash64Bands(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute,
      "16-bit pigeonhole bands over the 64-bit signature must stay exact for hamming <= 3")
  }

  test("128-bit wide-tier bands find exactly the <=3-hamming pairs") {
    // resolved corpus: ddSimhashNearDup128 reads the near-copy convention
    val docs = Dedup.nearCopyDocs(Tables.documents(spark, sf0001))
    val sigs = Dedup.docWidArrays(docs)
      .select(col("doc_id"),
        graft.plans.simhashSig(col("wids"), Dedup.A64, Dedup.B64, Dedup.P).as("lo"),
        graft.plans.simhashSig(col("wids"), Dedup.A128hi, Dedup.B128hi, Dedup.P).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (ida, la, hia) <- sigs; (idb, lb, hib) <- sigs
      d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(hia ^ hib)
      if ida < idb && d <= 3
    } yield (ida, idb, d)).toSet
    val got = Dedup.ddSimhashNearDup128.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute,
      "32-bit pigeonhole bands over the 128-bit signature must stay exact for hamming <= 3")
  }

  test("dd_cross_doc_scrub equals an independent pure-Scala span-cover brute force") {
    // full independent reimplementation: tokenize on the same whitespace
    // set, polynomial word hash, positional 3-gram ids, cross-doc dict
    // (distinct per doc, >= 2 containing docs), cover = union of each
    // duplicated gram's 3 word positions, scrub = drop covered words
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def words(s: String): Array[String] =
      s.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
    def wh(w: String): Long = {
      val cps = w.codePoints().toArray
      var h = 0L
      (0 until Dedup.WordHashWidth).foreach { i =>
        h += Dedup.Coef(i) * (if (i < cps.length) cps(i) else '@'.toInt)
      }
      (h + 31L * cps.length) % Dedup.P
    }
    val posIds: Map[Long, (Array[String], Array[Long])] = docs.map { case (id, t) =>
      val ws = words(t)
      val hs = ws.map(wh)
      val wp = (0 until math.max(0, ws.length - 2)).map(j =>
        (hs(j) + Dedup.K2 * hs(j + 1) + Dedup.K3 * hs(j + 2)) % Dedup.P).toArray
      id -> (ws, wp)
    }.toMap
    val dict = posIds.toSeq.flatMap { case (id, (_, wp)) => wp.distinct.map(id -> _) }
      .groupBy(_._2).collect { case (wid, rs) if rs.size >= 2 => wid }.toSet
    val expected = posIds.map { case (id, (ws, wp)) =>
      val cov = wp.zipWithIndex.collect { case (wid, j) if dict(wid) =>
        Seq(j + 1, j + 2, j + 3) }.flatten.toSet
      val kept = ws.zipWithIndex.collect { case (w, i) if !cov(i + 1) => w }
      val nw = ws.length.toLong
      // the engine's word list keeps the empty-string word of a blank doc
      // (split of '' is ['']); this tokenizer drops it — align the count
      val nwAligned = if (nw == 0) 1L else nw
      (id, nwAligned, cov.size.toLong,
        if (nwAligned == 0) 1000000L else (nwAligned - cov.size) * 1000000L / nwAligned,
        kept.mkString(" "))
    }.toSet
    val got = Dedup.ddCrossDocScrub.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got === expected)
    // the convention exists to be exercised: some doc must actually shrink
    assert(got.exists(_._3 > 0), "no spans were scrubbed — fixture degenerate")

    // dd_span_runs: maximal islands of the SAME brute-force cover
    val expectedRuns = posIds.toSeq.flatMap { case (id, (_, wp)) =>
      val cov = wp.zipWithIndex.collect { case (wid, j) if dict(wid) =>
        Seq(j + 1, j + 2, j + 3) }.flatten.distinct.sorted
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var i = 0
      while (i < cov.length) {
        var j = i
        while (j + 1 < cov.length && cov(j + 1) == cov(j) + 1) j += 1
        if (j - i + 1 >= Dedup.SpanRunMinLen)
          runs += ((id, cov(i).toLong, (j - i + 1).toLong))
        i = j + 1
      }
      runs
    }.toSet
    val gotRuns = Dedup.ddSpanRuns.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotRuns === expectedRuns)
    assert(gotRuns.nonEmpty, "no long duplicated runs — fixture degenerate")

    // dd_span_scrub: the THRESHOLDED removal — excise exactly the
    // positions inside brute-force runs >= SpanRunMinLen, keep the rest
    val expectedThr = posIds.map { case (id, (ws, wp)) =>
      val cov = wp.zipWithIndex.collect { case (wid, j) if dict(wid) =>
        Seq(j + 1, j + 2, j + 3) }.flatten.distinct.sorted
      val thr = scala.collection.mutable.Set.empty[Int]
      var i = 0
      while (i < cov.length) {
        var j = i
        while (j + 1 < cov.length && cov(j + 1) == cov(j) + 1) j += 1
        if (j - i + 1 >= Dedup.SpanRunMinLen) (i to j).foreach(k => thr += cov(k))
        i = j + 1
      }
      val kept = ws.zipWithIndex.collect { case (w, x) if !thr(x + 1) => w }
      val nw = ws.length.toLong
      val nwAligned = if (nw == 0) 1L else nw
      (id, nwAligned, thr.size.toLong,
        if (nwAligned == 0) 1000000L else (nwAligned - thr.size) * 1000000L / nwAligned,
        kept.mkString(" "))
    }.toSet
    val gotThr = Dedup.ddSpanScrub.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(gotThr === expectedThr)
    // the operating point must differ from L = 1 somewhere: at least one
    // doc has a short covered overlap that survives the threshold
    val l1Removed = got.map(r => r._1 -> r._3).toMap
    assert(expectedThr.exists { case (id, _, nrem, _, _) => nrem < l1Removed(id) },
      "thresholded scrub removed the same positions as L = 1 everywhere — threshold not exercised")
    assert(expectedThr.exists(_._3 > 0), "thresholded scrub removed nothing — fixture degenerate")
  }

  test("label propagation equals driver-side union-find on testdata pairs") {
    // hand-built: chain 1-2-3, pair 10-11, triangle 20-21-22 (+ 21-20 dup)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L)).toDF("doc_a", "doc_b")
    val got = Dedup.labelPropagation(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // distributed path must agree with the driver path
    val dist = Dedup.labelPropagation(edges, driverMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got)

    // real pairs: compare to union-find over the collected edge list (the
    // clusters query's edges come from the production 64-bit band path)
    val pairs = Dedup.ddSimhashNearDup64.fn(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> find(v)).toMap
    val lp = Dedup.ddDupClusters.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == expected)
  }

  test("forced-distributed label propagation equals the driver path on the production edge set") {
    // VERDICT r14 #3: the distributed path is the only one that exists at
    // 100 TB but every gate SF routes to the driver shortcut — pin label
    // equality on the CORPUS-derived edge set (the production 64-bit
    // near-dup pairs), not just hand-built toys, with the gate forced to 0
    val edges = Dedup.simhashNearDupPairs(Dedup.simhash64BandsRelation(spark, sf0001))
      .select("doc_a", "doc_b").cache()
    try {
      val drv = Dedup.labelPropagation(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the gate's above-threshold strategy is star contraction
      val star = Dedup.labelPropagation(edges, driverMaxEdges = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(drv.nonEmpty, "fixture edge set degenerate — no components to compare")
      assert(star == drv)
      assert(Dedup.lastStarRounds.get() >= 1,
        "star contraction must have iterated at least one contraction round")
    } finally edges.unpersist()
  }

  test("star contraction converges in O(log n) rounds on a chain and matches union-find") {
    // the shape that kills min-label propagation: a chain of n vertices
    // needs n-1 min-label rounds but only ~log2(n) star rounds
    val n = 200
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.starContraction(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (0L until n.toLong).map(_ -> 0L).toMap)
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 2
    assert(Dedup.lastStarRounds.get() <= bound,
      s"star contraction took ${Dedup.lastStarRounds.get()} rounds on a $n-chain (bound $bound)")
  }

  test("star contraction equals union-find labels on random graphs") {
    val rnd = new scala.util.Random(1716)
    for (trial <- 1 to 3) {
      val nv = 40 + trial * 25
      val edges = Seq.fill(nv)((rnd.nextInt(nv).toLong, rnd.nextInt(nv).toLong))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = Dedup.starContraction(edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial mismatch")
    }
  }

  test("labelPropagation size gate routes to the distributed path above driverMaxEdges") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // at or under the gate: driver union-find -> a purely local result plan
    val small = Dedup.labelPropagation(edges, driverMaxEdges = 2L)
    assert(small.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "<= gate must use the driver path (local relation result)")
    // above the gate: min-label propagation -> a distributed join/agg plan
    val big = Dedup.labelPropagation(edges, driverMaxEdges = 1L)
    assert(!big.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "> gate must use the distributed path")
    assert(big.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      small.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("driver union-find survives a long chain in adversarial edge order") {
    // 100k-vertex chain, edges high-to-low so naive path compression would
    // build a deep parent chain; the iterative find must stay O(1) stack
    val n = 100000L
    val edges = spark.range(1, n)
      .orderBy(col("id").desc)
      .select((col("id") - 1).as("doc_a"), col("id").as("doc_b"))
    val labels = Dedup.labelPropagation(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L))
  }

  test("dd_fuzzy_keep: exact dups cluster together, keepers are cluster minima") {
    val out = Dedup.ddFuzzyKeep.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    // keeper is the cluster minimum, hence <= every member
    assert(out.forall { case (doc, keeper) => keeper <= doc })
    // byte-identical documents are jaccard-1.0 pairs in the same bands, so
    // every exact-dup group must land in one cluster
    val dupGroups = Tables.documents(spark, sf0001)
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1)
      .collect().map(_.getSeq[Long](1))
    dupGroups.foreach { ids =>
      val keepers = ids.map(out).toSet
      assert(keepers.size == 1, s"exact dups $ids split across keepers $keepers")
    }
    // the verify gate is real: every clustered pair it admitted has
    // jaccard >= 0.8 against the brute-force shingle sets
    val wids = Dedup.docWidArrays(Tables.documents(spark, sf0001))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    out.groupBy(_._2).values.filter(_.size > 1).take(20).foreach { cluster =>
      // within a cluster, SOME spanning structure of >=0.8 pairs exists;
      // check the weaker per-member invariant: each member has at least one
      // >=0.8 partner in the cluster
      val members = cluster.keys.toSeq
      members.foreach { m =>
        val ok = members.exists { o =>
          o != m && {
            val (a, b) = (wids(m), wids(o))
            val i = a.intersect(b).size
            val u = a.size + b.size - i
            u > 0 && i * 5 >= u * 4
          }
        }
        assert(ok, s"doc $m has no >=0.8 partner in its cluster $members")
      }
    }
  }

  test("incremental 64-band near-dup finds exactly the new-touching pairs") {
    val docs = Tables.documents(spark, sf0001)
    val store = Dedup.simhash64Bands(docs.filter($"doc_id" < 400))
    val batch = docs.filter($"doc_id" >= 400)
    val inc = Dedup.simhashNearDupIncremental(store, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.simhashNearDupPairs(Dedup.simhash64Bands(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full.filter { case (a, b) => a >= 400 || b >= 400 })
    assert(inc.forall { case (a, b) => a < b })
  }

  test("incremental near-dup: a re-ingested id supersedes its store signature") {
    // store holds docs < 450; the batch RE-INGESTS ids >= 350 with changed
    // text plus ids >= 450 — the stale store signatures of 350..449 must
    // not pair (no duplicate/conflicting rows), only the fresh ones
    val docs = Tables.documents(spark, sf0001)
    val store = Dedup.simhash64Bands(docs.filter($"doc_id" < 450))
    val batch = docs.filter($"doc_id" >= 350)
      .withColumn("text", concat(lit("recrawled marker "), col("text")))
    val inc = Dedup.simhashNearDupIncremental(store, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // no duplicate (a, b) rows with conflicting hamming from stale sigs
    assert(inc.map(t => (t._1, t._2)).distinct.length == inc.length,
      "stale store signatures must not produce duplicate pair rows")
    // reference: full recompute over the superseded corpus, new-touching only
    val corpus = docs.filter($"doc_id" < 350).select("doc_id", "text")
      .unionByName(batch.select("doc_id", "text"))
    val full = Dedup.simhashNearDupPairs(Dedup.simhash64Bands(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.map(t => (t._1, t._2)).toSet ===
      full.filter { case (a, b) => a >= 350 || b >= 350 })
  }

  test("neardup band join survives a degenerate all-one-bucket skew") {
    // 200 identical docs: every doc lands in the SAME bucket of every band
    // (the skew shape ADVICE flagged for the collect_list expansion) plus a
    // handful of distinct docs. The streaming join must return exactly
    // C(200,2) hamming-0 pairs for the clones and nothing linking the
    // distinct docs to them.
    val clones = (0L until 200L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val others = Seq(
      (900L, "completely different content about spark physical plans here"),
      (901L, "yet another unrelated document mentioning shuffle exchanges"))
    val docs = spark.createDataFrame(clones ++ others).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(Dedup.simhash32Bands(docs)).cache()
    val clonePairs = pairs.filter($"doc_a" < 200 && $"doc_b" < 200)
    assert(clonePairs.count() == 200L * 199 / 2)
    assert(clonePairs.filter($"hamming" =!= 0).count() == 0)
    assert(pairs.filter($"doc_a" < 200 && $"doc_b" >= 900).count() == 0)
    pairs.unpersist()
  }

  test("jaccard of identical docs is 1.0, of disjoint docs is 0.0") {
    val sets = docsDf.select($"doc_id", Dedup.shinglesOf($"text").as("sh"))
    val j = sets.as("a").join(sets.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
          size(array_union($"a.sh", $"b.sh"))).as("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 3L)) == 0.0)
    assert(j((0L, 2L)) > 0.5)
  }
}
