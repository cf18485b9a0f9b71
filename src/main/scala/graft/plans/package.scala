package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-API entry points for the native expressions — usable from any
  * session, extensions installed or not. */
package object plans {

  private def expr(c: Column) = ColumnBridge.expression(c)

  /** Constant-depth materialization for ITERATIVE relations — the shared
    * remedy for TWO superlinearities found in rounds 15–16:
    *
    *   - plan depth: round k's LOGICAL plan must not nest round k−1's
    *     executed plan — Spark stringifies the full plan description per
    *     action (generateTreeString; SQL-execution events, UI on or off)
    *     and that walk is superlinear in nesting depth (the r15 BPE loop
    *     spent 20+ min single-threaded there). Rebasing the DataFrame on
    *     its own RDD resets the plan to a LogicalRDD (depth 1).
    *   - RDD lineage depth: each round's RDD referencing round k−1's
    *     whole dependency graph makes task serialization recurse the
    *     FULL history — a 2M-edge chain-contraction run (≈ 40 rounds)
    *     died with StackOverflowError in task serialization before this
    *     truncation (r16). `localCheckpoint` cuts the lineage at the
    *     round boundary, so task binaries and driver walks stay O(round).
    *
    * The RDD handle is returned so the caller can `unpersist` the
    * PREVIOUS round once the next one is materialized (ADVICE r15 —
    * without it every round's corpus-sized snapshot stays persisted
    * until driver GC, O(rounds × |relation|) executor storage).
    * Documented trade (ADVICE r15): truncation forfeits lineage
    * recompute — on an executor loss the checkpointed blocks are gone
    * and the JOB fails (it must be re-run; results are unaffected). In
    * local mode block loss means JVM death anyway; a long-running
    * cluster deployment that cannot tolerate a job retry should swap
    * this for RELIABLE checkpointing (sc.setCheckpointDir + .checkpoint,
    * same call shape, storage-backed) — the standard iterative-graph
    * trade, not an engine-specific one. Persist/checkpoint are lazy; the
    * caller's per-round action (a convergence count, or an explicit
    * count) materializes them. */
  def materializeIter(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Fixed-shape JSON integer field probe (see [[JsonFieldUtil.extract]]). */
  def jsonLong(json: Column, key: String): Column =
    ColumnBridge.column(JsonLongField(expr(json), Literal(key)))

  /** First key case-insensitively containing `needle` -> its integer value
    * (X17 dynamic-key lookup; see [[JsonKeyUtil.extract]]). */
  def jsonKeyLong(json: Column, needle: String): Column =
    ColumnBridge.column(JsonKeyLong(expr(json), Literal(needle)))

  /** Fused exact dot product over `array<bigint>` (quantized vectors). */
  def dotQNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductQ(expr(a), expr(b)))

  /** One-pass n-bit SimHash over a shingle-id array. */
  def simhashSig(wids: Column, seedsA: Seq[Long], seedsB: Seq[Long], p: Long): Column =
    ColumnBridge.column(SimHashSig(expr(wids), seedsA, seedsB, p))

  /** One-pass k-lane MinHash over a shingle-id array (null when empty). */
  def minhashSig(wids: Column, seedsA: Seq[Long], seedsB: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinHashSig(expr(wids), seedsA, seedsB, p))

  /** One-pass distinct 3-gram word-hash shingle ids of a document. */
  def wordShingles(text: Column, coef: Seq[Long], k2: Long, k3: Long, p: Long): Column =
    ColumnBridge.column(WordShingleIds(expr(text), coef, k2, k3, p))

  /** One-pass distinct 3-gram word shingle STRINGS (native twin of
    * Dedup.shinglesOf — first-occurrence order like array_distinct). */
  def wordShingleStrings(text: Column): Column =
    ColumnBridge.column(WordShingleStrings(expr(text)))

  /** One-pass POSITIONAL (non-distinct) 3-gram shingle ids — element j is
    * the gram starting at word j+1, the span-addressable scrub form. */
  def wordShinglePos(text: Column, coef: Seq[Long], k2: Long, k3: Long, p: Long): Column =
    ColumnBridge.column(WordShinglePos(expr(text), coef, k2, k3, p))

  /** One-pass winnowing (MOSS) fingerprint selection over a document:
    * encoded (hash*posCap - gramPos) minima of every sliding 4-gram
    * window, consecutive duplicates suppressed. */
  def winnowSelect(text: Column, coef: Seq[Long], k2: Long, k3: Long, p: Long,
                   posCap: Long): Column =
    ColumnBridge.column(WinnowSelect(expr(text), coef, k2, k3, p, posCap))

  /** Weighted Misra-Gries heavy-hitters summary (mergeable sketch): at most
    * k candidate item ids, sorted; every item with weight > W/(k+1)
    * guaranteed present regardless of partial-aggregation merge order. */
  /** HyperLogLog++ distinct estimate, bit-identical to
    * `approx_count_distinct(c, relativeSD)` with an O(1)-per-row typed
    * buffer (see [[HllDistinct]]). */
  def hllDistinct(c: Column, relativeSD: Double): Column =
    ColumnBridge.column(HllDistinct(expr(c), relativeSD).toAggregateExpression())

  def mgTopK(item: Column, weight: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGriesTopK(expr(item), expr(weight), k).toAggregateExpression())

  /** Bounded-state per-group top-k: the greatest k struct values under
    * DESC lexicographic field order, as a sorted array — partial-aggregates
    * map-side with <= k rows of state per group (the window-sort
    * alternative for skewed keys). */
  def topK(s: Column, k: Int): Column =
    ColumnBridge.column(TopKStructs(expr(s), k).toAggregateExpression())

  /** Exact bigint sum into DECIMAL(38,0) on a two-long codegen buffer —
    * for sums whose per-row terms fit a long (|x| ≤ 2⁶²) but whose totals
    * outgrow one (see [[Sum128]] for the carry fold and bounds). */
  def sum128(c: Column): Column =
    ColumnBridge.column(Sum128(expr(c)).toAggregateExpression())

  /** Codegen'd membership probe of a broadcast bloom filter over a bigint
    * column (the decontam dictionary tier past broadcast-join size). */
  def bloomContains(wid: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    ColumnBridge.column(BloomMightContainLong(expr(wid), bloom))

  /** One-pass per-document (token, tf, dl) counting — the scan-stage form
    * of tokenize + COUNT(*) GROUP BY (doc, word); explode with `inline`. */
  def wordCounts(text: Column): Column =
    ColumnBridge.column(WordCounts(expr(text)))

  /** Fused n-nearest-centroid assignment over a quantized vector column:
    * array of the n nearest cell ids by (exact-long L2, book position) —
    * one loop over the packed centroid matrix instead of kc literal dot
    * expressions (which outgrow codegen at the routed kc = √n operating
    * point). `cents` is the (id, centroid) book, in book order. */
  def nearestCells(q: Column, cents: Seq[(Int, Array[Long])], n: Int): Column = {
    val dim = cents.head._2.length
    ColumnBridge.column(NearestCells(expr(q),
      cents.map(_._1), cents.flatMap(_._2.toSeq),
      cents.map(_._2.map(x => x * x).sum), dim, n))
  }

  /** Two-pointer scrub reassembly: drop words at the (sorted ascending)
    * 1-based covered positions, join survivors with ' ' — O(n + m) per row
    * where the declarative filter/array_contains twin is O(n × m). */
  def scrubWords(ws: Column, sortedCps: Column): Column =
    ColumnBridge.column(ScrubWords(expr(ws), expr(sortedCps)))

  /** JSON-LD node generator (`_iter_jsonld_nodes` as a table function):
    * use in `select(..., jsonLdNodes(col).as("node"))` like `explode`. */
  def jsonLdNodes(script: Column): Column =
    ColumnBridge.column(JsonLdNodes(expr(script)))

  /** Outer-HTML + class value of every class-attributed element, document
    * order — the `soup.find_all(True, class_=True)` analogue (see
    * [[HtmlUtil.classElements]]). */
  def htmlClassElements(html: Column): Column =
    ColumnBridge.column(HtmlClassElements(expr(html)))

  /** Fused single-walk page scan: `struct(els, scripts)` — classed
    * elements AND ld+json script bodies in one pass (see
    * [[HtmlUtil.pageScan]]). */
  def htmlPageScan(html: Column): Column =
    ColumnBridge.column(HtmlPageScan(expr(html)))
}
