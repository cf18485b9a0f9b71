package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** Tiny per-(session, key) memo for scalar gate values (corpus counts,
  * trained codebooks): the Spark action that computes the value runs
  * OUTSIDE the monitor (the Persisted lock-scope rule), entries of stopped
  * sessions are swept on access, and a value is computed at most once per
  * live (session, key). Use boxed value types — the hit test is a null
  * check. One shared implementation so the subtle lock rule has one home
  * (code-review r8: three verbatim copies had grown). */
final class SessionMemo[V <: AnyRef] {
  private val m = new java.util.HashMap[(SparkSession, String), V]()
  def of(spark: SparkSession, key: String)(compute: => V): V = {
    val k = (spark, key)
    val hit = m.synchronized {
      val it = m.keySet().iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      m.get(k)
    }
    if (hit != null) hit
    else {
      val v = compute // may run a Spark job: never under the monitor
      m.synchronized { m.put(k, v) }
      v
    }
  }
}

/** Session-scoped persisted intermediate relations (sketch tables, banded
  * signatures, term stores): built once per (session, key), stored
  * MEMORY_AND_DISK so a skewed or oversized relation spills instead of
  * OOMing.
  *
  * Lifecycle: a cached DataFrame strongly references its SparkSession, so
  * weak keys alone can never collect an entry — instead, entries of
  * STOPPED sessions are explicitly evicted on the next access from any
  * session, which is what actually releases their plans and cache blocks
  * across session churn.
  *
  * This is what lets a self-join read its input once without collecting
  * whole join groups into a single aggregation buffer: both join sides
  * scan the same InMemoryRelation, and the join itself streams (sort-merge
  * buffers spill per key; AQE splits skewed partitions) — bounded memory
  * even when one LSH bucket degenerates to O(N).
  *
  * Two kinds of store: a DECLARED store ([[of]]) caches its plan as
  * built and is never repartitioned; a DERIVED store ([[sized]]) is
  * hash-partitioned on its join key at the one store width rule
  * ([[width]]), the only place a store's partition count is decided.
  */
object Persisted {
  private val cache = new java.util.HashMap[
    SparkSession, java.util.HashMap[String, DataFrame]]()

  /** Build-or-get a DECLARED store: `build` is cached exactly as given.
    * The per-session build runs inside a reentrant monitor, so a builder
    * may itself call `Persisted.of` for a sub-relation (e.g. LSH bands
    * built over the persisted qnorm relation) without the recursive-update
    * hazard a ConcurrentHashMap.computeIfAbsent has.
    *
    * Never repartition a store whose plan IS a declared query's plan (e.g.
    * [[graft.operators.Similarity.knnEdgesRelation]]): Persisted rides
    * Spark's CacheManager, which matches consumers by canonicalized plan,
    * so the declared query, which builds the bare plan itself, hits this
    * cache only while the plans are identical. A store-sizing repartition
    * broke that match in round 18 (sim_knn_graph 0.08 -> 0.46 s warm);
    * such stores stay unsized, and sizing goes to the derived stores
    * built over them ([[sized]]). */
  def of(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      evictStopped()
      var m = cache.get(spark)
      if (m == null) {
        m = new java.util.HashMap[String, DataFrame]()
        cache.put(spark, m)
      }
      val existing = m.get(key)
      if (existing != null) existing
      else {
        val df = build.persist(StorageLevel.MEMORY_AND_DISK)
        m.put(key, df)
        df
      }
    }

  /** Run a transient step's `body` with `dfs` cached, the one home of the
    * ownership rule: a relation whose plan is already cached (by the caller,
    * a session store, or an earlier argument, as in `scoped(x, x)`) is read
    * through that entry and left alone, and only the entries this call
    * creates are dropped, in reverse order, on return or throw. */
  def scoped[A](dfs: DataFrame*)(body: => A): A = {
    var owned = List.empty[DataFrame]
    try {
      for (df <- dfs if df.storageLevel == StorageLevel.NONE) { df.persist(); owned ::= df }
      body
    } finally owned.foreach(_.unpersist())
  }

  /** The store width rule: one partition per 256k rows, clamped to
    * [4, 4096]. A shuffle-built store otherwise inherits
    * shuffle.partitions and taxes every consumer stage with a task floor
    * per near-empty cached partition, per action (round 18). */
  def width(rows: Long): Int =
    math.max(4L, math.min(4096L, rows / 262144L + 1)).toInt

  /** Build-or-get a DERIVED store, hash-partitioned on `by` at
    * [[width]] of the row estimate. Two derived stores joined to each
    * other on `by` at equal widths line up IMR-to-IMR with no exchange. */
  def sized(spark: SparkSession, key: String, by: String*)(rows: => Long)(
      build: => DataFrame): DataFrame =
    atWidth(spark, key, by: _*)(width(rows))(build)

  /** [[sized]] at a given width: that of another derived store
    * ([[widthOf]]) the new one must stay aligned with, or a fixture's.
    * The cache is checked first; only on a miss is `parts` evaluated, and
    * OUTSIDE the monitor: it may run a Spark job (a row count), and the
    * monitor is global to every session's Persisted access. */
  def atWidth(spark: SparkSession, key: String, by: String*)(parts: => Int)(
      build: => DataFrame): DataFrame = {
    val hit = cache.synchronized {
      evictStopped()
      val m = cache.get(spark)
      if (m == null) null else m.get(key)
    }
    if (hit != null) hit
    else {
      val n = parts
      of(spark, key)(build.repartition(n, by.map(org.apache.spark.sql.functions.col): _*))
    }
  }

  /** The width a [[sized]] or [[atWidth]] store was built at, read off its
    * plan (no job). */
  def widthOf(store: DataFrame): Int = store.queryExecution.logical match {
    case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
      r.numPartitions
    case p => throw new IllegalArgumentException(
      s"not a sized store: ${p.nodeName}")
  }

  // evict entries of stopped sessions (see scaladoc); call under the monitor
  private def evictStopped(): Unit = {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }

  /** Explicitly release entries of a live session whose key starts with
    * `keyPrefix` ("" = all): unpersists the cache blocks and forgets the
    * entry, so the next `of` rebuilds. This is the release valve for jobs
    * cycling through many distinct corpora in ONE session (e.g. per-batch
    * page-artifact relations keyed by plan hash) — without it, entries
    * live until session stop by design. Returns the number released. */
  def clear(spark: SparkSession, keyPrefix: String = ""): Int =
    clearExcept(spark, keyPrefix, keep = null)

  /** [[clear]], but the entry whose key equals `keep` survives. This is the
    * incremental-ingest eviction shape (ADVICE r6): "drop every batch
    * relation EXCEPT the one I am about to use" — re-submitting the same
    * batch keeps its persisted sketch instead of silently unpersisting a
    * relation a still-unexecuted result DataFrame depends on. */
  def clearExcept(spark: SparkSession, keyPrefix: String, keep: String): Int = {
    // Snapshot-and-remove under the monitor; force plans and unpersist
    // OUTSIDE it — optimizedPlan on a never-executed entry runs the full
    // analyzer/optimizer, and the monitor is global to every session's
    // Persisted access (code-review r7 lock-contention finding). Removing
    // first is safe: no new consumer can obtain an evicted entry.
    val evicted = cache.synchronized {
      val m = cache.get(spark)
      if (m == null) Seq.empty[DataFrame]
      else {
        val out = Seq.newBuilder[DataFrame]
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey.startsWith(keyPrefix) && e.getKey != keep) {
            out += e.getValue
            it.remove()
          }
        }
        out.result()
      }
    }
    val evictedRelations = Set.newBuilder[AnyRef]
    evicted.foreach { df =>
      // record the cached representation BEFORE unpersisting: the
      // optimized plan of a cached DataFrame reads through its
      // InMemoryRelation, whose CachedRDDBuilder is the identity
      // session-cached broadcasts are correlated by. In the NORMAL path
      // the outermost IMR swallows the whole subtree (nested persisted
      // inputs live inside its physical cachedPlan), so the collect yields
      // exactly one builder; nested IMRs surface only when the entry's own
      // cache was already dropped OUTSIDE Persisted (df.unpersist(),
      // clearCache()) — then we intentionally collect them ALL and
      // over-evict (ADVICE r7): a dropped broadcast of a live store just
      // rebuilds on the next action, while an under-evicted one would pin
      // executor memory until session stop — the safe direction is over.
      // An entry surfacing NO IMR at all is logged: its broadcasts, if
      // any, cannot be correlated and would survive.
      val (imrs, cause) =
        try (df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            r.cacheBuilder
        }, "")
        catch {
          case NonFatal(e) => (Nil, " (" + e.getClass.getName + ": " +
            String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("") + ")")
        }
      if (imrs.isEmpty)
        System.err.println(
          s"[persisted] evicted entry surfaced no InMemoryRelation$cause; " +
            "any broadcast over it stays cached until session stop")
      evictedRelations ++= imrs
      df.unpersist()
    }
    // Unpersisting a relation invalidates any session-cached broadcast
    // built over it (stale-batch pinning, code-review r7) — TARGETED: only
    // entries whose cached plan reads one of the just-evicted relations
    // are dropped, so an ingest session cycling batches keeps its live dim
    // broadcasts (a blanket clear re-paid the dim rebuild once per batch).
    if (evicted.nonEmpty)
      graft.plans.SessionBroadcastCache.invalidateRelations(
        spark.sparkContext, evictedRelations.result())
    evicted.size
  }
}
