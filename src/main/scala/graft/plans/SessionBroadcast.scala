package graft.plans

import java.util.concurrent.TimeUnit

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Session-scoped cache of BUILT broadcasts, keyed by the canonicalized
  * exchange plan. Spark's own exchange reuse is per-query: every action that
  * broadcast-joins a dimension pays a dim-scan job + hash-relation build +
  * re-broadcast, even when the dim is a session-persisted relation that
  * cannot have changed. For a fact×dim join at bench scale that rebuild job
  * and its scheduling gap are ~40% of the query's wall time; on a cluster
  * it is a driver round-trip per query that a warm engine never pays.
  *
  * Entries hold the torrent broadcast (driver + executor blocks) until
  * session stop — the same lifetime as a Persisted relation — or until
  * [[clear]] is called: `Persisted.clear`/`clearExcept` invalidate this
  * cache too, so an incremental-ingest session cycling through per-batch
  * persisted relations does not strand up to [[maxEntries]] stale batch
  * hash relations behind the one-batch state bound (code-review r7).
  *
  * EVICTION CONTRACT (ADVICE r7): `Persisted.clear`/`clearExcept` is the
  * targeted invalidation path. A relation unpersisted outside it —
  * `df.unpersist()`, `spark.catalog.clearCache()` — is caught by the
  * [[sweep]] instead (VERDICT r9 #8): an entry is dropped once its
  * `CachedRDDBuilder` is no longer the registered builder for its plan in
  * the session's CacheManager (the registration is removed synchronously
  * by unpersist); the sweep runs on every cache MISS and on explicit
  * calls. Either way the gap was memory-lifetime, never
  * correctness: re-caching creates a new `CachedRDDBuilder`, hence a
  * different canonicalized cache key, so a stale entry can never serve a
  * new plan's data.
  * Capacity is capped: past [[maxEntries]] distinct dims, new exchanges
  * simply build uncached (vanilla behavior), so a pathological workload
  * cannot pin unbounded executor memory. Stopped sessions' entries are
  * evicted on the next access from any session.
  */
object SessionBroadcastCache {
  private val cache = new java.util.HashMap[
    SparkContext, java.util.HashMap[SparkPlan, Broadcast[Any]]]()
  val maxEntries = 64

  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong

  /** Cache stats for specs/diagnostics: (entries, hits, misses). */
  def stats(sc: SparkContext): (Int, Long, Long) = cache.synchronized {
    val m = cache.get(sc)
    (if (m == null) 0 else m.size(), hitCount.get(), missCount.get())
  }

  /** Drop every entry of `sc`'s session. The Broadcast objects themselves
    * stay valid for in-flight plans that already resolved them; dropping
    * the map entry only forces the NEXT action to rebuild. */
  def clear(sc: SparkContext): Int = cache.synchronized {
    val m = cache.remove(sc)
    if (m == null) 0 else m.size()
  }

  /** TARGETED invalidation (the `Persisted` eviction hook): drop only the
    * entries whose cached exchange plan scans one of `builders` — the
    * `CachedRDDBuilder`s of just-unpersisted in-memory relations (shared
    * by reference through canonicalization, so identity lookup works).
    * Entries over still-live relations survive, which is the point: an
    * ingest session cycling per-batch relations must not lose its dim
    * broadcasts (code-review r7). Falls back to nothing when `builders`
    * is empty. */
  def invalidateRelations(sc: SparkContext, builders: Set[AnyRef]): Int =
    if (builders.isEmpty) 0
    else cache.synchronized {
      val m = cache.get(sc)
      if (m == null) 0
      else {
        val it = m.keySet().iterator()
        var n = 0
        while (it.hasNext) {
          val k = it.next()
          val stale = k.find {
            case s: InMemoryTableScanExec => builders.contains(s.relation.cacheBuilder)
            case _ => false
          }.isDefined
          if (stale) { it.remove(); n += 1 }
        }
        n
      }
    }

  /** Evict entries whose in-memory relation was unpersisted OUTSIDE
    * `Persisted.clear` (`df.unpersist()`, `spark.catalog.clearCache()`).
    * Detection is the DIRECT one: the entry's `CachedRDDBuilder` must still
    * be the registered builder for its logical plan in the session's
    * CacheManager (`graftbridge.CacheBridge`). Unpersist removes the
    * registration synchronously on the driver; a re-cached identical plan
    * registers a NEW builder — both read as stale here. Memory-pressure
    * block eviction leaves the registration intact, so a still-persisted
    * relation can never be falsely swept. The lookup walks the
    * CacheManager's entry list (driver-local, no executor RPCs) — not
    * free, so liveness is resolved once per DISTINCT builder per sweep,
    * and [[getOrBuild]] sweeps only on the MISS path (a miss already pays
    * a full broadcast build; hits stay a pure map read — a stale entry
    * served on a hit is the documented memory-lifetime gap, cleaned on
    * the next build). */
  def sweep(sc: SparkContext): Int = cache.synchronized {
    val m = cache.get(sc)
    if (m == null) 0
    else {
      val live = new java.util.HashMap[AnyRef, java.lang.Boolean]()
      val it = m.keySet().iterator()
      var n = 0
      while (it.hasNext) {
        val k = it.next()
        val stale = k.find {
          case s: InMemoryTableScanExec =>
            val b = s.relation.cacheBuilder
            !live.computeIfAbsent(b, _ => java.lang.Boolean.valueOf(
              org.apache.spark.sql.graftbridge.CacheBridge
                .builderLive(s.session, b))).booleanValue()
          case _ => false
        }.isDefined
        if (stale) { it.remove(); n += 1 }
      }
      n
    }
  }

  def getOrBuild(sc: SparkContext, key: SparkPlan,
                 build: () => Broadcast[Any]): Broadcast[Any] = {
    val existing = cache.synchronized {
      val it = cache.keySet().iterator()
      while (it.hasNext) if (it.next().isStopped) it.remove()
      val m = cache.get(sc)
      if (m == null) null else m.get(key)
    }
    if (existing != null) { hitCount.incrementAndGet(); return existing }
    // MISS path only: clean externally-unpersisted entries while we are
    // about to pay a build anyway (hits must stay a pure map read)
    sweep(sc)
    // Build OUTSIDE the monitor (it runs a Spark job); publish under it.
    // A racing duplicate build is benign — both broadcasts are valid, last
    // write wins, the loser is GC'd with its query.
    missCount.incrementAndGet()
    val bc = build()
    cache.synchronized {
      var m = cache.get(sc)
      if (m == null) {
        m = new java.util.HashMap[SparkPlan, Broadcast[Any]]()
        cache.put(sc, m)
      }
      if (m.size() < maxEntries) m.put(key, bc)
    }
    bc
  }
}

/** A broadcast provider whose built relation is reused ACROSS actions in
  * the same session (Spark's ReusedExchangeExec only spans one query).
  * Planned by [[SessionBroadcastReuseRule]] in place of
  * [[BroadcastExchangeExec]] when the child subtree reads only
  * session-static inputs; the first action materializes through a real
  * BroadcastExchangeExec (dim-scan job, hash build, torrent broadcast) and
  * every later action gets the finished [[Broadcast]] back in microseconds
  * with no job.
  *
  * Deliberately NOT an `Exchange`/`BroadcastExchangeLike`: its
  * `outputPartitioning` already satisfies the join's
  * BroadcastDistribution, so AQE never wraps it in a BroadcastQueryStage —
  * a cache hit costs zero Spark jobs AND zero AQE materialization rounds
  * (one whole event-loop round per action at bench scale).
  *
  * Correctness rests on the same static-data-per-session contract the
  * Tables/Persisted caches document: eligible children are persisted
  * in-memory relations and parquet scans, both frozen per session.
  * `graft.broadcast.sessionReuse=false` restores vanilla behavior. */
case class SessionCachedBroadcastExec(mode: BroadcastMode, child: SparkPlan)
    extends org.apache.spark.sql.execution.UnaryExecNode {

  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    child.output

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def nodeName: String = "SessionCachedBroadcast"

  /** Cache key: the canonicalized vanilla exchange with AQE query-stage
    * wrappers stripped from the child. The same dim reaches this node as
    * `Filter(InMemoryTableScan)` on a fresh plan but as
    * `Filter(TableCacheQueryStage(InMemoryTableScan))` once AQE has staged
    * the cache read — one dim must be ONE key either way. */
  @transient private lazy val cacheKey: SparkPlan =
    BroadcastExchangeExec(
      mode.canonicalized,
      child.transformUp { case q: QueryStageExec => q.plan }.canonicalized)

  @transient private lazy val materialized: Broadcast[Any] =
    SessionBroadcastCache.getOrBuild(session.sparkContext, cacheKey, () =>
      BroadcastExchangeExec(mode, child).relationFuture.get(
        conf.broadcastTimeout, TimeUnit.SECONDS))

  override def doExecuteBroadcast[T](): Broadcast[T] =
    materialized.asInstanceOf[Broadcast[T]]

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "SessionCachedBroadcastExec.doExecute: broadcast-only exchange")

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** AQE query-stage prep rule: swap broadcast exchanges over session-static
  * inputs for [[SessionCachedBroadcastExec]]. Injected via
  * `injectQueryStagePrepRule` so it runs before exchanges become query
  * stages; under `spark.sql.adaptive.enabled=false` it never fires and the
  * plan is vanilla. */
case class SessionBroadcastReuseRule(session: SparkSession) extends Rule[SparkPlan] {

  /** Eligible = every leaf is session-static AND at least one leaf is a
    * persisted in-memory relation. The IMR requirement is deliberate: a
    * session PERSISTS exactly the relations it intends to reuse (dims,
    * sketch tables), so those broadcasts amortize; caching every
    * parquet-leafed broadcast as well was measured to pin dozens of hash
    * relations at once and degrade the whole suite (execution-memory
    * pressure), for joins that run once. */
  private def sessionStatic(plan: SparkPlan): Boolean = {
    val leaves = plan.collectLeaves()
    def staticLeaf(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => true // Persisted / .cache() relations
      case _: FileSourceScanExec    => true // parquet inputs, frozen per session
      case r: ReusedExchangeExec    => sessionStatic(r.child)
      // AQE wraps already-planned subtrees (cached-table reads, reused
      // stages) as query stages mid-flight; judge them by what they wrap
      case q: QueryStageExec        => sessionStatic(q.plan)
      case _                        => false
    }
    def hasPersisted(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => true
      case r: ReusedExchangeExec    => hasPersisted(r.child)
      case q: QueryStageExec        => hasPersisted(q.plan)
      case _                        => false
    }
    leaves.nonEmpty && leaves.forall(staticLeaf) && leaves.exists(hasPersisted)
  }

  override def apply(plan: SparkPlan): SparkPlan =
    if (!session.conf.get("graft.broadcast.sessionReuse", "true").toBoolean) plan
    else plan.transformUp {
      case BroadcastExchangeExec(mode, child) if sessionStatic(child) =>
        SessionCachedBroadcastExec(mode, child)
    }
}
