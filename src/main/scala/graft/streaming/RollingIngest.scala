package graft.streaming

import graft.{ParquetSchema, Persisted}
import graft.operators.{Dedup, Similarity, UnionFind}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, max, min, row_number, xxhash64}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Rolling-ingest drivers: the composition of Structured Streaming with
  * the incremental batch-vs-store entry points — the shape a continuously
  * crawled 100 TB corpus actually runs, for BOTH incremental families
  * (ANN neighbors over vectors, simhash near-dup pairs over documents).
  * Every stream runs the one [[loop]] (empty batches skipped, the history
  * of every store the batch writes guarded at batch start), and each band
  * store's part of a micro-batch is the one [[storeStep]], which
  *
  *   1. sketches ONCE (the persisted batch band relation serves the probe
  *      and the store append);
  *   2. probes the band store built from every batch BEFORE it — work ∝
  *      batch, never ∝ corpus;
  *   3. hands its result rows to `sink` (the caller's output contract),
  *      synchronously within the micro-batch;
  *   4. appends its bands to the store as a DELTA, re-ingested ids
  *      superseding their old rows at READ time. Duplicate ids WITHIN a
  *      micro-batch collapse to one row first, picked DETERMINISTICALLY
  *      (min xxhash64 over the full row) — a micro-batch has no internal
  *      order, and a checkpoint replay must rebuild the byte-identical
  *      delta, so an arbitrary `dropDuplicates` pick would break replay
  *      idempotence for duplicate ids with differing payloads.
  *
  * == Store layout: write ∝ batch, never ∝ corpus ==
  *
  * The store lives as parquet under `storeDir` in two kinds of directory:
  *
  *   - `d<batchId>`  — one DELTA per micro-batch, holding ONLY that
  *     batch's band rows. The per-batch write I/O is proportional to the
  *     batch — the property that makes a rolling 100 TB corpus ingestable
  *     (a versioned-snapshot store would rewrite the accumulated corpus
  *     every commit: O(n·corpus) cumulative write I/O after n batches).
  *   - `base<v>`     — a compacted base: the supersede-resolved union of
  *     everything up to and including delta `v`. Written once every
  *     `compactEvery` batches, so the corpus-sized write is amortized to
  *     corpus/K per batch; at most one base is live.
  *
  * The EFFECTIVE store before batch B = live(base) ∪ live(deltas in
  * (baseVersion, B)), where supersede resolves newest-delta-wins per id:
  * the base anti-joins the union of delta ids (batch-sized, broadcast —
  * the corpus-sized base never shuffles), and delta rows keep only each
  * id's newest batch (a groupBy over batch-sized relations). Re-reading
  * that resolution per probe costs K broadcast anti-joins of small sets —
  * the read-side price of not rewriting the corpus per commit.
  *
  * == Replay idempotence and crash recovery ==
  *
  * A replayed batch id (checkpoint recovery re-runs the LAST uncommitted
  * batch) sees exactly the effective store it originally saw: its own
  * delta is excluded (only deltas < B are read), and compaction folds
  * only deltas < B — so a crash after compaction but before the
  * checkpoint commit replays against the compacted base, which resolves
  * to the identical effective store. The replayed delta overwrites its
  * own directory with identical rows (deterministic intra-batch dedup).
  * Housekeeping is self-healing: any delta at-or-below the live base's
  * version and any base below it are stale leftovers of a mid-compaction
  * crash — excluded by the read path and swept on the next commit.
  * Starting a FRESH stream (new checkpoint, batch ids from 0) against a
  * populated storeDir is refused rather than silently probing an empty
  * store — which makes the one crash window before the FIRST delta's
  * checkpoint commit a guided manual recovery (the guard's message names
  * the directory to delete) instead of an automatic replay.
  *
  * With `routeCols` (ANN) every store directory is written `partitionBy`
  * the routing columns, and the probe's store read is pre-filtered to the
  * batch's own route values — so the cell-routed candidate pruning has
  * its storage-layout counterpart: a probe or an external reader touches
  * only the cells present in the batch (partition pruning, pinned by
  * RollingIngestSpec). Store reads type the partition columns from the
  * band schema ([[graft.ParquetSchema.read]]), so string route values
  * that LOOK numeric (cell "01") round-trip unchanged instead of being
  * inferred as int 1 and silently mis-matching the supersede anti-join.
  */
object RollingIngest {

  /** One store element: its kind (a [[parseEl]] prefix), version and path. */
  private final case class El(kind: String, v: Long, path: String) {
    def name: String = new org.apache.hadoop.fs.Path(path).getName
  }

  /** One listing of a store directory — the one place the element
    * contract's layout questions are answered. `els` are the directories
    * [[parseEl]] recognizes, oldest first; `tmp` the `.tmp_*` leftovers of
    * crashed writes; `unknown` every other visible directory name. */
  private final case class Listing(els: Seq[El], tmp: Seq[String],
                                   unknown: Seq[String]) {
    def of(kind: String): Seq[El] = els.filter(_.kind == kind)
    def newest(kind: String): Option[El] = of(kind).lastOption

    /** The newest base strictly below `upTo`. */
    def base(upTo: Long = Long.MaxValue): Option[El] =
      of("base").filter(_.v < upTo).lastOption
    def baseVer(upTo: Long = Long.MaxValue): Long = base(upTo).fold(-1L)(_.v)

    /** The live deltas (`d`) or ledger elements (`m`) before `upTo`: those
      * above the newest base below `upTo`. */
    def live(kind: String, upTo: Long = Long.MaxValue): Seq[El] = {
      val b = baseVer(upTo)
      of(kind).filter(e => e.v > b && e.v < upTo)
    }

    /** The superseded elements — the one rule every sweep and fsck apply:
      * bases older than the newest base, deltas and ledger elements at or
      * below it (folded into it), and books/tier markers older than their
      * newest one. No live read touches any of them. */
    def superseded: Seq[El] = {
      val b = baseVer()
      els.filter { e =>
        e.kind match {
          case "base"    => e.v < b
          case "d" | "m" => e.v <= b
          case k         => newest(k).exists(_.v > e.v)
        }
      }
    }
  }

  private def listing(spark: SparkSession, storeDir: String): Listing = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = if (!fs.exists(path)) Seq.empty else fs.listStatus(path).toSeq
    val dirNames = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("."))
    Listing(elsOf(storeDir, dirNames),
      entries.map(_.getPath.getName).filter(_.startsWith(".tmp_")),
      dirNames.filter(parseEl(_).isEmpty))
  }

  /** The store elements among `names` under `storeDir`, oldest first. */
  private def elsOf(storeDir: String, names: Seq[String]): Seq[El] =
    names.flatMap(n => parseEl(n).map { case (k, v) => El(k, v, s"$storeDir/$n") })
      .sortBy(_.v)

  private def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Commit `df` as the store element at `path` via a hidden temp dir +
    * rename: a crash mid-write must never leave a PARTIALLY-visible
    * element — [[listing]] lists by directory existence, so a half-written
    * `base<v>` would otherwise read as the live base (breaking storeView
    * on unreadable footers, and worse, letting housekeeping sweep the
    * deltas it was meant to replace — silent data loss on the one crash
    * point every corpus-sized rewrite has). `.tmp_*` names are invisible
    * to every reader (no store prefix) and swept by housekeeping; the
    * rename is atomic on HDFS-semantics filesystems (an object-store
    * deployment substitutes a manifest committer at this one seam).
    * `partitionCols`, when present, also cluster the write — one file per
    * populated partition value (the layout RollingIngestSpec pins; the
    * unclustered form fanned 32 tasks x 512 cells into ~16k 2 KB files
    * per element at the sf10 routed operating point). */
  private def writeElement(spark: SparkSession, path: String, df: DataFrame,
                           partitionCols: Seq[String]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent, ".tmp_" + dst.getName)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    val clustered =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df
    val w = clustered.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    fs.delete(dst, true)
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
  }

  /** The one sweep: delete every [[Listing.superseded]] element EXCEPT
    * those named by a pin manifest, plus the `.tmp_*` leftovers of a
    * crashed [[writeElement]]. Commit housekeeping, compaction, the
    * retrain, the tier migration and [[vacuumStore]] all go through it, so
    * a pinned snapshot's retention ([[pinSnapshot]]) is enforced
    * uniformly: an element referenced by any live pin survives until its
    * last pin is dropped. Idempotent; it deletes only what the live read
    * path already ignores. Returns the listing of what remains. */
  private def reclaim(spark: SparkSession, storeDir: String): Listing = {
    val l = listing(spark, storeDir)
    val keep = pinnedNames(spark, storeDir)
    val gone = l.superseded.filterNot(e => keep(e.name)).toSet
    gone.foreach(e => delete(spark, e.path))
    l.tmp.foreach(n => delete(spark, s"$storeDir/$n"))
    l.copy(els = l.els.filterNot(gone), tmp = Nil)
  }

  /** Read one store directory back to the band schema, with no Spark
    * job: the element's own data columns (its footer, read on the
    * driver) plus its partition columns typed from the band schema —
    * inference would turn a numeric-looking STRING route value (cell
    * "01") into int 1, silently changing the column. Every column is then
    * cast to its band-schema type, and a band column the element lacks
    * fails the read instead of reading as null. */
  private def readBands(spark: SparkSession, path: String,
                        schema: StructType): DataFrame =
    ParquetSchema.read(spark, path, schema)
      .select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Supersede-resolved union of delta relations (each tagged with its
    * batch id in `__b`): per id, only the rows of its NEWEST batch
    * survive. Deltas are batch-sized, so the winner aggregation and join
    * stay small regardless of corpus size. */
  private def resolveDeltas(tagged: DataFrame, idCol: String,
                            schema: StructType): DataFrame = {
    val winners = tagged.groupBy(idCol).agg(max(col("__b")).as("__b"))
    tagged.join(broadcast(winners), Seq(idCol, "__b"))
      .select(schema.fields.toSeq.map(f => col(f.name)): _*)
  }

  /** Supersede resolution over the base and live deltas of `l` below
    * `upTo` — a store [[listing]] or a pin manifest — the shared core of
    * the live [[storeView]] and the pinned [[snapshotView]].
    *
    * Deltas are read UNFILTERED: supersede winners and the base anti-join
    * id set must see EVERY delta row. Route columns can be pure functions
    * of the payload (the IVF cell is), so re-ingesting an id with a
    * changed payload moves it across route values — a route-pruned delta
    * read would drop the superseding row while the stale one survives
    * (resurrection). Deltas are batch-sized, so the unpruned read stays
    * ∝ batch; the route filter is applied to resolved row CONTENT.
    * The corpus-sized base keeps the pruned read (partition pruning at
    * rest): any stale base row is removed by the unfiltered-id anti-join
    * regardless of which partitions were scanned. */
  private def resolveView(spark: SparkSession, l: Listing, upTo: Long,
                          schema: StructType, idCol: String,
                          routeFilter: Option[Column]): Option[DataFrame] = {
    val filt = (df: DataFrame) => routeFilter.map(df.filter).getOrElse(df)
    val deltaAll = l.live("d", upTo)
      .map(e => readBands(spark, e.path, schema).withColumn("__b", lit(e.v)))
      .reduceOption(_ unionByName _)
    (l.base(upTo).map(b => filt(readBands(spark, b.path, schema))), deltaAll) match {
      case (None, None)       => None
      case (Some(base), None) => Some(base)
      case (None, Some(d))    => Some(filt(resolveDeltas(d, idCol, schema)))
      case (Some(base), Some(d)) =>
        // delta ids are batch-sized: the corpus-sized base anti-joins a
        // broadcast id set and never shuffles
        val ids = d.select(idCol).distinct()
        Some(base.join(broadcast(ids), Seq(idCol), "left_anti")
          .unionByName(filt(resolveDeltas(d, idCol, schema))))
    }
  }

  /** The effective store under `storeDir` strictly BEFORE batch `upTo`
    * (pass Long.MaxValue for "everything committed"): live base rows plus
    * supersede-resolved delta rows. `routeFilter`, if given, is applied
    * to every directory read BEFORE the union — on a `partitionBy`
    * routed store this prunes to the filter's partitions. Returns None
    * when the store holds nothing below `upTo`. Elements retained only
    * by a pin ([[pinSnapshot]]) never enter this view: a retained delta
    * or base is always <= the live base's version, which this listing
    * filter excludes by construction. */
  private[graft] def storeView(spark: SparkSession, storeDir: String,
                               schema: StructType, idCol: String,
                               upTo: Long = Long.MaxValue,
                               routeFilter: Option[Column] = None): Option[DataFrame] =
    resolveView(spark, listing(spark, storeDir), upTo, schema, idCol, routeFilter)

  /** Deterministic one-row-per-id pick: min xxhash64 over every column.
    * Order-independent, so a checkpoint replay of a batch holding
    * duplicate ids with DIFFERENT payloads rebuilds the same delta (a
    * plain dropDuplicates pick is arbitrary per run). */
  private def dedupDeterministic(b: DataFrame, idCol: String): DataFrame = {
    val h = xxhash64(b.columns.sorted.toSeq.map(col): _*)
    val w = Window.partitionBy(idCol).orderBy(h.asc)
    b.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Refuse every shape where this batch did not produce the store's
    * history: elements NEWER than the batch (restart mid-history), or
    * a populated store with nothing OLDER than the batch (fresh
    * stream, ids from 0, against an existing store — including the
    * d0-only store a one-batch run leaves behind). The one legitimate
    * case this rejects is a crash between writing the very FIRST
    * delta and its checkpoint commit; the message names the recovery
    * (delete that delta — the replayed batch rebuilds it
    * deterministically), which is strictly safer than the silent
    * empty-store probe + overwrite a fresh-stream mixup would get. */
  private def guardHistory(spark: SparkSession, storeDir: String, id: Long): Unit = {
    val l = listing(spark, storeDir)
    val els = (l.of("base") ++ l.of("d")).map(_.v).sorted
    require(els.isEmpty || (els.head < id && !els.exists(_ > id)),
      s"$storeDir holds versions [${els.mkString(",")}] not " +
        s"strictly older than batch $id — this stream did not build " +
        "that store (fresh checkpoint against a populated storeDir?). " +
        "Point the query at its original checkpoint, use an empty " +
        s"storeDir, or — after a crash before the first commit — " +
        s"delete $storeDir/d$id and restart")
  }

  /** Write batch `bands` as delta `d<id>` under `storeDir`, then run the
    * housekeeping + compaction contract ([[commit]]), the compacted base
    * being the effective store before this batch. */
  private[graft] def commitDelta(spark: SparkSession, storeDir: String,
                          bands: DataFrame, schema: StructType, idCol: String,
                          partitionCols: Seq[String], compactEvery: Int,
                          id: Long): Unit =
    commit(spark, storeDir, bands, partitionCols, compactEvery, id)(
      storeView(spark, storeDir, schema, idCol, upTo = id)
        .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)))

  /** The one commit (see the object doc): write `delta` as `d<id>`,
    * [[reclaim]] superseded elements, and once `compactEvery` deltas
    * STRICTLY OLDER than this batch have accumulated, write `compacted` —
    * the effective store before `id` — as base<newest folded delta> and
    * reclaim what it folded. That amortizes the corpus-sized write to
    * corpus/K per batch. This batch's own delta is never folded, so a
    * replay (which reads only elements < id) sees the same store; every
    * step is idempotent and replay-safe. Both writes go through
    * [[writeElement]]: clustered (one file per populated cell — the
    * 16k-tiny-files remedy, pinned by RollingIngestSpec) and committed via
    * tmp+rename, so no crash point exposes a partial element (a partial
    * base would let the sweep destroy the deltas it was folding). */
  private def commit(spark: SparkSession, storeDir: String, delta: DataFrame,
                     partitionCols: Seq[String], compactEvery: Int, id: Long)
                    (compacted: => DataFrame): Unit = {
    writeElement(spark, s"$storeDir/d$id", delta, partitionCols)
    val pending = reclaim(spark, storeDir).live("d", upTo = id)
    if (pending.size >= compactEvery) {
      writeElement(spark, s"$storeDir/base${pending.last.v}", compacted, partitionCols)
      reclaim(spark, storeDir)
    }
  }

  // ---- pinned snapshots: durable, reproducible reads of a rolling store
  //      (round 17) --------------------------------------------------------
  //
  // A training run needs to name the exact corpus it read — and re-read it
  // byte-identically a year later, while the crawl keeps ingesting. The
  // element contract already gives every commit an immutable identity
  // (elements are written once, never rewritten in place); the only thing
  // destroying history is housekeeping. A PIN is therefore just a manifest
  // naming the store's live element set; the one sweep spares pinned
  // elements ([[reclaim]]), so the snapshot stays readable at zero write
  // cost — the write path is unchanged, and retention is ∝ the pinned
  // history (the Iceberg/Delta snapshot-expiry trade, re-derived for this
  // store). Retained elements never leak into live reads: a retained
  // delta/base/ledger element is always <= the live base's version, which
  // every live listing filter excludes; retained books/tier markers are
  // older than the newest, which the resolution reads ignore.
  //
  // Pin at a batch boundary (from the sink callback — the store then holds
  // exactly the batches up to and including the one just committed — or
  // with the stream stopped). Pinning concurrently with a commit races the
  // compaction listing and may capture a mid-fold element set; the
  // manifest write itself is atomic (tmp+rename), so the failure mode is a
  // wrong pin, never a corrupt store.

  private def pinsPath(storeDir: String) =
    new org.apache.hadoop.fs.Path(storeDir, ".pins")

  /** Element-dir names retained by any pin manifest under `storeDir` —
    * the set every sweep spares. One small-file read per manifest, once
    * per commit: metadata-cheap at any store size. */
  private def pinnedNames(spark: SparkSession, storeDir: String): Set[String] =
    listSnapshots(spark, storeDir).flatMap(_._2).toSet

  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    val out = new java.io.ByteArrayOutputStream()
    try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096)
    finally in.close()
    out.toString("UTF-8").split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** One definition of a legal snapshot name, enforced on BOTH halves of
    * the API: a name pinSnapshot would reject must never resolve on the
    * read/delete side either (".." or "/" would escape `.pins/` — an
    * unvalidated unpinSnapshot could delete an arbitrary store file). */
  private def requireValidName(name: String): Unit =
    require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
      !name.startsWith("."),  // startsWith(".") subsumes ".." and ".tmp_*"
      s"invalid snapshot name '$name'")

  /** The element names of snapshot `name` (loud failure on an unknown
    * name — a misspelled snapshot must not read as an empty store). */
  private def readManifest(spark: SparkSession, storeDir: String,
                           name: String): Seq[String] = {
    requireValidName(name)
    val p = new org.apache.hadoop.fs.Path(pinsPath(storeDir), name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"$storeDir holds no snapshot '$name' " +
      s"(listSnapshots names the live pins)")
    readManifestFile(fs, p)
  }

  /** Parse an element-dir name into (kind, version); kinds are the store
    * contract's prefixes: base/books/tier/m/d. */
  private[graft] def parseEl(n: String): Option[(String, Long)] =
    Seq("base", "books", "tier", "m", "d").collectFirst {
      case p if n.startsWith(p) && n.drop(p.length).toLongOption.isDefined =>
        (p, n.drop(p.length).toLong)
    }

  /** Pin the store's CURRENT effective contents as snapshot `name`:
    * capture the live element set — newest base, the deltas above it, the
    * live ledger elements, and the newest books/tier marker (a PQ code
    * store's rows are meaningless without the books that encoded them;
    * a dedup store's signature width is declared by its tier marker) —
    * into an atomic manifest under `storeDir/.pins/`. Returns the pinned
    * element names. Refuses an existing name (pins are immutable; drop
    * and re-pin to move one) and an empty store. */
  def pinSnapshot(spark: SparkSession, storeDir: String,
                  name: String): Seq[String] = {
    requireValidName(name)
    val pins = pinsPath(storeDir)
    val fs = pins.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(pins, name)
    require(!fs.exists(dst),
      s"snapshot '$name' already exists under $storeDir (pins are " +
        "immutable — unpinSnapshot first to re-pin)")
    val l = listing(spark, storeDir)
    val els = l.base().toSeq ++ l.live("d") ++ l.live("m") ++
      l.newest("books") ++ l.newest("tier")
    require(els.nonEmpty, s"$storeDir holds no committed elements to pin")
    val names = els.map(_.name)
    fs.mkdirs(pins)
    val tmp = new org.apache.hadoop.fs.Path(pins, ".tmp_" + name)
    val out = fs.create(tmp, true)
    try out.write((names.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    names
  }

  /** Drop snapshot `name`; its elements become reclaimable at the next
    * housekeeping pass (any commit's sweep, or an explicit
    * [[vacuumStore]]). Returns whether the pin existed. */
  def unpinSnapshot(spark: SparkSession, storeDir: String,
                    name: String): Boolean = {
    requireValidName(name)
    val p = new org.apache.hadoop.fs.Path(pinsPath(storeDir), name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Live pins under `storeDir`, as (name, pinned element names). */
  def listSnapshots(spark: SparkSession,
                    storeDir: String): Seq[(String, Seq[String])] = {
    val pins = pinsPath(storeDir)
    val fs = pins.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pins)) Seq.empty
    else fs.listStatus(pins).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> readManifestFile(fs, s.getPath))
      .sortBy(_._1)
  }

  /** The pinned snapshot's effective rows — the same supersede resolution
    * as the live [[storeView]], over exactly the manifest's base + delta
    * elements. Loud failure when a pinned element is missing on disk
    * (someone deleted around the pin contract): a silently smaller corpus
    * is the one failure mode a reproducibility feature must not have. */
  def snapshotView(spark: SparkSession, storeDir: String, name: String,
                   schema: StructType, idCol: String,
                   routeFilter: Option[Column] = None): Option[DataFrame] =
    resolveView(spark, manifestListing(spark, storeDir, name), Long.MaxValue,
      schema, idCol, routeFilter)

  /** The manifest's elements, existence-checked, as a [[Listing]]. */
  private def manifestListing(spark: SparkSession, storeDir: String,
                              name: String): Listing = {
    val names = readManifest(spark, storeDir, name)
    val sp = new org.apache.hadoop.fs.Path(storeDir)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = names.filterNot(n =>
      fs.exists(new org.apache.hadoop.fs.Path(sp, n)))
    require(missing.isEmpty,
      s"snapshot '$name' of $storeDir references missing elements " +
        s"[${missing.mkString(",")}] — the store was modified outside " +
        "the pin contract; the snapshot is NOT reproducible")
    Listing(elsOf(storeDir, names), Nil, Nil)
  }

  /** [[snapshotView]] for a rolling dedup store, with the band schema
    * derived from the pinned elements themselves (presence of `sig_hi`
    * = the 128-bit wide tier) — so a reader needs only the store dir and
    * the snapshot name. */
  def snapshotDedupView(spark: SparkSession, storeDir: String,
                        name: String): Option[DataFrame] = {
    val l = manifestListing(spark, storeDir, name)
    (l.of("base") ++ l.of("d")).maxByOption(_.v).flatMap { e =>
      val wide = ParquetSchema.of(spark, e.path).fieldNames.contains("sig_hi")
      resolveView(spark, l, Long.MaxValue, dedupBandSchema(spark, wide), "doc_id", None)
    }
  }

  /** The pinned component labels of a [[componentsIngest]] store:
    * [[snapshotView]]'s label rows resolved through the manifest's OWN
    * ledger elements (never the live ledger — later merges must not leak
    * into the snapshot). */
  def snapshotComponentLabels(spark: SparkSession, storeDir: String,
                              name: String): Option[DataFrame] = {
    val l = manifestListing(spark, storeDir, name)
    resolveView(spark, l, Long.MaxValue, labelSchema, "node", None)
      .map(resolveLabels(_, ledgerOf(spark, l.of("m").map(_.path))))
  }

  /** Lineage between two pins of the same store: one row per id whose
    * effective content differs, with `change` ∈ added | removed |
    * updated (`from`'s perspective: an id only in `to` is `added`).
    * An id's content is its full effective row SET (a band store holds
    * several rows per id), compared order-independently by (row count,
    * xor of per-row xxhash64) — a 64-bit content compare, so a
    * same-count set collision is ~2^-64 per id: fine for a lineage
    * REPORT (nothing downstream branches on it), unlike a termination
    * criterion. Both sides are snapshot-sized and the one shuffle
    * is the per-id aggregate — an offline lineage query, not a hot-path
    * op: "what entered the corpus between training runs v1 and v2" is
    * exactly the question a dataset card answers with this. */
  def snapshotDiff(spark: SparkSession, storeDir: String,
                   from: String, to: String,
                   schema: StructType, idCol: String): DataFrame = {
    def sig(name: String): DataFrame = {
      val v = snapshotView(spark, storeDir, name, schema, idCol)
        .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
      val h = xxhash64(schema.fieldNames.sorted.toSeq.map(col): _*)
      v.groupBy(idCol).agg(
        org.apache.spark.sql.functions.bit_xor(h).as("__h"),
        org.apache.spark.sql.functions.count(lit(1)).as("__n"))
    }
    import org.apache.spark.sql.functions.when
    sig(from).withColumnRenamed("__h", "__hf").withColumnRenamed("__n", "__nf")
      .join(sig(to).withColumnRenamed("__h", "__ht").withColumnRenamed("__n", "__nt"),
        Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("__hf").isNull, lit("added"))
          .when(col("__ht").isNull, lit("removed"))
          .when(col("__hf") =!= col("__ht") || col("__nf") =!= col("__nt"),
            lit("updated")))
      .filter(col("change").isNotNull)
      .select(col(idCol), col("change"))
  }

  /** Offline reclamation: the same pin-guarded sweep every commit runs
    * ([[reclaim]] — superseded bases/deltas/ledger elements, outdated
    * books/tier markers, `.tmp_*` leftovers), plus the `.pins/.tmp_*`
    * leftovers of a crashed [[pinSnapshot]] — the call to make after
    * [[unpinSnapshot]] when the next commit is far away. Safe on a live
    * store between batches: it deletes only elements the live read path
    * already ignores. */
  def vacuumStore(spark: SparkSession, storeDir: String): Unit = {
    reclaim(spark, storeDir)
    // manifest-write leftovers of a crashed pinSnapshot
    val pins = pinsPath(storeDir)
    val fs = pins.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(pins)) fs.listStatus(pins).toSeq
      .filter(s => s.getPath.getName.startsWith(".tmp_"))
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** Read-only store diagnostic (fsck): verify the element contract's
    * on-disk invariants and name the recovery for each violation —
    * nothing is modified. Findings are (level, subject, detail) with
    * level ∈ error | warn | info:
    *
    *   - error: a pin references a missing element (the snapshot is not
    *     reproducible), or an element's parquet footer does not open
    *     (partial write outside the tmp+rename contract);
    *   - warn: a crash-window shape awaiting its documented recovery —
    *     books newer than the newest base (interrupted re-encode; the
    *     stream resumes it), tier marker newer than the newest base
    *     (interrupted migration; the stream REFUSES until it is re-run);
    *   - info: the state [[reclaim]] sweeps (`.tmp_*` leftovers and every
    *     [[Listing.superseded]] element — bases/deltas/ledger elements
    *     below the newest base, outdated books/tier markers — each marked
    *     as reclaimable or retained by a pin), and unrecognized directory
    *     names.
    *
    * The read cost is one listing plus one footer open per part file,
    * all on the driver — metadata-cheap at any store size; run it before
    * trusting a store handed over from another owner.
    *
    * One shape deliberately NOT flagged: `books<v>` at v equal to the
    * base version is the NORMAL post-retrain layout, and the
    * superficially similar corrupt state (new books written, crash
    * before the re-encoded base, all deltas already below base) is
    * unreachable — a retrain only fires when the census has grown, the
    * census only grows on delta appends, and the batch's delta always
    * sits ABOVE the base at event time, so an interrupted re-encode
    * always leaves a delta <= booksVer for the resume rule (and the
    * `booksVer > baseVer` warning here) to see. */
  def fsckStore(spark: SparkSession,
                storeDir: String): Seq[(String, String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq(("info", storeDir, "store does not exist"))
    val pins = listSnapshots(spark, storeDir)
    val keep = pins.flatMap(_._2).toSet
    val l = listing(spark, storeDir)
    l.unknown.foreach(n =>
      out += (("info", n, "unrecognized directory name (not a store element)")))
    val baseVer = l.baseVer()
    // crash windows (each names its recovery)
    l.tmp.foreach(n =>
      out += (("info", n,
        "leftover of a crashed element write; swept at the next commit or vacuumStore")))
    l.newest("books").filter(b => b.v > baseVer && l.of("d").exists(_.v <= b.v))
      .foreach(b => out += (("warn", b.name,
        s"newer than base$baseVer with deltas at or below it — an " +
          "interrupted retrain re-encode; the routed stream resumes it at " +
          "the next batch")))
    l.newest("tier").filter(_.v > baseVer)
      .foreach(t => out += (("warn", t.name,
        s"newer than base$baseVer — an interrupted tier migration; the " +
          "stream refuses to start until migrateDedupTier is re-run")))
    // reclaimable (pin-aware: retained elements are deliberate)
    l.superseded.foreach(e =>
      out += (("info", e.name,
        if (keep(e.name)) "superseded but retained by a pin"
        else "superseded and unpinned; reclaimable by any commit or vacuumStore")))
    // element integrity: every element (tier markers included) is parquet
    // and every one of its part files must open — schema inference reads
    // only the first, so a corrupt later part would otherwise surface as a
    // failed data read. toString: a truncated footer commonly throws a
    // message-less EOFException, which the diagnostic must still report.
    l.els.foreach { el =>
      ParquetSchema.unreadable(spark, el.path).headOption
        .foreach { case (file, e) =>
          out += (("error", el.name,
            s"element does not open as parquet ($file: ${e.toString.take(160)}) — " +
              "a partial write outside the tmp+rename contract; restore it " +
              "or roll the store back to a pinned snapshot"))
        }
    }
    // pins: every referenced element must exist
    pins.foreach { case (name, names) =>
      val missing = names.filterNot(n =>
        fs.exists(new org.apache.hadoop.fs.Path(root, n)))
      if (missing.nonEmpty)
        out += (("error", name,
          s"pin references missing elements [${missing.mkString(",")}] — " +
            "the snapshot is NOT reproducible"))
    }
    out.toSeq
  }

  /** One store side, resolved AT BATCH START: `bandsOf` sketches a
    * deduplicated batch, `probe(store, batchBands)` computes the batch's
    * result rows, and `append` sees the persisted batch bands just before
    * they are committed (the routed IVF-PQ side feeds its census; static
    * sides ignore it). */
  private type Side = (DataFrame => DataFrame,
                       (DataFrame, DataFrame) => DataFrame,
                       DataFrame => Unit)

  /** The frozen-book IVF-PQ side: encode against (coarse, books), probe
    * the routed code store at nprobe = 1 (see [[ivfPqIngest]]'s doc). */
  private def pqSide(coarse: Seq[(Int, Array[Long])],
                     books: Seq[Seq[(Int, Array[Long])]], k: Int): Side =
    (v => Similarity.ivfPqEncode(v, coarse, books),
      (store, codes) => Similarity.ivfPqIncrementalCodes(
        store, codes, coarse, books, k, nprobe = 1),
      _ => ())

  /** The store batch `id` probes: the effective store before the batch,
    * or `empty` (which also gives the band schema) when it holds nothing.
    * Routed stores pre-filter the store read to the batch's own route
    * values — the partition-pruning counterpart of the routed band join
    * (only the batch's cells are scanned). The per-column isin is a
    * SUPERSET of the batch's route tuples, so it is purely a pruning
    * optimization; the band join enforces exact equality. */
  private def probedStore(spark: SparkSession, storeDir: String, idCol: String,
                          partitionCols: Seq[String], bands: DataFrame, id: Long,
                          empty: DataFrame): DataFrame = {
    val routeFilter = if (partitionCols.isEmpty) None else {
      val vals = bands.select(partitionCols.map(col): _*).distinct().collect()
      Some(partitionCols.zipWithIndex.map { case (c, i) =>
        col(c).isin(vals.map(_.get(i)).distinct.toSeq: _*)
      }.reduce(_ && _))
    }
    storeView(spark, storeDir, empty.schema, idCol, upTo = id, routeFilter).getOrElse(empty)
  }

  /** The one micro-batch loop: refuses `compactEvery` < 1, skips empty
    * batches, and runs [[guardHistory]] over `storeDirs` — every store the
    * batch writes — at batch START, before any side is resolved or
    * anything is written. `batch(b, id)` does the rest. */
  private def loop(src: DataFrame, storeDirs: Seq[String], compactEvery: Int,
                   configure: DataStreamWriter[Row] => DataStreamWriter[Row])
                  (batch: (DataFrame, Long) => Unit): StreamingQuery = {
    require(compactEvery >= 1, "compactEvery must be >= 1")
    configure(src.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      if (!b.isEmpty) {
        storeDirs.foreach(guardHistory(b.sparkSession, _, id))
        batch(b, id)
      }
    }).start()
  }

  /** One band store's step of batch `id`: sketch `rows` ONCE (persisted
    * until `use` returns), probe the store before the batch, and hand
    * `use` the result rows, the bands and the commit — `append` plus
    * [[commitDelta]] of the bands or of the subset the caller keeps. The
    * band schema and the empty store are `bandsOf` over `rows.limit(0)`. */
  private def storeStep[A](storeDir: String, idCol: String, side: Side,
                           partitionCols: Seq[String], compactEvery: Int,
                           id: Long, rows: DataFrame)
                          (use: (DataFrame, DataFrame, DataFrame => Unit) => A): A = {
    val spark = rows.sparkSession
    val (bandsOf, probe, append) = side
    val empty = bandsOf(rows.limit(0))
    val bands = bandsOf(rows)
    Persisted.scoped(bands) {
      val store = probedStore(spark, storeDir, idCol, partitionCols, bands, id, empty)
      use(probe(store, bands), bands, { kept =>
        append(kept)
        commitDelta(spark, storeDir, kept, empty.schema, idCol,
          partitionCols, compactEvery, id)
      })
    }
  }

  /** The single-store stream: one [[storeStep]] per batch, its result
    * sunk before the commit. `sideFor(spark, id)` resolves the batch's
    * [[Side]] AT BATCH START — static sides ignore (spark, id); the dedup
    * side re-reads the store-owned tier marker so an offline
    * [[migrateDedupTier]] takes effect at the next batch boundary, and the
    * routed IVF-PQ side moves its books ([[RoutedBooks]]). `sinkStores`
    * are the stores `sink` itself writes; the loop guards them too. */
  private def ingest(src: DataFrame, storeDir: String, idCol: String,
                     sideFor: (SparkSession, Long) => Side,
                     partitionCols: Seq[String], compactEvery: Int,
                     configure: DataStreamWriter[Row] => DataStreamWriter[Row],
                     sinkStores: Seq[String] = Nil)
                    (sink: (DataFrame, Long) => Unit): StreamingQuery =
    loop(src, storeDir +: sinkStores, compactEvery, configure) { (b, id) =>
      storeStep(storeDir, idCol, sideFor(b.sparkSession, id), partitionCols,
          compactEvery, id, dedupDeterministic(b, idCol)) { (result, bands, commit) =>
        sink(result, id)
        commit(bands)
      }
    }

  /** Rolling ANN ingest over a streaming relation of
    * (vec_id[, routeCols…], embedding). `sink` receives each batch's
    * neighbor rows (qid, nid, cosine) with the batch id. `configure` is
    * applied to the writer before start — set `checkpointLocation` there
    * for a durable query (the replay idempotency assumes the query HAS a
    * checkpoint), plus trigger/queryName as needed. `compactEvery` bounds
    * how many per-batch deltas accumulate before they fold into the
    * compacted base. `wideBands` picks the 64-lane wide band tier at
    * BOOTSTRAP — a rolling store's bands are at rest, so the tier is a
    * deployment parameter chosen from the expected store census against
    * [[graft.operators.Dedup.SimhashBandKnee]] (the knee the dedup
    * store's migration trigger applies), and changing it later is an
    * offline re-encode, like IVF retraining. */
  def annIngest(vecs: DataFrame, storeDir: String, k: Int = 3,
                routeCols: Seq[String] = Nil, compactEvery: Int = 8,
                wideBands: Boolean = false,
                configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity)
               (sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingest(vecs, storeDir, "vec_id",
      (_, _) => (
        if (wideBands) Similarity.hyperBandsWide else Similarity.hyperBands,
        (store, bands) =>
          Similarity.lshAnnIncrementalBands(store, bands, k, routeCols),
        _ => ()),
      routeCols, compactEvery, configure)(sink)

  /** Rolling IVF-PQ ingest over a streaming relation of
    * (vec_id, embedding) against FROZEN pre-trained books
    * ([[Similarity.ivfPqTrain]] — retraining is an offline event, never a
    * per-batch one): each micro-batch encodes against the frozen coarse +
    * PQ books (one zero-shuffle projection), probes the routed code store
    * ([[Similarity.ivfPqIncrementalCodes]] — supersede, nprobe routing,
    * broadcast ADC, exact rerank), hands `sink` its (qid, nid, cosine)
    * rows, and appends its code rows as a CELL-PARTITIONED delta — the
    * IVF partition layout at rest, so the probe's store read prunes to
    * the batch's cells. nprobe is pinned to 1 here BY the partition
    * pruning: the generic route filter scans exactly the batch rows' own
    * cells, which equals the probed cells only at nprobe = 1 (the ingest
    * operating point — see simIvfPqIncremental's doc); a multi-cell
    * probing deployment derives the filter from probed cells instead.
    * Same store/delta/compaction contract as [[annIngest]]. */
  def ivfPqIngest(vecs: DataFrame, storeDir: String,
                  coarse: Seq[(Int, Array[Long])],
                  books: Seq[Seq[(Int, Array[Long])]],
                  k: Int = 3, compactEvery: Int = 8,
                  configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity)
                 (sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingest(vecs, storeDir, "vec_id", (_, _) => pqSide(coarse, books, k),
      partitionCols = Seq("cell"), compactEvery, configure)(sink)

  // ---- retrain/re-encode cadence for the rolling IVF-PQ store ----
  // (VERDICT r15 #1: ivfPqIngest freezes bootstrap books forever, so a
  // store growing past its training slice re-enters the linear-probe-cost
  // regime the √n kc rule (Similarity.ivfPqKcRouted) was built to kill —
  // the same disease one level up)

  /** Serialize (coarse, pq books) as one parquet directory. `ord` records
    * each codeword's position in its book: assignment tie-breaks are
    * first-minimum in book ORDER, so a (de)serialization that reordered
    * codewords would silently change encodes. */
  private[graft] def writeBooks(spark: SparkSession, path: String,
                                coarse: Seq[(Int, Array[Long])],
                                books: Seq[Seq[(Int, Array[Long])]]): Unit = {
    import spark.implicits._
    val rows =
      coarse.zipWithIndex.map { case ((cw, cv), i) => ("coarse", 0, i, cw, cv.toSeq) } ++
      books.zipWithIndex.flatMap { case (bk, s) =>
        bk.zipWithIndex.map { case ((cw, cv), i) => ("pq", s + 1, i, cw, cv.toSeq) } }
    writeElement(spark, path,
      rows.toDF("kind", "s", "ord", "cw", "cv").coalesce(1), Nil)
  }

  private[graft] def readBooks(spark: SparkSession, path: String)
      : (Seq[(Int, Array[Long])], Seq[Seq[(Int, Array[Long])]]) = {
    val rows = ParquetSchema.read(spark, path)
      .select("kind", "s", "ord", "cw", "cv").collect()
    def book(rs: Seq[org.apache.spark.sql.Row]) = rs.sortBy(_.getInt(2))
      .map(r => (r.getInt(3), r.getSeq[Long](4).toArray)).toSeq
    val coarse = book(rows.filter(_.getString(0) == "coarse").toSeq)
    val m = rows.iterator.filter(_.getString(0) == "pq").map(_.getInt(1)).max
    val books = (1 to m).map(s =>
      book(rows.filter(r => r.getString(0) == "pq" && r.getInt(1) == s).toSeq))
    (coarse, books)
  }

  /** [[ivfPqIngest]] with a RETRAIN/RE-ENCODE CADENCE (VERDICT r15 #1):
    * the store OWNS its books (persisted as `books<v>` next to the
    * base/delta dirs; the caller's bootstrap pair seeds `books-1` on the
    * first batch), and when the store census pushes the routed cell count
    * [[graft.operators.Similarity.ivfPqKcRouted]] at least
    * `retrainGridSteps` power-of-2 grid steps above the trained kc, the
    * next batch boundary runs the offline event the wideBands precedent
    * names (re-tiering = offline re-encode):
    *
    *   1. TRAIN new books at the routed kc from the effective store's own
    *      (vec_id, q) rows ([[Similarity.ivfPqTrainQ]] — q is
    *      books-independent, no raw-embedding re-read);
    *   2. write `books<v>` (v = newest store element, so a crash here is
    *      detected as books-newer-than-base and the re-encode resumes);
    *   3. RE-ENCODE the effective store under the new books
    *      ([[Similarity.ivfPqEncodeQNorm]] — only cell/codes change;
    *      vec_id/q/norm are invariant, spec-pinned) into `base<v>`,
    *      cell-partitioned at the new kc;
    *   4. sweep superseded deltas/bases/books.
    *
    * The event is replay-safe at every crash point: before step 2 the
    * trigger simply re-fires; between 2 and 3 the resume rule (newest
    * books version > newest base version) re-runs the re-encode from the
    * still-live old rows; after 3, commitDelta's normal housekeeping
    * sweeps the leftovers, and the replayed batch re-reads census/books
    * from disk and encodes with the new books exactly as the original run
    * did (the retrain runs at batch START, before the batch's own encode).
    *
    * Census is tracked as cumulative appended rows (re-derived from
    * parquet metadata on restart): re-ingested ids double-count, which
    * only fires the retrain EARLY — the safe direction. `onRetrain`
    * observes (oldKc, newKc, census) for probes/monitoring. */
  def ivfPqIngestRouted(vecs: DataFrame, storeDir: String,
                        bootstrapCoarse: Seq[(Int, Array[Long])],
                        bootstrapBooks: Seq[Seq[(Int, Array[Long])]],
                        k: Int = 3, compactEvery: Int = 8,
                        retrainGridSteps: Int = 2,
                        configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity,
                        onRetrain: (Int, Int, Long) => Unit = (_, _, _) => ())
                       (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val rb = new RoutedBooks(storeDir, bootstrapCoarse, bootstrapBooks,
      retrainGridSteps, onRetrain)
    ingest(vecs, storeDir, "vec_id", rb.side(_, _, k),
      partitionCols = Seq("cell"), compactEvery, configure)(sink)
  }

  /** Store-owned frozen books with the census-drift retrain/re-encode
    * cadence (the machinery of [[ivfPqIngestRouted]], factored so the
    * composed keeper-gated pipeline [[dedupIndexIngestPqRouted]] shares
    * ONE implementation). One instance per (query, storeDir). Driver-held
    * state is a CACHE only — the store is authoritative: a restart
    * rebuilds books from the newest `books<v>` dir and the census from
    * parquet row counts. See [[ivfPqIngestRouted]]'s doc for the event
    * semantics and crash-window analysis (each step resumes or replays
    * deterministically). */
  private final class RoutedBooks(
      storeDir: String,
      bootstrapCoarse: Seq[(Int, Array[Long])],
      bootstrapBooks: Seq[Seq[(Int, Array[Long])]],
      retrainGridSteps: Int,
      onRetrain: (Int, Int, Long) => Unit) {
    require(retrainGridSteps >= 1, "retrainGridSteps must be >= 1")
    import graft.operators.Similarity
    // (booksVersion, coarse, books); census = cumulative appended rows
    // (re-ingested ids double-count, which only fires the retrain CHECK
    // early — the safe direction; the check itself derives the exact
    // supersede-resolved live count and resets the census, so inflation
    // never survives an event boundary)
    private var cur: Option[(Long, Seq[(Int, Array[Long])], Seq[Seq[(Int, Array[Long])]])] = None
    private var census = -1L

    /** The batch's operating books: bootstrap/load the newest books dir,
      * resume a crashed re-encode (books newer than base), fire the
      * census trigger and run the offline retrain event. Call at batch
      * START, before the batch's own encode. `schema` is the
      * (books-independent) code-row shape. */
    private def forBatch(spark: SparkSession, id: Long,
                         schema: StructType): (Seq[(Int, Array[Long])], Seq[Seq[(Int, Array[Long])]]) = {
      // ---- books bootstrap / load ----
      val l = listing(spark, storeDir)
      val newestBooks = l.newest("books")
      val bv = newestBooks.fold {
        writeBooks(spark, s"$storeDir/books-1", bootstrapCoarse, bootstrapBooks)
        -1L
      }(_.v)
      if (cur.forall(_._1 != bv)) {
        val (c, bks) = newestBooks.fold((bootstrapCoarse, bootstrapBooks))(
          b => readBooks(spark, b.path))
        cur = Some((bv, c, bks))
      }
      val booksVer = cur.get._1
      val coarse = cur.get._2
      val books = cur.get._3
      val liveEls = l.base().toSeq ++ l.live("d")
      // ---- census (cumulative appended rows; metadata-cheap re-derive) ----
      if (census < 0)
        census = liveEls.map(e => ParquetSchema.read(spark, e.path).count()).sum
      // ---- resume a crashed re-encode: books newer than the base ----
      val needResume = booksVer > l.baseVer() && l.of("d").exists(_.v <= booksVer)
      // ---- retrain trigger at batch start (pre-batch census) ----
      // The cumulative census only fires a CHECK: re-ingested ids
      // double-count (appends never decrement), so the event first derives
      // the exact live count from the supersede-resolved store view — a
      // heavily re-ingesting store must not retrain to a kc above the
      // routed point for its LIVE rows (VERDICT r16 watch item). A stale
      // census resets and writes nothing; a confirmed one retrains at the
      // live operating point. Census drift is thus bounded to the window
      // between checks, and every check lands it exactly.
      val trainedKc = coarse.size
      val targetKc = Similarity.ivfPqKcRouted(math.max(0L, census))
      val wantRetrain = targetKc >= (trainedKc << retrainGridSteps)
      val newestEl = liveEls.map(_.v).maxOption.getOrElse(-1L)
      if ((wantRetrain || needResume) && newestEl >= 0 && newestEl < id) {
        val v = newestEl
        val eff = storeView(spark, storeDir, schema, "vec_id", upTo = id).get
        Persisted.scoped(eff) {
          val live = eff.count()
          census = live // exact at every event boundary
          val liveKc = Similarity.ivfPqKcRouted(live)
          val confirmed = liveKc >= (trainedKc << retrainGridSteps)
          if (needResume || confirmed) {
            val (c2, b2) =
              if (needResume) (coarse, books) // books<v> already written
              else {
                val trained = Similarity.ivfPqTrainQ(
                  eff.select("vec_id", "q"), liveKc)
                writeBooks(spark, s"$storeDir/books$v", trained._1, trained._2)
                trained
              }
            // re-encode: vec_id/q/norm invariant, cell/codes re-derived;
            // writeElement clusters one-file-per-cell (the unclustered form
            // wrote ~16k tiny files at kc = 512 and dominated the retrain
            // event) and commits via tmp+rename — a crash mid-re-encode
            // never exposes a partial base whose presence would both break
            // storeView and let housekeeping sweep the still-needed deltas
            writeElement(spark, s"$storeDir/base$v",
              Similarity.ivfPqEncodeQNorm(eff.select("vec_id", "q", "norm"), c2, b2),
              Seq("cell"))
            // sweep the folded deltas, old base and old books — pin-
            // guarded, so a snapshot pinned before the retrain keeps its
            // codes AND the books that decode them
            reclaim(spark, storeDir)
            if (!needResume) onRetrain(trainedKc, liveKc, live)
            cur = Some((v, c2, b2))
          }
        }
      }
      (cur.get._2, cur.get._3)
    }

    /** The batch's [[Side]]: [[pqSide]] under the books [[forBatch]]
      * resolves, whose append feeds the batch's code-row count into the
      * census. The code-row schema is books-independent, so it is derived
      * from the bootstrap books over an empty (vec_id, embedding) relation. */
    def side(spark: SparkSession, id: Long, k: Int): Side = {
      import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField}
      val emptyVecs = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
      val schema = Similarity.ivfPqEncode(
        emptyVecs, bootstrapCoarse, bootstrapBooks).schema
      val (coarse, books) = forBatch(spark, id, schema)
      val (encode, probe, _) = pqSide(coarse, books, k)
      (encode, probe, codes => census += codes.count())
    }
  }

  /** Rolling simhash near-dup ingest over a streaming relation of
    * (doc_id, text): each micro-batch emits its (doc_a, doc_b, hamming)
    * pairs touching the batch, then its bands join the store. `wideSig`
    * picks the 128-bit/32-bit-band tier at BOOTSTRAP (VERDICT r15 #3 —
    * the text-side twin of [[annIngest]]'s `wideBands`), chosen from the
    * expected store census against the
    * [[graft.operators.Dedup.SimhashBandKnee]] occupancy knee. The store
    * OWNS its tier thereafter: a `tier<v>` marker written by the offline
    * [[migrateDedupTier]] event (VERDICT r16 #1) overrides the bootstrap
    * parameter at the next batch boundary, so a store that outgrows the
    * knee upgrades in place — the re-sketch needs the keeper corpus back
    * (band stores hold signatures, not documents), which is the one
    * honest difference from the IVF side's self-contained re-encode.
    * Note the tiers are different points on the precision curve
    * (Hamming <= 3 against 128 bits is stricter than against 64), which
    * is exactly why a post-knee corpus must flip: the narrow tier's
    * extra band collisions there are noise, not near-duplicates. Same
    * store/delta/compaction contract as [[annIngest]]. */
  def dedupIngest(docs: DataFrame, storeDir: String, maxHamming: Int = 3,
                  compactEvery: Int = 8, wideSig: Boolean = false,
                  configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity)
                 (sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingest(docs, storeDir, "doc_id", dedupSide(storeDir, wideSig, maxHamming),
      Nil, compactEvery, configure)(sink)

  /** The one rolling dedup [[Side]], resolved at batch start: the store's
    * own tier ([[resolvedTier]]) sketches narrow (64-bit sigs, 4 x 16-bit
    * bands) or wide (128-bit sigs, 4 x 32-bit bands) bands, and the probe
    * is the simhash near-dup join at `maxHamming` on its signature columns. */
  private def dedupSide(storeDir: String, wideSig: Boolean, maxHamming: Int)
                       (spark: SparkSession, id: Long): Side = {
    val (bandsOf, sigCols) =
      if (resolvedTier(spark, storeDir, wideSig))
        (Dedup.simhash128Bands _, Seq("sig_lo", "sig_hi"))
      else (Dedup.simhash64Bands _, Seq("simhash"))
    (bandsOf, (store, bands) =>
      Dedup.simhashNearDupIncrementalBands(store, bands, maxHamming, sigCols),
      _ => ())
  }

  /** The band schema of the wide or the narrow dedup tier. */
  private def dedupBandSchema(spark: SparkSession, wide: Boolean): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val docs = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    (if (wide) Dedup.simhash128Bands(docs) else Dedup.simhash64Bands(docs)).schema
  }

  // ---- store-owned tier + offline narrow→wide migration (VERDICT r16 #1:
  // the one rolling-store parameter that previously had NO store-local
  // upgrade path — the text-side twin of the RoutedBooks retrain/re-encode)

  private def writeTier(spark: SparkSession, storeDir: String, v: Long,
                        wide: Boolean): Unit = {
    import spark.implicits._
    writeElement(spark, s"$storeDir/tier$v",
      Seq(wide).toDF("wide").coalesce(1), Nil)
  }

  /** The store's OWNED band tier at batch start: the newest `tier<v>`
    * marker wins over the caller's bootstrap parameter (absent marker =
    * bootstrap, the pre-migration store). REFUSES to run when the marker
    * is newer than the newest base — the crash window of an interrupted
    * [[migrateDedupTier]] (marker written, re-sketched base not yet
    * renamed in): unlike the IVF side, the text store cannot self-resume
    * (band rows hold signatures, not documents), so the recovery is
    * guided — re-run the migration with the keeper corpus. This is the
    * text-side analog of [[RoutedBooks]]' books-newer-than-base rule. */
  private def resolvedTier(spark: SparkSession, storeDir: String,
                           bootstrapWide: Boolean): Boolean = {
    val l = listing(spark, storeDir)
    l.newest("tier") match {
      case None => bootstrapWide
      case Some(El(_, v, p)) =>
        val baseVer = l.baseVer()
        require(baseVer >= v,
          s"$storeDir: tier marker tier$v is newer than the newest base " +
            s"(version $baseVer) — an interrupted tier migration left the " +
            "store mid-event. Re-run RollingIngest.migrateDedupTier with " +
            "the keeper corpus to resume (idempotent from any crash " +
            "point), then restart the stream.")
        ParquetSchema.read(spark, p).select("wide").collect()(0).getBoolean(0)
    }
  }

  /** Doc-count CENSUS trigger for [[migrateDedupTier]]: true when the
    * store is still on the narrow tier and its live band rows / 4 (bands
    * per doc) meet `knee` — [[Dedup.SimhashBandKnee]], the round-7
    * occupancy law's migration point. Supersede double-counting fires the
    * trigger EARLY (the safe direction, same rationale as the RoutedBooks
    * census); the count is parquet-metadata-cheap. The migration itself
    * stays a manual/offline event because it needs the keeper corpus
    * back — this helper is the deployment cron's cheap "is it due" check. */
  def dedupTierMigrationDue(spark: SparkSession, storeDir: String,
                            knee: Long = Dedup.SimhashBandKnee): Boolean = {
    val l = listing(spark, storeDir)
    val live = l.base().toSeq ++ l.live("d")
    live.nonEmpty && !resolvedTier(spark, storeDir, bootstrapWide = false) &&
      !ParquetSchema.of(spark, live.head.path).fieldNames.contains("sig_hi") &&
      live.map(e => ParquetSchema.read(spark, e.path).count()).sum / 4 >= knee
  }

  /** OFFLINE narrow→wide tier migration for a rolling dedup store
    * (VERDICT r16 #1) — the text-side analog of the IVF retrain/re-encode
    * event, with the one honest difference ARCHITECTURE.md documents:
    * band stores hold signatures, not documents, so the event must be
    * handed the KEEPER CORPUS back. `corpus` provides (doc_id, text) for
    * every live store id (checked: a corpus missing keepers would
    * silently shrink the store — the run aborts before any store change).
    * Run with the stream STOPPED; it resumes on its own checkpoint and
    * picks the new tier up from the store marker at the next batch.
    *
    * Event steps, each idempotent:
    *   1. write the `tier<v>` MARKER (v = newest store element) — the
    *      crash sentinel: marker newer than base = interrupted event
    *      (resolvedTier refuses to stream; re-running THIS function
    *      resumes, because the old narrow rows stay live until step 3);
    *   2. re-sketch the effective store's live ids from `corpus` at the
    *      128-bit tier and verify coverage;
    *   3. commit `base<v>` via tmp+rename (never partially visible);
    *   4. sweep superseded deltas/bases/markers.
    *
    * The keeper ID SET is invariant (spec-pinned): migration changes
    * signatures, never membership. The tiers sit at different points on
    * the precision curve (Hamming <= 3 against 128 bits is stricter), so
    * post-migration pairs are judged at the wide tier's threshold — the
    * point of migrating past the occupancy knee, where narrow band
    * collisions are noise, not near-duplicates. */
  def migrateDedupTier(spark: SparkSession, storeDir: String,
                       corpus: DataFrame): Unit = {
    val l = listing(spark, storeDir)
    val newest = (l.of("base") ++ l.of("d")).maxByOption(_.v)
    require(newest.nonEmpty, s"$storeDir: empty store — bootstrap the stream " +
      "with wideSig=true instead of migrating")
    require(!ParquetSchema.of(spark, newest.get.path).fieldNames.contains("sig_hi"),
      s"$storeDir: store is already on the wide tier")
    val v = newest.get.v
    writeTier(spark, storeDir, v, wide = true)
    val ids = storeView(spark, storeDir, dedupBandSchema(spark, wide = false), "doc_id").get
      .select("doc_id").distinct()
    val docs = dedupDeterministic(corpus.select("doc_id", "text"), "doc_id")
      .join(ids, "doc_id")
    val wide = Dedup.simhash128Bands(docs)
    Persisted.scoped(wide) {
      val nW = wide.select("doc_id").distinct().count()
      val nIds = ids.count()
      require(nW == nIds,
        s"$storeDir: corpus covers $nW of $nIds live store ids — a " +
          "migration over an incomplete corpus would silently drop " +
          s"keepers. No store change made (marker tier$v stays; re-run " +
          "with the full keeper corpus).")
      writeElement(spark, s"$storeDir/base$v", wide, partitionCols = Nil)
    }
    reclaim(spark, storeDir)
  }

  /** COMPOSED rolling dedup-then-index — the streaming twin of the batch
    * composition ([[graft.operators.Similarity.simDedupIndex]]), and the
    * shape a continuously crawled 100 TB corpus actually runs: the dedup
    * store's keeper decision GATES what the ANN store ingests, so
    * retrieval structures only ever index the canonical (near-dup-free)
    * corpus. Input is a streaming relation of
    * (doc_id, text, embedding[, routeCols…]). Each micro-batch:
    *
    *   1. sketches simhash bands ONCE (probe + dedup-store append) — the
    *      64-bit tier, or 128-bit under `wideSig` (see [[dedupIngest]]);
    *   2. probes the KEEPER dedup store for near-dup pairs at Hamming <=
    *      `maxHamming` ([[Dedup.simhashNearDupIncrementalBands]] — work ∝
    *      batch, store never reshuffles);
    *   3. decides keepers: connected components over the batch-touching
    *      pairs (edge set ∝ batch — every pair has a batch end — so
    *      [[Dedup.labelPropagation]]'s driver gate always takes the
    *      union-find shortcut here), FIRST-SEEN WINS: any component
    *      holding a store doc drops all its batch members (the store is
    *      published history — an arriving near-dup never unpublishes it),
    *      batch-only components keep their min doc_id. `dedupSink`
    *      receives the decisions as (doc_id, keeper_id, kept);
    *   4. encodes the KEEPERS' embeddings into the ANN structure's rows
    *      (hyperplane bands here; PQ codes in [[dedupIndexIngestPq]]),
    *      probes the ANN store ([[Similarity.lshAnnIncrementalBands]])
    *      and hands `sink` the batch's (qid, nid, cosine) neighbor rows;
    *   5. appends the keepers' simhash bands and vector bands as deltas
    *      to the two stores (same delta/compaction/replay contract as
    *      [[annIngest]] — both stores hold exactly the canonical corpus,
    *      under the same ids).
    *
    * Keeper-only stores mean BOTH stores stay ∝ unique content — the
    * scale property the composition exists for. Two documented semantic
    * consequences: (a) a future doc near-dupping only a DROPPED duplicate
    * (Hamming <= 3 to it but > 3 to its keeper) is not re-detected —
    * the standard recall trade of representative-based dedup (SemDeDup
    * keeps one representative per cluster for the same reason); (b) a
    * re-ingested id whose new payload dedups away keeps its PREVIOUS
    * canonical rows in both stores — the update is rejected, not merged.
    *
    * Replay idempotence: the keeper decision is a deterministic function
    * of (effective store before the batch, deduplicated batch), and both
    * deltas are derived from it — a checkpoint replay rebuilds
    * byte-identical deltas, same as the single-store loops. */
  def dedupIndexIngest(docs: DataFrame, dedupStoreDir: String,
                       annStoreDir: String, maxHamming: Int = 3, k: Int = 3,
                       routeCols: Seq[String] = Nil, compactEvery: Int = 8,
                       wideBands: Boolean = false, wideSig: Boolean = false,
                       configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity,
                       dedupSink: (DataFrame, Long) => Unit = (_, _) => ())
                      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val vecBandsOf: DataFrame => DataFrame =
      if (wideBands) Similarity.hyperBandsWide else Similarity.hyperBands
    composedIngest(docs, dedupStoreDir, annStoreDir, maxHamming, compactEvery,
      wideSig, configure, dedupSink,
      vecRouteCols = routeCols,
      annSideFor = (_, _) => (vecBandsOf,
        (store, bands) =>
          Similarity.lshAnnIncrementalBands(store, bands, k, routeCols),
        _ => ()),
      annPartitionCols = routeCols)(sink)
  }

  /** Keeper-gated QUANTIZED ingest — [[dedupIndexIngest]] with the
    * production retrieval structure on the index side (VERDICT r15 #2):
    * keepers ENCODE against the FROZEN pre-trained IVF-PQ books
    * ([[Similarity.ivfPqEncode]], one zero-shuffle projection), probe the
    * routed code store ([[Similarity.ivfPqIncrementalCodes]] — supersede,
    * nprobe-1 routing, broadcast ADC, exact rerank; the same nprobe = 1
    * partition-pruning operating point as [[ivfPqIngest]], see its doc),
    * and append CELL-PARTITIONED code deltas — the full 100 TB crawl
    * stack: dedup gate -> quantized encode -> routed probe ->
    * cell-partitioned delta, fused into one micro-batch loop. The keeper
    * decision, store layout, compaction, and replay contracts are
    * [[dedupIndexIngest]]'s verbatim (one shared loop); only the ANN-side
    * row shape and probe differ. */
  def dedupIndexIngestPq(docs: DataFrame, dedupStoreDir: String,
                         annStoreDir: String,
                         coarse: Seq[(Int, Array[Long])],
                         books: Seq[Seq[(Int, Array[Long])]],
                         maxHamming: Int = 3, k: Int = 3,
                         compactEvery: Int = 8, wideSig: Boolean = false,
                         configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity,
                         dedupSink: (DataFrame, Long) => Unit = (_, _) => ())
                        (sink: (DataFrame, Long) => Unit): StreamingQuery =
    composedIngest(docs, dedupStoreDir, annStoreDir, maxHamming, compactEvery,
      wideSig, configure, dedupSink,
      annSideFor = (_, _) => pqSide(coarse, books, k),
      annPartitionCols = Seq("cell"))(sink)

  /** [[dedupIndexIngestPq]] with the RETRAIN/RE-ENCODE CADENCE on the code
    * store — the full production crawl stack with none of its levers
    * frozen: dedup gate → encode against the store's CURRENT books →
    * routed probe → cell-partitioned delta, where the ANN store owns its
    * books ([[RoutedBooks]], shared verbatim with [[ivfPqIngestRouted]])
    * and retrains at the census trigger from its own keeper rows. The
    * dedup side is books-independent, so keeper decisions are identical
    * to the frozen-book variant's (spec-pinned); the census counts
    * KEEPERS — the store's actual content — so a duplicate-heavy crawl
    * retrains on canonical growth, not raw arrival volume. */
  def dedupIndexIngestPqRouted(docs: DataFrame, dedupStoreDir: String,
                               annStoreDir: String,
                               bootstrapCoarse: Seq[(Int, Array[Long])],
                               bootstrapBooks: Seq[Seq[(Int, Array[Long])]],
                               maxHamming: Int = 3, k: Int = 3,
                               compactEvery: Int = 8, wideSig: Boolean = false,
                               retrainGridSteps: Int = 2,
                               configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity,
                               dedupSink: (DataFrame, Long) => Unit = (_, _) => (),
                               onRetrain: (Int, Int, Long) => Unit = (_, _, _) => ())
                              (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val rb = new RoutedBooks(annStoreDir, bootstrapCoarse, bootstrapBooks,
      retrainGridSteps, onRetrain)
    composedIngest(docs, dedupStoreDir, annStoreDir, maxHamming, compactEvery,
      wideSig, configure, dedupSink,
      annSideFor = rb.side(_, _, k),
      annPartitionCols = Seq("cell"))(sink)
  }

  /** The composed stream behind [[dedupIndexIngest]] and its variants: two
    * [[storeStep]]s per batch. The dedup step ([[dedupIngest]]'s
    * [[dedupSide]]) gates the batch against the keeper store; the ANN step
    * runs the parameterized ANN side (row encoder, probe, partition
    * layout) over the keepers only. See [[dedupIndexIngest]] for the full
    * step-by-step and semantic contract. */
  private def composedIngest(docs: DataFrame, dedupStoreDir: String,
                             annStoreDir: String, maxHamming: Int,
                             compactEvery: Int, wideSig: Boolean,
                             configure: DataStreamWriter[Row] => DataStreamWriter[Row],
                             dedupSink: (DataFrame, Long) => Unit,
                             // the ANN rows: (doc_id as vec_id, these, embedding)
                             vecRouteCols: Seq[String] = Nil,
                             // resolved PER BATCH so a routed/retraining
                             // ANN side can move its books at batch
                             // boundaries; static sides ignore (spark, id)
                             annSideFor: (SparkSession, Long) => Side,
                             annPartitionCols: Seq[String],
                             // batch-deterministic pre-dedup gate (the
                             // curation funnel's quality/decontam stages);
                             // receives the deduplicated batch, returns
                             // the rows admitted to the dedup probe.
                             // Deterministic per (batch, static config) =>
                             // replay rebuilds identical decisions/deltas.
                             preGate: (SparkSession, Long, DataFrame) => DataFrame =
                               (_, _, b) => b)
                            (sink: (DataFrame, Long) => Unit): StreamingQuery =
    loop(docs, Seq(dedupStoreDir, annStoreDir), compactEvery, configure) { (b, id) =>
      val spark = b.sparkSession
      // both sides resolved AT BATCH START: the dedup store's tier (an
      // offline migrateDedupTier between batches takes effect here), the
      // ANN side's books
      val docSide = dedupSide(dedupStoreDir, wideSig, maxHamming)(spark, id)
      val annSide = annSideFor(spark, id)
      val batch0 = dedupDeterministic(b, "doc_id")
      val batch = preGate(spark, id, batch0)
      Persisted.scoped(batch0, batch)(storeStep(dedupStoreDir, "doc_id", docSide, Nil,
          compactEvery, id, batch.select("doc_id", "text")) { (pairs, docBands, commitDedup) =>
        // Components over the batch-touching pairs; labels is at most
        // edge-set-sized (∝ batch), so every derived relation below
        // broadcasts. Store members need NO store scan: every pair
        // endpoint is either a batch doc or a LIVE store doc (the probe
        // already anti-joined superseded store rows), so the labeled
        // vertices that are not batch ids ARE the store members — the
        // keeper decision never touches the corpus-sized store again.
        val labels = Dedup.labelPropagation(pairs.select("doc_a", "doc_b"))
        val batchIds = batch.select("doc_id")
        val storeMin = labels.join(broadcast(batchIds), Seq("doc_id"), "left_anti")
          .groupBy("cluster_id").agg(min("doc_id").as("store_keeper"))
        val batchMin = labels.join(broadcast(batchIds), "doc_id")
          .groupBy("cluster_id").agg(min("doc_id").as("batch_keeper"))
        // first-seen wins: a store member's min id is the keeper when
        // present; otherwise the component's min batch id
        val decisions = batchIds
          .join(broadcast(labels), Seq("doc_id"), "left")
          .join(broadcast(storeMin), Seq("cluster_id"), "left")
          .join(broadcast(batchMin), Seq("cluster_id"), "left")
          .select(col("doc_id"),
            coalesce(col("store_keeper"), col("batch_keeper"),
              col("doc_id")).as("keeper_id"))
          .select(col("doc_id"), col("keeper_id"),
            (col("keeper_id") === col("doc_id")).as("kept"))
        Persisted.scoped(decisions) {
          val keptIds = decisions.filter(col("kept")).select("doc_id")
          dedupSink(decisions, id)
          storeStep(annStoreDir, "vec_id", annSide, annPartitionCols, compactEvery, id,
              batch.join(broadcast(keptIds), Seq("doc_id")).select(
                (col("doc_id").as("vec_id") +: vecRouteCols.map(col)) :+ col("embedding"): _*)) {
            (neighbors, vecBands, commitAnn) =>
              sink(neighbors, id)
              // A batch may dedup away ENTIRELY; an empty partitioned
              // write leaves a schema-less directory readBands cannot
              // open, so a keeper-less batch writes no deltas at all —
              // storeView and guardHistory tolerate version gaps by
              // construction.
              if (!keptIds.isEmpty) {
                commitDedup(docBands.join(broadcast(keptIds), Seq("doc_id")))
                commitAnn(vecBands)
              }
          }
        }
      })
    }

  /** The FULL curation funnel as one rolling micro-batch loop — the shape
    * a production LLM-data crawl actually runs. Per batch of
    * (doc_id, text, embedding):
    *
    *   1. QUALITY gate — [[graft.operators.TextAnalysis.keepFilter]]'s
    *      rule cascade (too-short / too-long / stopword-ratio /
    *      word-length / in-batch exact duplicate), all scan-stage
    *      metrics, one digest-keyed batch-sized shuffle;
    *   2. DECONTAMINATION gate — word-3-gram shingle overlap against the
    *      held-out benchmark corpus
    *      ([[graft.operators.TextAnalysis.decontaminate]]: broadcast
    *      dictionary at fixture sizes, bloom + exact re-check past
    *      `broadcastMaxIds` — the benchmark side is sketched + persisted
    *      ONCE at stream construction, never per batch);
    *   3. NEAR-DUP gate + INDEX — survivors flow into the keeper-gated
    *      quantized pipeline ([[dedupIndexIngestPq]]'s loop verbatim):
    *      simhash probe against the rolling keeper store,
    *      first-seen-wins components, keeper bands + PQ codes appended
    *      as deltas.
    *
    * `curationSink` receives each batch's pre-dedup DROP rows as
    * (doc_id, stage ∈ quality|decontam, reason); survivors carry no row
    * there — their keep/drop decision arrives via `dedupSink` like the
    * composed pipeline, so the union of the two sinks is the complete
    * per-doc funnel account. Both gates are deterministic functions of
    * (batch, static benchmark), so a checkpoint replay rebuilds identical
    * decisions and deltas — the composed loop's replay contract is
    * unchanged.
    *
    * Scale shape: gate work is ∝ batch (quality metrics in the scan
    * stage; the decontam dictionary is a broadcast/bloom probed by the
    * batch's exploded shingles, the asymmetric corpus-vs-reference shape
    * of [[graft.operators.TextAnalysis.decontaminate]]); the store-probe
    * cost structure of [[dedupIndexIngestPq]] is unchanged. Reference
    * semantics: the GPT-3/C4-style curation order (quality -> decontam ->
    * dedup) with each stage's account auditable per batch. */
  def curatedIngest(docs: DataFrame, benchDocs: DataFrame,
                    dedupStoreDir: String, annStoreDir: String,
                    coarse: Seq[(Int, Array[Long])],
                    books: Seq[Seq[(Int, Array[Long])]],
                    maxHamming: Int = 3, k: Int = 3,
                    compactEvery: Int = 8, wideSig: Boolean = false,
                    broadcastMaxIds: Long = 4000000L,
                    configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity,
                    curationSink: (DataFrame, Long) => Unit = (_, _) => (),
                    dedupSink: (DataFrame, Long) => Unit = (_, _) => ())
                   (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.operators.{Dedup => D, TextAnalysis}
    // the benchmark dictionary is derived, persisted, counted, and
    // tiered ONCE at construction (a static reference relation, like the
    // routed pipeline's bootstrap books) — per batch the gate pays only
    // the batch side's explode + probe, never a benchmark-sized job
    val (decontam, releaseDict) = TextAnalysis.decontamGate(
      D.docWidArrays(benchDocs.select("doc_id", "text")), broadcastMaxIds)
    // the cached dictionary lives exactly as long as its stream: released
    // on termination (the r15 ADVICE class of leak — a per-stream cached
    // relation with no owner outliving its loop). releaseDict is
    // idempotent, so the post-registration liveness check below may
    // double-fire safely.
    def releaseOn(q: StreamingQuery): StreamingQuery = {
      val spark = benchDocs.sparkSession
      val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            releaseDict()
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(l)
      // a query that terminated BEFORE the registration above never posts
      // its event to this listener — release directly in that case
      if (!spark.streams.active.exists(_.id == q.id)) {
        releaseDict()
        spark.streams.removeListener(l)
      }
      q
    }
    val gate = (spark: SparkSession, id: Long, batch: DataFrame) => {
      val q = TextAnalysis.keepFilter(batch.select("doc_id", "text"))
      val qDrops = q.filter(!col("keep"))
        .select(col("doc_id"), lit("quality").as("stage"), col("reason"))
      val qKept = batch.join(
        broadcast(q.filter(col("keep")).select("doc_id")), Seq("doc_id"))
      // evaluated twice (sink + anti-join), both off the PERSISTED batch
      // relation — re-deriving a batch-sized gate beats holding another
      // cached relation per batch
      val contaminated = decontam(D.docWidArrays(qKept.select("doc_id", "text")))
        .filter(col("contaminated")).select("doc_id")
      val dDrops = contaminated.select(col("doc_id"),
        lit("decontam").as("stage"), lit("contaminated").as("reason"))
      curationSink(qDrops.unionByName(dDrops), id)
      qKept.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    }
    val query = try {
      composedIngest(docs, dedupStoreDir, annStoreDir, maxHamming,
        compactEvery, wideSig, configure, dedupSink,
        annSideFor = (_, _) => pqSide(coarse, books, k),
        annPartitionCols = Seq("cell"), preGate = gate)(sink)
    } catch {
      case e: Throwable => releaseDict(); throw e
    }
    releaseOn(query)
  }

  // ---- rolling connected components (round 17): incremental labels via a
  // label-merge ledger ----

  private val labelSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("label",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The live merge LEDGER strictly before `upTo`: (from, to) label
    * renames, collected to the driver. Bounded: every entry retires one
    * label forever, compaction folds all entries < its fold point into the
    * node rows and deletes them — so the ledger holds at most one entry
    * per component merge since the last compaction, the small indirection
    * that makes a merge O(1) instead of a relabel of the larger side.
    * Only the [[Listing.live]] elements are read: ledger elements at or
    * below the base version are part of the folded base (their renames
    * are already applied to every row they could touch) — and once pins
    * can RETAIN folded ledger elements on disk, that floor is what keeps
    * them from re-entering live reads. (Re-applying a folded rename is
    * semantically a no-op — a retired label never re-emerges, since a
    * component's min member only decreases — so the floor is a cost
    * bound, not a correctness fix.) */
  private def mergeLedger(spark: SparkSession, storeDir: String,
                          upTo: Long): Seq[(Long, Long)] =
    ledgerOf(spark, listing(spark, storeDir).live("m", upTo).map(_.path))

  private def ledgerOf(spark: SparkSession,
                       paths: Seq[String]): Seq[(Long, Long)] =
    paths.flatMap { p =>
      ParquetSchema.read(spark, p).collect().map(r => (r.getLong(0), r.getLong(1)))
    }

  /** The ledger's renames folded into one min-union union-find. */
  private def ledgerUnionFind(ledger: Seq[(Long, Long)]): UnionFind = {
    val uf = new UnionFind
    ledger.foreach { case (f, t) => uf.union(f, t) }
    uf
  }

  /** Resolve a label DataFrame through the ledger: entries become a
    * broadcast rename map; labels outside it pass through. */
  private def resolveLabels(labels: DataFrame,
                            ledger: Seq[(Long, Long)]): DataFrame = {
    if (ledger.isEmpty) labels
    else {
      val spark = labels.sparkSession
      import spark.implicits._
      val ledgerUf = ledgerUnionFind(ledger)
      val renames = ledger.map(_._1).distinct
        .map(l => (l, ledgerUf.find(l))).toDF("label", "__canon")
      labels.join(broadcast(renames), Seq("label"), "left")
        .select(col("node"),
          coalesce(col("__canon"), col("label")).as("label"))
    }
  }

  /** Every node's component label, resolved through the live ledger —
    * the store's read API. Labels follow the [[Dedup.labelPropagation]]
    * convention (min node id in the component). */
  def componentLabels(spark: SparkSession, storeDir: String): Option[DataFrame] =
    storeView(spark, storeDir, labelSchema, "node")
      .map(resolveLabels(_, mergeLedger(spark, storeDir, Long.MaxValue)))

  /** Rolling connected-components ingest over a streaming relation of
    * undirected edges `(u, v)` — e.g. the near-dup pairs [[dedupIngest]]
    * emits. Maintains node→label rows under the element contract
    * (base/deltas, supersede by node) PLUS a label-merge ledger (`m<id>`
    * elements): when a batch edge connects two existing components, the
    * larger side is NOT relabeled — one ledger entry renames its label,
    * and readers resolve through the ledger. Per-batch work is therefore
    * ∝ batch (+ the ledger, which compaction empties), never ∝ corpus:
    * the cascade that makes naive incremental components degenerate to a
    * full relabel on a single bridging edge costs one ledger row here.
    *
    * Batch algorithm (driver memory ∝ batch + ledger, both documented):
    *   1. canonicalize batch edges (min,max), drop self-loops, distinct;
    *   2. the store rows of TOUCHED nodes only (corpus-sized scan,
    *      batch-sized result via broadcast semi-join) come back to the
    *      driver, resolved through the ledger;
    *   3. driver union-find over batch edges + (node → prior label)
    *      bindings; canonical label = min member (ids and labels share
    *      the id domain, so min-of-mins is the component min);
    *   4. delta `d<id>` rewrites the touched nodes' labels; ledger
    *      element `m<id>` records (old resolved label → canon) for every
    *      label the batch retired; `sink` receives the touched nodes'
    *      resolved (node, label) rows.
    * Compaction (same `compactEvery` contract as every store) folds
    * deltas AND the ledger < the fold point into the new base — ledger
    * entries are deleted only once every row they could rename is folded.
    * Replay-safe like the band stores: a replayed batch reads elements
    * strictly below its id and rebuilds the identical delta + ledger
    * element. After every batch, [[componentLabels]] over the edge
    * history equals [[Dedup.labelPropagation]] over the full edge set
    * (spec-pinned, including the one-edge bridge of two grown
    * components). */
  def componentsIngest(edges: DataFrame, storeDir: String,
                       compactEvery: Int = 8,
                       configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity)
                      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    loop(edges, Seq(storeDir), compactEvery, configure) { (b, id) =>
      sink(componentsBatch(b.sparkSession, storeDir, b, compactEvery, id), id)
    }

  /** One components micro-batch against `storeDir`: update the label store
    * with `edges0` (first two columns = endpoints) under batch `id`,
    * commit, and return the touched nodes' resolved (node, label) rows —
    * the per-batch core of [[componentsIngest]], shared by the composed
    * [[dedupClustersIngest]], whose [[loop]] has already guarded
    * `storeDir`. Empty edge sets short-circuit to an empty result with no
    * store write (version gaps are tolerated by construction). */
  private def componentsBatch(spark: SparkSession, storeDir: String,
                              edges0: DataFrame, compactEvery: Int,
                              id: Long): DataFrame = {
    import spark.implicits._
    val cols = edges0.columns
    val eb = edges0.select(
        org.apache.spark.sql.functions.least(col(cols(0)), col(cols(1))).cast("long").as("u"),
        org.apache.spark.sql.functions.greatest(col(cols(0)), col(cols(1))).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    Persisted.scoped(eb) {
      // driver memory ∝ batch edges (the documented contract; the probe
      // batches carry the same comment) + the ledger
      val ePairs = eb.collect().map(r => (r.getLong(0), r.getLong(1)))
      if (ePairs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], labelSchema)
      else {
        val touched = eb.select(col("u").as("node"))
          .union(eb.select(col("v").as("node"))).distinct()
        // read once: the m<id> element written below is not below id, so
        // the compaction's resolution reads this same ledger
        val ledger = mergeLedger(spark, storeDir, upTo = id)
        // prior labels of touched nodes: batch-sized result, resolved
        // through the ledger on the driver
        val ledgerUf = ledgerUnionFind(ledger)
        val prior: Map[Long, Long] =
          storeView(spark, storeDir, labelSchema, "node", upTo = id)
            .map(_.join(broadcast(touched), Seq("node"))
              .collect().map(r => r.getLong(0) -> ledgerUf.find(r.getLong(1)))
              .toMap)
            .getOrElse(Map.empty)
        // driver union-find (min-union): batch edges + prior-label bindings
        val uf = new UnionFind
        ePairs.foreach { case (a, b) => uf.union(a, b) }
        prior.foreach { case (n, l) => uf.union(n, l) }
        val touchedIds = prior.keySet ++ ePairs.flatMap(p => Seq(p._1, p._2))
        val newLabels = touchedIds.toSeq.sorted
          .map(n => (n, uf.find(n)))
        // retired labels: a prior label whose canon moved
        val retired = prior.values.toSeq.distinct
          .map(l => (l, uf.find(l))).filter { case (f, t) => f != t }
        val labelsDf = newLabels.toDF("node", "label")
        // the ledger element first, then the one commit: the compacted
        // base is written with every label resolved through the ledger
        // < the batch, after which the sweep deletes those ledger
        // elements (every row they could rename is inside the new base;
        // this batch's own delta carries only post-resolution labels, so
        // it references no retired label)
        if (retired.nonEmpty)
          writeElement(spark, s"$storeDir/m$id", retired.toDF("from", "to"), Nil)
        commit(spark, storeDir, labelsDf, Nil, compactEvery, id)(resolveLabels(
          storeView(spark, storeDir, labelSchema, "node", upTo = id)
            .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], labelSchema)),
          ledger))
        labelsDf
      }
    }
  }

  /** The crawl stack's cluster view in ONE micro-batch loop: simhash
    * near-dup pairs against the rolling band store ([[dedupIngest]]) feed
    * the components store ([[componentsBatch]]) within the same batch, so
    * every emitted pair immediately updates durable cluster identity.
    * `sink` receives the batch's resolved (node, label) rows — the docs
    * whose cluster membership this batch created or changed; a doc with
    * no near-dup edge is its own implicit singleton (the
    * [[Dedup.labelPropagation]] convention — stores hold edge endpoints
    * only). Both stores commit under the SAME batch id, and the [[loop]]
    * guards both at batch start; a crash between the two commits replays
    * the batch, which rebuilds both elements deterministically (pairs are
    * a pure function of store< id + batch, and [[guardHistory]] admits the
    * half-written replay shape). */
  def dedupClustersIngest(docs: DataFrame, dedupStoreDir: String,
                          ccStoreDir: String, maxHamming: Int = 3,
                          compactEvery: Int = 8, wideSig: Boolean = false,
                          configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity)
                         (sink: (DataFrame, Long) => Unit): StreamingQuery =
    ingest(docs, dedupStoreDir, "doc_id", dedupSide(dedupStoreDir, wideSig, maxHamming),
      Nil, compactEvery, configure, sinkStores = Seq(ccStoreDir)) { (pairs, id) =>
      val spark = pairs.sparkSession
      val p = pairs.select("doc_a", "doc_b")
      Persisted.scoped(p)(sink(componentsBatch(spark, ccStoreDir, p, compactEvery, id), id))
    }
}