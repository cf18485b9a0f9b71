package perfbench

import graft.{SparkEntry, Tables}
import graft.operators.Dedup
import graft.plans.SessionBroadcastCache
import graft.streaming.RollingIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** One timed operation: a query action, or one micro-batch of the ingest.
  * `prepMs` is the part before the engine runs (the query's definition
  * call, or `addData`), `runMs` the rest (the noop-sink action, or
  * `processAllAvailable`). */
final case class Op(name: String, prepMs: Double, runMs: Double,
                    error: Option[(String, String)], layers: Map[String, Double]) {
  def ms: Double = prepMs + runMs
}

final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double, stealPct: Double,
                      ops: Seq[Op], layers: Map[String, Double])

/** Runs one workload in one JVM and writes `result.json` (metrics, samples,
  * failures with their causes, per-layer counters) into the output
  * directory, plus `spans.jsonl` and `fits.json` for a traced run and the
  * query results the DuckDB check compares.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --cores N */
object Main {
  /** Session set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** A run makes one warm pass per this many seconds of `--seconds`, and
    * at least MinWarm: the count is fixed for a given `--seconds`, so every
    * run samples the same stretch of the JVM's warm-up. */
  val SecondsPerWarmPass = 10
  val MinWarm = 3
  /** Traced runs alternate untraced and traced warm passes, this many each. */
  val TracedPairs = 2

  def main(argv: Array[String]): Unit = {
    val bootMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    new Run(w, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt("data"), opt("out"), opt("cores").toInt, bootMs / 1000.0).run()
  }
}

final class Run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
                dataRoot: String, out: String, cores: Int, bootS: Double) {
  private val spans = new Spans
  private val listener = new LayerListener
  private val dir = s"$dataRoot/sf${w.scale}"
  private def sfDir(scale: String) = s"$dataRoot/sf$scale"

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Session, table resolution (listing and footers: driver work only) and
    * a warm-up scan of every table the workload reads. */
  private def setupOnce(): (SparkSession, Map[String, Double]) = spans("setup") {
    val t0 = System.nanoTime()
    val spark = spans("setup.session")(newSession())
    val t1 = System.nanoTime()
    val tables = w.tables.map(n => spans("tables.resolve", n)(Tables.t(spark, dir, n)))
    val t2 = System.nanoTime()
    spans("setup.warmup") {
      tables.foreach(_.write.format("noop").mode("overwrite").save())
    }
    val t3 = System.nanoTime()
    spark -> Map(
      "setup.session_s" -> (t1 - t0) / 1e9,
      "tables.resolve_ms" -> (t2 - t1) / 1e6,
      "setup.warmup_s" -> (t3 - t2) / 1e9,
      "setup_s" -> (bootS + (t3 - t0) / 1e9))
  }

  private def procStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** CPU time of every thread of this JVM: executors, driver, GC and JIT. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def cause(e: Throwable): (String, String) = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
    (e.getClass.getName + (if (root ne e) s" (cause ${root.getClass.getName})" else ""),
      msg.take(300))
  }

  /** Engine-side counters of the last operation; empty unless traced. */
  private def layersSince(spark: SparkSession, actionT0Ms: Long,
                          actionMs: Double, prep: Map[String, Double]): Map[String, Double] =
    if (!spans.on) Map.empty
    else {
      val (c, stages) = listener.take(spark.sparkContext)
      val active = LayerListener.unionLength(stages.filter(_._1 >= actionT0Ms))
      (c.keySet ++ prep.keySet).map(k => k -> (c.getOrElse(k, 0.0) + prep.getOrElse(k, 0.0))).toMap ++ Map(
        "exec.sched_gap_ms" -> math.max(0.0, actionMs - active),
        "operators.define_jobs" -> prep.getOrElse("exec.jobs", 0.0))
    }

  private def persistedCensus(spark: SparkSession): Map[String, Double] = {
    val info = spark.sparkContext.getRDDStorageInfo
    val (_, hits, misses) = SessionBroadcastCache.stats(spark.sparkContext)
    Map(
      "persisted.entries" -> info.length.toDouble,
      "persisted.mem_bytes" -> info.map(_.memSize).sum.toDouble,
      "persisted.disk_bytes" -> info.map(_.diskSize).sum.toDouble,
      "persisted.bcast_hits" -> hits.toDouble,
      "persisted.bcast_misses" -> misses.toDouble)
  }

  private def traceOn(spark: SparkSession): Unit = {
    spans.on = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    listener.take(spark.sparkContext)
  }

  private def traceOff(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(listener)
    spark.sparkContext.removeSparkListener(listener)
    spans.on = false
  }

  /** Runs `body` as pass `p`, traced or not, with the pass-level counters. */
  private def pass(spark: SparkSession, p: Int, trace: Boolean)(body: => Seq[Op]): Pass = {
    if (trace) traceOn(spark)
    val before = persistedCensus(spark)
    val (tot0, st0) = procStat()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    val ops = spans("pass", s"pass$p")(body)
    val wall = secs(t0)
    val cpu = (processCpuNs() - cpu0) / 1e9
    val (tot1, st1) = procStat()
    val after = persistedCensus(spark)
    if (trace) traceOff(spark)
    val summed = ops.flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _)
    val layers = summed ++ Map(
      "persisted.entries" -> after("persisted.entries"),
      "persisted.mem_bytes" -> after("persisted.mem_bytes"),
      "persisted.disk_bytes" -> after("persisted.disk_bytes"),
      "persisted.bcast_hits" -> (after("persisted.bcast_hits") - before("persisted.bcast_hits")),
      "persisted.bcast_misses" -> (after("persisted.bcast_misses") - before("persisted.bcast_misses")),
      "exec.task_skew" -> (if (summed.getOrElse("skew.den", 0.0) > 0)
        summed("skew.num") / summed("skew.den") else 1.0))
    Pass(p, trace, wall, cpu, if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0,
      ops, layers)
  }

  private def warmPasses: Int =
    if (traced) 1 + 2 * Main.TracedPairs
    else math.max(Main.MinWarm, (seconds / Main.SecondsPerWarmPass).toInt)

  /** A traced run traces its cold pass, runs one untraced settling pass
    * (the first warm pass is still much slower than the rest), then
    * untraced and traced passes in the order U T T U per pair, which
    * cancels a steady warm-up trend out of the tracing overhead. */
  private def isTraced(p: Int): Boolean =
    traced && (p == 0 || (p >= 2 && Set(1, 2).contains((p - 2) % 4)))

  /** Cold pass, then the warm passes. */
  private def passes(spark: SparkSession)(one: Int => Seq[Op]): Seq[Pass] =
    (0 to warmPasses).map(p => pass(spark, p, isTraced(p))(one(p)))

  // ---- query workloads -------------------------------------------------

  private def timeQuery(spark: SparkSession, q: String, d: String): Op = {
    val fn = SparkEntry.queries(q)
    var prepMs, runMs = 0.0
    var prep = Map.empty[String, Double]
    try {
      val t0 = System.nanoTime()
      val df = spans("operators.define", q)(fn(spark, d))
      prepMs = (System.nanoTime() - t0) / 1e6
      if (spans.on) prep = listener.take(spark.sparkContext)._1
      val wallT0 = System.currentTimeMillis()
      val t1 = System.nanoTime()
      spans("exec.action", q)(df.write.format("noop").mode("overwrite").save())
      runMs = (System.nanoTime() - t1) / 1e6
      Op(q, prepMs, runMs, None, layersSince(spark, wallT0, runMs, prep) ++
        (if (spans.on) Map("operators.define_ms" -> prepMs) else Map.empty))
    } catch {
      case scala.util.control.NonFatal(e) => Op(q, prepMs, runMs, Some(cause(e)), Map.empty)
    }
  }

  private def runQueries(spark: SparkSession, qw: QueryWorkload): (Seq[Pass], Map[String, Any]) = {
    val ps = passes(spark) { p =>
      Schedule.order(qw.queries, seed, p).map(q => timeQuery(spark, q, dir))
    }
    val rss = peakRssMb()
    val fits = if (traced) fit(spark, qw, ps) else Nil
    if (fits.nonEmpty) writeJson(s"$out/fits.json", fits)
    (ps, Map("peak_rss_mb" -> rss, "check" -> dumpForCheck(spark, qw)))
  }

  /** Fixed cost plus per-row slope per query (`a + b * rows`) through two
    * points, the workload's scale and `fitScale`. A point's rows are the
    * input rows of the query's cold op there (pass 0 here, the first run
    * there), which reads every table the query consumes before session
    * stores cache them; its time is a warm op, both measured back to back
    * after the passes so the JVM's warm-up does not tilt the slope. */
  private def fit(spark: SparkSession, qw: QueryWorkload, ps: Seq[Pass]): Seq[Map[String, Any]] = {
    def rows(o: Op): Double = o.layers.getOrElse("exec.input_rows", 0.0)
    val cold = ps.head.ops.map(o => o.name -> o).toMap
    traceOn(spark)
    val res = spans("fit") {
      qw.queries.map { q =>
        val first = timeQuery(spark, q, sfDir(qw.fitScale))
        val there = timeQuery(spark, q, sfDir(qw.fitScale))
        val here = timeQuery(spark, q, dir)
        val pts =
          if (Seq(cold(q), first, there, here).exists(_.error.nonEmpty)) Nil
          else Seq((qw.scale, rows(cold(q)), here.ms), (qw.fitScale, rows(first), there.ms))
        val line: Map[String, Any] = pts match {
          case Seq((_, r1, t1), (_, r2, t2)) if r1 != r2 =>
            val b = (t2 - t1) / (r2 - r1)
            Map("fixed_ms" -> (t1 - b * r1), "us_per_row" -> b * 1000)
          case _ => Map("fixed_ms" -> null, "us_per_row" -> null)
        }
        Map("query" -> q, "points" -> pts.map { case (s, r, t) =>
          Map("scale" -> s, "input_rows" -> r, "op_ms" -> t) }) ++ line
      }
    }
    traceOff(spark)
    res
  }

  /** Writes each timed query's result, from the timed session, for the
    * DuckDB comparison that runs after this JVM has exited. */
  private def dumpForCheck(spark: SparkSession, qw: QueryWorkload): Map[String, Any] = {
    val errors = qw.queries.flatMap { q =>
      try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/check/$q")
        None
      } catch {
        case scala.util.control.NonFatal(e) =>
          val (cls, msg) = cause(e); Some(q -> Map("class" -> cls, "message" -> msg))
      }
    }.toMap
    writeJson(s"$out/check/oracle_sql.json", qw.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    Map("data_dir" -> dir, "dump_errors" -> errors)
  }

  // ---- ingest workload ---------------------------------------------------

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".")) 0L else f.length()

  private def runIngest(spark: SparkSession, iw: IngestWorkload): (Seq[Pass], Map[String, Any]) = {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toIndexedSeq
    val batches = Schedule.batches(docs.size, seed, iw.batches).map(_.map(docs)).toIndexedSeq
    val inputBytes = docs.map(d => 8L + d._2.getBytes("UTF-8").length).sum.toDouble
    val emitted = mutable.Map.empty[Int, IndexedSeq[Set[(Long, Long, Int)]]]
    val storeStats = mutable.Map.empty[Int, Map[String, Double]]
    val fsckLog = mutable.Map.empty[Int, Seq[(String, String, String)]]

    val ps = passes(spark) { p =>
      val root = s"$out/ingest/pass$p"
      val store = s"$root/store"
      val got = mutable.Map.empty[Long, Set[(Long, Long, Int)]]
      val in = MemoryStream[(Long, String)](newProductEncoder[(Long, String)], sqlCtx)
      val t0 = System.nanoTime()
      val q = spans("operators.define", s"pass$p") {
        RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), store,
          compactEvery = iw.compactEvery, configure = _.option("checkpointLocation", s"$root/checkpoint")) { (pairs, id) =>
          got(id) = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        }
      }
      val defineMs = (System.nanoTime() - t0) / 1e6
      val bases = mutable.Set.empty[String]
      var deltaBytes = 0L
      var dead: Option[(String, String)] = None
      val ops = try batches.indices.map { i =>
        if (dead.nonEmpty) Op(s"batch$i", 0, 0, dead, Map.empty)
        else {
          var addMs = 0.0
          try {
            val t0 = System.nanoTime()
            spans("streaming.add_batch", s"batch$i")(in.addData(batches(i)))
            addMs = (System.nanoTime() - t0) / 1e6
            if (spans.on) listener.take(spark.sparkContext)
            val wallT0 = System.currentTimeMillis()
            val t1 = System.nanoTime()
            spans("streaming.trigger", s"batch$i")(q.processAllAvailable())
            val trigMs = (System.nanoTime() - t1) / 1e6
            val els = Option(new File(store).list()).map(_.toSeq).getOrElse(Nil)
            bases ++= els.filter(_.startsWith("base"))
            val newest = got.keys.maxOption.map(id => new File(s"$store/d$id"))
            deltaBytes += newest.map(dirBytes).getOrElse(0L)
            Op(s"batch$i", addMs, trigMs, None, layersSince(spark, wallT0, trigMs, Map.empty) ++
              (if (spans.on) Map("streaming.add_batch_ms" -> addMs,
                "streaming.trigger_ms" -> trigMs) else Map.empty))
          } catch {
            case scala.util.control.NonFatal(e) =>
              dead = Some(cause(e)); Op(s"batch$i", addMs, 0, dead, Map.empty)
          }
        }
      } finally q.stop()
      val fsck = RollingIngest.fsckStore(spark, store)
      val ids = got.keys.toSeq.sorted
      emitted(p) = ids.map(got).toIndexedSeq
      val baseBytes = Option(new File(store).listFiles()).map(_.filter(_.getName.startsWith("base"))
        .map(dirBytes).sum).getOrElse(0L)
      storeStats(p) = Map(
        "streaming.batches" -> ids.size.toDouble,
        "streaming.compactions" -> bases.size.toDouble,
        "streaming.delta_bytes" -> deltaBytes.toDouble,
        "streaming.base_bytes" -> baseBytes.toDouble,
        "streaming.rows_in" -> batches.map(_.size).sum.toDouble,
        "streaming.pairs_out" -> emitted(p).map(_.size).sum.toDouble,
        "streaming.fsck_findings" -> fsck.count(_._1 != "info").toDouble,
        "streaming.store_bytes" -> dirBytes(new File(store)).toDouble,
        "operators.define_ms" -> defineMs)
      fsckLog(p) = fsck
      ops
    }
    val rss = peakRssMb()
    // reference: each batch's pairs against all prior batches, as batch
    // queries (one per batch, run as one action)
    val expected = {
      import org.apache.spark.sql.functions.lit
      val perBatch = batches.indices.map { i =>
        val prior = batches.take(i).flatten.toDF("doc_id", "text")
        val cur = batches(i).toDF("doc_id", "text")
        Dedup.simhashNearDupIncrementalBands(Dedup.simhash64Bands(prior), Dedup.simhash64Bands(cur))
          .select(lit(i).as("batch"), $"doc_a", $"doc_b", $"hamming")
      }
      val rows = perBatch.reduce(_ union _).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      batches.indices.map(i => rows.collect { case (`i`, t) => t }.toSet)
    }
    val checked = ps.map { pa =>
      val layers = pa.layers ++ storeStats(pa.index)
      val ops = pa.ops.zipWithIndex.map { case (op, i) =>
        val e = emitted(pa.index)
        val bad = op.error.isEmpty && (i >= e.size || e(i) != expected(i))
        val findings = i == pa.ops.size - 1 && layers("streaming.fsck_findings") > 0
        if (bad) op.copy(error = Some(("mismatch",
          s"batch $i pairs differ from Dedup.simhashNearDupIncrementalBands over prior batches")))
        else if (findings) op.copy(error = Some(("fsck",
          fsckLog(pa.index).filter(_._1 != "info").map(f => s"${f._1} ${f._2}: ${f._3}").mkString("; "))))
        else op
      }
      pa.copy(ops = ops, layers = layers)
    }
    val lastStore = storeStats(ps.last.index)
    (checked, Map("peak_rss_mb" -> rss,
      "disk_bytes_per_input_byte" -> lastStore("streaming.store_bytes") / inputBytes,
      "fsck_info" -> fsckLog.toSeq.sortBy(_._1).map { case (p, f) =>
        s"pass$p" -> f.map(x => s"${x._1} ${x._2}: ${x._3}") }.toMap))
  }

  // ---- run ---------------------------------------------------------------

  def run(): Unit = {
    new File(out).mkdirs()
    spans.on = traced
    val setups = (1 until Main.Setups).map { _ =>
      val (s, m) = setupOnce(); s.stop(); m
    }
    val (spark, last) = setupOnce()
    spans.on = false
    val setupRuns = setups :+ last
    val (ps, extra) = w match {
      case qw: QueryWorkload => runQueries(spark, qw)
      case iw: IngestWorkload => runIngest(spark, iw)
    }
    spark.stop()

    val warm = ps.filter(p => p.index > 0 && !p.traced)
    val warmOps = warm.flatMap(_.ops)
    val okMs = warmOps.filter(_.error.isEmpty).map(_.ms)
    val timedOps = ps.filter(!_.traced).flatMap(_.ops)
    val tailP = Stats.tailPercentile(warm.map(_.ops.size).sum)
    val metrics = Map(
      "setup_s" -> Stats.median(setupRuns.map(_("setup_s"))),
      "first_pass_s" -> ps.head.wallS,
      "first_pass_cpu_s" -> ps.head.cpuS,
      "pass_s" -> Stats.median(warm.map(_.wallS)),
      "pass_cpu_s" -> Stats.median(warm.map(_.cpuS)),
      "op_ms.p50" -> Stats.percentile(okMs, 50),
      "op_ms.tail" -> Stats.percentile(okMs, tailP),
      "peak_rss_mb" -> extra("peak_rss_mb"),
      "fail_frac" -> timedOps.count(_.error.nonEmpty).toDouble / math.max(1, timedOps.size),
      "disk_bytes_per_input_byte" -> extra.getOrElse("disk_bytes_per_input_byte", 0.0))
    val samples = Map(
      "setup_s" -> setupRuns.size, "first_pass_s" -> 1, "first_pass_cpu_s" -> 1,
      "pass_s" -> warm.size,
      "pass_cpu_s" -> warm.size,
      "op_ms.p50" -> okMs.size, "op_ms.tail" -> okMs.size, "peak_rss_mb" -> 1,
      "fail_frac" -> timedOps.size, "disk_bytes_per_input_byte" -> 1)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "scale" -> w.scale, "seed" -> seed, "traced" -> traced,
      "cores" -> cores, "metrics" -> metrics, "samples" -> samples,
      "tail_percentile" -> tailP,
      "attempted" -> timedOps.size,
      "failures" -> ps.flatMap(p => p.ops.collect { case o if o.error.nonEmpty =>
        Map("pass" -> p.index, "op" -> o.name, "class" -> o.error.get._1,
          "message" -> o.error.get._2) }),
      "passes" -> ps.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "steal_pct" -> p.stealPct, "ops" -> p.ops.size)),
      "setups" -> setupRuns,
      "ops" -> timedOps.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
        n -> os.map(o => Math.round(o.ms * 1000) / 1000.0) }.toMap)
    result ++= extra.removed("peak_rss_mb").removed("disk_bytes_per_input_byte")
    if (traced) {
      val tp = ps.filter(p => p.traced && p.index > 0)
      val keys = tp.flatMap(_.layers.keys).distinct.filterNot(_.startsWith("skew."))
      val layers = keys.map(k => k -> Stats.median(tp.map(_.layers.getOrElse(k, 0.0)))).toMap ++
        Map("tables.resolve_ms" -> Stats.median(setupRuns.map(_("tables.resolve_ms"))),
          "setup.session_s" -> Stats.median(setupRuns.map(_("setup.session_s"))),
          "setup.warmup_s" -> Stats.median(setupRuns.map(_("setup.warmup_s"))),
          "persisted.blocks_written" -> ps.head.layers.getOrElse("persisted.blocks_written", 0.0),
          "persisted.blocks_written_warm" ->
            Stats.median(tp.map(_.layers.getOrElse("persisted.blocks_written", 0.0))),
          "trace.overhead_frac" -> (Stats.median(tp.map(_.wallS)) /
            Stats.median(warm.filter(_.index >= 2).map(_.wallS)) - 1))
      result("layers") = layers
      val pw = new PrintWriter(s"$out/spans.jsonl")
      try spans.all.foreach(s => pw.println(Json.render(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent, "query" -> s.query))))
      finally pw.close()
    }
    writeJson(s"$out/result.json", result.toMap)
  }

  private def writeJson(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    val pw = new PrintWriter(path)
    try pw.print(Json.render(v)) finally pw.close()
  }
}

object Stats {
  /** Median, the mean of the middle two for an even count; NaN for none. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile; NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The highest whole percentile with at least ten of `n` samples beyond
    * it (the median when there are fewer than twenty). */
  def tailPercentile(n: Int): Double =
    math.max(50.0, math.floor(100.0 * (1 - 10.0 / math.max(n, 1))))
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
