package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A timed call into one layer: `parent` is the id of the enclosing span
  * (-1 at the top), `query` names the operation the span belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, query: String)

/** In-memory span recorder. Spans are kept only while `on`; the benchmark
  * switches it on for traced passes and writes the spans out at the end. */
final class Spans {
  var on = false
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String, query: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = buf.size
      buf += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        buf(id) = Span(id, name, t0, System.nanoTime(), parent, query)
        stack = stack.tail
      }
    }

  def all: Seq[Span] = buf.toSeq
}

/** Counts what the engine does below the call the benchmark times: jobs,
  * stages and tasks with their executor metrics (Spark listener events),
  * cache blocks written, and per query execution the planning phases and
  * the in-memory scans of the executed plan. Registered only for traced
  * passes; `take` drains the listener bus first, so every event of an
  * operation lands in that operation's counters. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c("exec.jobs") += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("exec.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("exec.run_ms") += m.executorRunTime
      c("exec.cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("exec.serde_ms") += m.executorDeserializeTime + m.resultSerializationTime
      c("exec.input_rows") += m.inputMetrics.recordsRead
      c("exec.input_bytes") += m.inputMetrics.bytesRead
      c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.spill_bytes") += m.diskBytesSpilled
    }
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  // Skew is max/median task time per stage, weighted by the stage's time.
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    c("exec.stages") += 1
    val ts = taskMs.remove((si.stageId, si.attemptNumber())).map(_.sorted)
    for (s <- si.submissionTime; f <- si.completionTime) {
      stageIntervals += ((s, f))
      ts.filter(_.nonEmpty).foreach { t =>
        c("skew.num") += (f - s) * t.last.toDouble / math.max(1L, t(t.size / 2))
        c("skew.den") += (f - s)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid)
      synchronized { c("persisted.blocks_written") += 1 }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val scans = LayerListener.inMemoryScans(qe.executedPlan)
    synchronized {
      c("plans.analysis_ms") += ms("analysis")
      c("plans.optimization_ms") += ms("optimization")
      c("plans.planning_ms") += ms("planning")
      c("plans.inmemory_scans") += scans
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counters and stage-active intervals accumulated since the last take;
    * resets both. */
  def take(sc: org.apache.spark.SparkContext): (Map[String, Double], Seq[(Long, Long)]) = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val out = (c.toMap, stageIntervals.toSeq)
      c.clear(); stageIntervals.clear()
      out
    }
  }
}

object LayerListener extends AdaptiveSparkPlanHelper {
  def inMemoryScans(p: SparkPlan): Int =
    collect(p) { case s: InMemoryTableScanExec => s }.size

  /** Length of the union of [start, end] intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
