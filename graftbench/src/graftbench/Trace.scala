package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, OneRowRelation}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so bench
  * spans line up with Spark's millisecond job and phase timestamps. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = base + System.nanoTime()
}

/** One timed interval. `layer` is the graft module the interval is
  * charged to; `op` is the benchmark operation it belongs to (-1 outside
  * any operation). */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, current, op, layer, name, Clock.now, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = Clock.now)
      }
    }

  /** Root span of operation `opId`. */
  def operation[T](opId: Int, kind: String)(body: => T): T = {
    op = opId
    try span("bench", kind)(body) finally op = -1
  }

  /** A span measured elsewhere (a Spark job, a Catalyst phase), attached
    * under the deepest recorded span of `opId` that contains its start. */
  def add(opId: Int, layer: String, name: String, start: Long, end: Long): Unit =
    if (enabled && end >= start) {
      val parent = spans.iterator
        .filter(s => s.op == opId && s.start <= start && s.end >= start && s.end > 0)
        .foldLeft(Option.empty[Span])((best, s) =>
          if (best.forall(b => s.start >= b.start && s.dur <= b.dur)) Some(s) else best)
      spans += Span(spans.size, parent.map(_.id).getOrElse(-1), opId, layer, name, start, end)
    }

  /** Self time per layer over the spans of operations `ops`: each span's
    * duration minus the part of it that its children cover. */
  def selfTimes(ops: Set[Int]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(s => ops.contains(s.op)).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val covered = Trace.union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).toSeq)
        (s.dur - covered).max(0L)
      }.sum / 1e9
    }
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += (curE - curS).max(0L); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS).max(0L)
  }
}

/** Task, stage and job totals from the listener bus. Registered only in
  * traced runs. */
final class SparkCounters extends SparkListener {
  import SparkCounters._
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]() // epoch ns
  private val c = new Array[Long](Keys.length)
  private def bump(k: Int, v: Long): Unit = c.synchronized { c(k) += v }

  def snapshot: Array[Long] = c.synchronized(c.clone())

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    bump(Jobs, 1)
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s * 1000000L, e.time * 1000000L)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    bump(Stages, 1)
    stageSubmit.remove(e.stageInfo.stageId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    bump(Tasks, 1)
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      bump(TaskWaitMs, (e.taskInfo.launchTime - s).max(0L)))
    val m = e.taskMetrics
    if (m != null) {
      bump(CpuNs, m.executorCpuTime)
      bump(GcMs, m.jvmGCTime)
      bump(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      bump(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      bump(InputBytes, m.inputMetrics.bytesRead)
      bump(OutputBytes, m.outputMetrics.bytesWritten)
      bump(OutputRecords, m.outputMetrics.recordsWritten)
      c.synchronized { c(PeakMem) = math.max(c(PeakMem), m.peakExecutionMemory) }
    }
  }
}

object SparkCounters {
  val Keys: Array[String] = Array("jobs", "stages", "tasks", "cpu_ns", "gc_ms", "task_wait_ms",
    "shuffle_write", "shuffle_read", "input_bytes", "output_bytes", "output_records", "peak_mem")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val CpuNs = 3; val GcMs = 4; val TaskWaitMs = 5
  val ShuffleWrite = 6; val ShuffleRead = 7; val InputBytes = 8; val OutputBytes = 9
  val OutputRecords = 10; val PeakMem = 11

  /** Counter deltas; the peak is the window's own maximum only if it rose. */
  def delta(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(Keys.length)(i => if (i == PeakMem) b(i) else b(i) - a(i))
}

/** Collects every QueryExecution that finishes, with its end time. */
final class QueryCapture extends QueryExecutionListener {
  val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add((funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[(String, QueryExecution, Long)] = {
    val b = mutable.ArrayBuffer.empty[(String, QueryExecution, Long)]
    var x = done.poll()
    while (x != null) { b += x; x = done.poll() }
    b.toSeq
  }
}

/** Facts read off a query's plans after it ran. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

  /** (start ms, end ms) per Catalyst phase the tracker recorded. */
  def phases(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }

  /** Relations (leaves other than literal rows) in the analyzed plan. */
  def scanRelations(qe: QueryExecution): Int =
    qe.analyzed.collectLeaves().count {
      case _: LocalRelation | _: OneRowRelation => false
      case _: LeafNode => true
    }

  /** (files, rows) read by the scan nodes of an executed query, from their
    * `numFiles` and `numOutputRows` metrics. */
  def scanned(qe: QueryExecution): (Long, Long) = {
    // a statement's outer QueryExecution holds only its command result
    if (qe.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CommandResult])
      return (0L, 0L)
    val scans = collectWithSubqueries(qe.executedPlan) {
      case p if p.nodeName.contains("Scan") && p.children.isEmpty => p
    }
    (scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum,
      scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }
}
