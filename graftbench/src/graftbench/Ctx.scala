package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** One timed operation: its kind, wall time, whether it (and its
  * correctness check) passed, and in traced runs what the layers did. */
final case class OpRec(id: Int, kind: String, wallS: Double, ok: Boolean,
                       facts: Map[String, Double])

/** Shared state of one benchmark run: the session, the tracer and the
  * operation log. Operations run one at a time (a single closed-loop
  * client); only operations issued while `measuring` is set are timed
  * into the results. */
final class Ctx(val spark: SparkSession, val seed: Long, val trace: Boolean,
                val warehouse: String, val work: String) {
  val tracer = new Tracer(trace)
  val counters: Option[SparkCounters] =
    if (trace) Some(new SparkCounters) else None
  val capture: Option[QueryCapture] =
    if (trace) Some(new QueryCapture) else None
  counters.foreach(spark.sparkContext.addSparkListener)
  capture.foreach(spark.listenerManager.register)

  var measuring = false
  var attempted = 0L
  var failed = 0L
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  private var nextOp = 0
  // facts the workload notes while an operation runs (result rows, rows
  // changed by the generator)
  private val noted = mutable.HashMap.empty[String, Double]

  def note(k: String, v: Double): Unit = noted(k) = noted.getOrElse(k, 0.0) + v

  // a statement's parsing and analysis are tracked by the QueryExecution
  // spark.sql returns, not by the one the listener reports after it ran
  private val statements = mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.QueryExecution]
  def statementRan(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    if (trace) statements += qe

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[graftbench] FAILED: $what")
  }

  /** An untimed correctness check that is not tied to one operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) =>
      System.err.println(s"[graftbench] check $what threw: $e"); false }
    if (!passed) fail(what)
  }

  /** Runs `body` as one operation of `kind`, then `verify` on its result
    * outside the timed interval. A thrown error or a failed check counts
    * as a failed operation. */
  def op[T](kind: String)(body: => T)(verify: T => Boolean): Unit = {
    val id = nextOp
    nextOp += 1
    noted.clear()
    statements.clear()
    val before = if (trace) { Bus.drain(spark.sparkContext); capture.foreach(_.drain())
      counters.map(_.snapshot) } else None
    val t0 = Clock.now
    val r = try Right(tracer.operation(id, kind)(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.now
    val ok = r match {
      case Right(v) => try verify(v) catch { case NonFatal(e) =>
        System.err.println(s"[graftbench] check of $kind threw: $e"); false }
      case Left(e) =>
        System.err.println(s"[graftbench] $kind threw: $e"); false
    }
    attempted += 1
    if (!ok) fail(s"$kind #$id")
    val facts = if (trace) layerFacts(id, t0, t1, before.get) else Map.empty[String, Double]
    if (measuring) ops += OpRec(id, kind, (t1 - t0) / 1e9, ok, facts ++ noted)
  }

  /** What the layers did during operation `id`, from the listener, the
    * finished queries' plans, and the bench's own spans. */
  private def layerFacts(id: Int, t0: Long, t1: Long, before: Array[Long]): Map[String, Double] = {
    Bus.drain(spark.sparkContext)
    val c = SparkCounters.delta(before, counters.get.snapshot)
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val q = counters.get.jobs
    var j = q.poll()
    while (j != null) { jobs += j; j = q.poll() }
    jobs.foreach { case (s, e) => tracer.add(id, "spark", "job", s, e) }
    val finished = capture.get.drain().map(_._2)
    val qes = finished ++ statements.filterNot(q => finished.exists(_ eq q))
    val phase = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var relations = 0.0
    var files = 0.0
    var rows = 0.0
    qes.foreach { qe =>
      PlanFacts.phases(qe).foreach { case (name, (s, e)) =>
        phase(name) += (e - s) / 1e3
        if (PlanFacts.Phases.contains(name))
          tracer.add(id, "catalog", name, s * 1000000L, e * 1000000L)
      }
      relations += PlanFacts.scanRelations(qe)
      val (f, r) = PlanFacts.scanned(qe)
      files += f
      rows += r
    }
    val wall = (t1 - t0) / 1e9
    // a query's plan time is the bench's own span from spark.sql to the
    // materialized executedPlan; a statement executes inside spark.sql,
    // so its plan time is the Catalyst phases of the queries it ran
    val planSpan = tracer.spans.reverseIterator
      .find(s => s.op == id && s.layer == "catalog" && s.name == "plan")
    val planS = planSpan.map(_.dur / 1e9)
      .getOrElse(PlanFacts.Phases.map(phase).sum)
    val inJobs = Trace.union(jobs.toSeq.map { case (s, e) => (s.max(t0), e.min(t1)) }) / 1e9
    Map(
      "plan_s" -> planS,
      "exec_s" -> (wall - planS).max(0.0),
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "queries" -> qes.size.toDouble,
      "scan_relations" -> relations,
      "files_scanned" -> files,
      "rows_scanned" -> rows,
      "jobs" -> c(SparkCounters.Jobs).toDouble,
      "stages" -> c(SparkCounters.Stages).toDouble,
      "tasks" -> c(SparkCounters.Tasks).toDouble,
      "task_cpu_s" -> c(SparkCounters.CpuNs) / 1e9,
      "gc_s" -> c(SparkCounters.GcMs) / 1e3,
      "task_wait_s" -> c(SparkCounters.TaskWaitMs) / 1e3,
      "shuffle_write_bytes" -> c(SparkCounters.ShuffleWrite).toDouble,
      "shuffle_read_bytes" -> c(SparkCounters.ShuffleRead).toDouble,
      "input_bytes" -> c(SparkCounters.InputBytes).toDouble,
      "bytes_written" -> c(SparkCounters.OutputBytes).toDouble,
      "records_written" -> c(SparkCounters.OutputRecords).toDouble,
      "peak_exec_mem_mb" -> c(SparkCounters.PeakMem) / 1048576.0,
      "outside_jobs_s" -> (wall - inJobs).max(0.0))
  }

  // ---- the table and storage layers, probed from outside ---------------

  def tableDir(ns: String, name: String): String = s"$warehouse/$ns/$name"

  def dropNamespace(ns: String): Unit = fs(warehouse).delete(new Path(warehouse, ns), true)

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Seconds to load a table and resolve its current snapshot. */
  def timeLoad(dir: String): Double = tracer.span("table", "load") {
    val t0 = Clock.now
    graft.table.GraftTable.load(spark, dir).snapshot
    (Clock.now - t0) / 1e9
  }

  /** Size of the newest snapshot-log entry and of the whole log. */
  def logBytes(dir: String): (Long, Long) = {
    val entries = fs(dir).listStatus(new Path(dir, "_graft_log"))
      .filter(_.getPath.getName.matches("v\\d+\\.json"))
    (entries.maxBy(_.getPath.getName).getLen, entries.map(_.getLen).sum)
  }

  /** (bytes, files) under a table dir, read from the file system. */
  def storage(dir: String): (Long, Long) = tracer.span("storage", "walk") {
    val it = fs(dir).listFiles(new Path(dir), true)
    var bytes = 0L
    var files = 0L
    while (it.hasNext) { val f = it.next(); bytes += f.getLen; files += 1 }
    (bytes, files)
  }

  /** The table-shape facts a result is stamped with. */
  def shape(dir: String): Map[String, Double] = {
    val snap = graft.table.GraftTable.load(spark, dir).snapshot
    val (entry, log) = logBytes(dir)
    val (bytes, files) = storage(dir)
    Map("version" -> snap.version.toDouble,
      "data_dirs" -> snap.dataDirs.size.toDouble,
      "delete_files" -> snap.deletes.size.toDouble,
      "entry_bytes" -> entry.toDouble,
      "log_bytes" -> log.toDouble,
      "storage_bytes" -> bytes.toDouble,
      "storage_files" -> files.toDouble)
  }
}
