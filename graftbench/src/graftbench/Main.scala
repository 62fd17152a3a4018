package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one run of one workload:
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <scratch dir> --out <result.json> [--units <n>]
  * }}}
  * It starts a local Spark session with the graft catalog, generates the
  * inputs, builds the workload's tables three times and warms the last
  * build up (set-up), runs a fixed number of operations from a single
  * closed-loop client, checks the results, and writes one JSON document. `graftbench/run.py` builds and launches it. */
object Main {

  /** N in local[N]. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = new File(args("work")).getAbsolutePath
    require(workload == "train" || Workloads.names.contains(workload),
      s"unknown workload $workload (one of ${Workloads.names.mkString(", ")})")

    val t0 = Clock.now
    val spark = graft.sources.GraftLocalFileSystem.install(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.catalog.GraftSparkSessionExtensions)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (Clock.now - t0) / 1e9

    if (workload == "train") {
      // one short pass over every workload, so that the class-data archive
      // the build records from this JVM covers all of their code paths
      Workloads.names.foreach { w =>
        run(spark, w, args("seed").toLong, 1, trace = true, work, Some(1), sessionStartS)
        Seq("warehouse", "inputs").foreach(d =>
          org.apache.commons.io.FileUtils.deleteDirectory(new File(work, d)))
      }
    } else {
      val trace = args.getOrElse("trace", "0") == "1"
      val (result, spans) = run(spark, workload, args("seed").toLong, args("seconds").toDouble,
        trace, work, args.get("units").map(_.toInt), sessionStartS)
      write(args("out"), Seq(Json.render(result)))
      if (trace) write(args("out").stripSuffix(".json") + ".spans.jsonl", spans.map(s =>
        Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))))
    }
    spark.stop()
  }

  private def write(path: String, lines: Iterable[String]): Unit = {
    val out = new PrintWriter(new File(path), "UTF-8")
    try lines.foreach(out.println) finally out.close()
  }

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
          work: String, unitsOverride: Option[Int],
          sessionStartS: Double): (Map[String, Any], Seq[Span]) = {
    val ctx = new Ctx(spark, seed, trace, s"$work/warehouse", work)
    val p0 = Clock.now
    Workloads.make(workload, ctx, "inputs").prepare()
    log(s"$workload: session ${sessionStartS}s, inputs ${(Clock.now - p0) / 1e9}s")
    // the table build is timed several times, each in a fresh namespace;
    // the last build is warmed up and measured
    val builds = (0 until 3).map { i =>
      val b = Workloads.make(workload, ctx, if (i == 2) "db" else s"rep$i")
      val s0 = Clock.now
      b.build()
      val t = (Clock.now - s0) / 1e9
      if (i < 2) ctx.dropNamespace(s"rep$i")
      log(s"build $i: ${t}s")
      (b, t)
    }
    val w = builds.last._1
    val buildS = builds.map(_._2)
    val s0 = Clock.now
    w.warmup()
    val warmupS = (Clock.now - s0) / 1e9
    log(s"warm-up: ${warmupS}s")

    val units = unitsOverride.getOrElse(math.max(1, math.round(seconds * w.unitsPerSecond).toInt))
    ctx.measuring = true
    val m0 = Clock.now
    w.run(units)
    val measuredS = (Clock.now - m0) / 1e9
    ctx.measuring = false
    val v0 = Clock.now
    w.verify()
    log(s"measured ${measuredS}s, verified in ${(Clock.now - v0) / 1e9}s")

    val shape = ctx.shape(w.dir)
    val loads = (0 until 5).map(_ => ctx.timeLoad(w.dir))
    (Report(ctx, w, workload, seed, seconds, units, trace,
      sessionStartS, buildS, warmupS, measuredS, shape, loads), ctx.tracer.spans.toSeq)
  }
}

/** Turns the operation log into the result document. */
object Report {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val p = q * (s.size - 1)
    val lo = math.floor(p).toInt
    val hi = math.ceil(p).toInt
    s(lo) + (s(hi) - s(lo)) * (p - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def metric(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "n" -> n)

  /** p50 always; p90 only when at least ten samples lie beyond it. */
  private def latency(out: mutable.LinkedHashMap[String, Any], prefix: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      out(s"${prefix}_p50_s") = metric(median(xs), "s", xs.size)
      if (xs.size >= 100) out(s"${prefix}_p90_s") = metric(quantile(xs, 0.9), "s", xs.size)
    }

  def apply(ctx: Ctx, w: Workload, workload: String, seed: Long, seconds: Double, units: Int,
            trace: Boolean, sessionStartS: Double, buildS: Seq[Double], warmupS: Double,
            measuredS: Double, shape: Map[String, Double], loads: Seq[Double]): Map[String, Any] = {
    val ok = ctx.ops.filter(_.ok)
    val walls = ok.map(_.wallS).toSeq
    val byKind = ok.groupBy(_.kind).toSeq.sortBy(_._1)

    val e2e = mutable.LinkedHashMap.empty[String, Any]
    e2e("setup_s") = metric(sessionStartS + median(buildS) + warmupS, "s", buildS.size)
    latency(e2e, "op", walls)
    // completed operations per second of timed wall time
    e2e("ops_per_s") = metric(if (walls.isEmpty) 0.0 else walls.size / walls.sum, "1/s", walls.size)
    e2e("fail_ratio") = metric(ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio",
      ctx.attempted.toInt)
    e2e("stored_bytes_per_row") = metric(shape("storage_bytes") / math.max(1L, w.liveRows),
      "B/row", 1)
    byKind.foreach { case (k, rs) => latency(e2e, k, rs.map(_.wallS).toSeq) }
    val scans = ok.filter(_.facts.contains("input_rows"))
    if (scans.nonEmpty)
      e2e("scan_rows_per_s") = metric(scans.map(_.facts("input_rows")).sum / scans.map(_.wallS).sum,
        "rows/s", scans.size)

    val layers = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val n = ok.size
      def perOp(k: String) = f(ok, k).sum / math.max(1, n)
      layers("trace.op_p50_s") = metric(median(walls), "s", n)
      layers("table.load_s") = metric(median(loads), "s", loads.size)
      layers("table.entry_bytes") = metric(shape("entry_bytes"), "B", 1)
      layers("table.log_bytes") = metric(shape("log_bytes"), "B", 1)
      layers("table.data_dirs") = metric(shape("data_dirs"), "count", 1)
      layers("table.delete_files") = metric(shape("delete_files"), "count", 1)
      layers("table.files_scanned") = metric(perOp("files_scanned"), "count/op", n)
      val out = f(ok, "result_rows").sum + f(ok, "rows_changed").sum
      layers("table.rows_examined_per_row") = metric(f(ok, "rows_scanned").sum / math.max(1.0, out),
        "ratio", n)
      // Catalyst phases come in whole milliseconds: means, not medians, so
      // a figure never reads the same by quantization alone
      layers("catalog.plan_s") = metric(perOp("plan_s"), "s/op", n)
      Seq("analysis", "optimization", "planning").foreach(p =>
        layers(s"catalog.${p}_s") = metric(perOp(s"${p}_s"), "s/op", n))
      layers("catalog.scan_relations") = metric(perOp("scan_relations"), "count/op", n)
      Seq("jobs", "stages", "tasks").foreach(k => layers(s"spark.$k") = metric(perOp(k), "count/op", n))
      Seq("task_cpu_s", "gc_s", "task_wait_s").foreach(k => layers(s"spark.$k") = metric(perOp(k), "s/op", n))
      Seq("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes").foreach(k =>
        layers(s"spark.$k") = metric(perOp(k), "B/op", n))
      layers("spark.peak_exec_mem_mb") = metric(f(ok, "peak_exec_mem_mb").max, "MB", n)
      layers("spark.outside_jobs_s") = metric(median(f(ok, "outside_jobs_s")), "s", n)
      layers("storage.bytes") = metric(shape("storage_bytes"), "B", 1)
      layers("storage.files") = metric(shape("storage_files"), "count", 1)
      val self = ctx.tracer.selfTimes(ok.map(_.id).toSet)
      Seq("bench", "catalog", "spark", "dml", "table", "storage").foreach { l =>
        if (self.contains(l)) layers(s"self.${l}_s") = metric(self(l) / math.max(1, n), "s/op", n)
      }
      val dml = ok.filter(_.facts.contains("rows_changed"))
      if (dml.nonEmpty) {
        layers("dml.plan_s") = metric(f(dml, "plan_s").sum / dml.size, "s/op", dml.size)
        layers("dml.exec_s") = metric(f(dml, "exec_s").sum / dml.size, "s/op", dml.size)
        layers("dml.jobs_per_op") = metric(f(dml, "jobs").sum / dml.size, "count/op", dml.size)
        layers("dml.bytes_written_per_op") = metric(f(dml, "bytes_written").sum / dml.size, "B/op", dml.size)
        layers("dml.rows_written_per_row_changed") = metric(
          f(dml, "records_written").sum / f(dml, "rows_changed").sum, "ratio", dml.size)
      }
      byKind.filter(_._1.startsWith("ext_")).foreach { case (k, rs) =>
        val op = k.stripPrefix("ext_")
        layers(s"ext.${op}_s") = metric(median(rs.map(_.wallS).toSeq), "s", rs.size)
        layers(s"ext.${op}_cpu_s") = metric(f(rs, "task_cpu_s").sum / rs.size, "s/op", rs.size)
        layers(s"ext.${op}_shuffle_bytes") = metric(
          f(rs, "shuffle_write_bytes").sum / rs.size, "B/op", rs.size)
      }
    }

    val growth = w match {
      case a: AppendLookup =>
        a.growth.toSeq.map { case (cycle, dirs, entry, load) =>
          val plans = ok.filter(o => o.kind == "lookup" && o.facts.get("cycle").contains(cycle.toDouble))
          Map("cycle" -> cycle, "data_dirs" -> dirs, "entry_bytes" -> entry, "load_s" -> load,
            "lookup_plan_s" -> (if (plans.isEmpty) -1.0 else median(f(plans, "plan_s"))))
        }
      case _ => Nil
    }

    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> (if (trace) 1 else 0),
      "seconds" -> seconds, "units" -> units, "measured_s" -> measuredS,
      "env" -> Map("cores" -> Runtime.getRuntime.availableProcessors, "local" -> s"local[${Main.cores}]",
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark" -> ctx.spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version")),
      "shape" -> (shape ++ Map("live_rows" -> w.liveRows.toDouble)),
      "session_start_s" -> sessionStartS, "build_s" -> buildS, "warmup_s" -> warmupS,
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "e2e" -> e2e, "layers" -> layers, "growth" -> growth,
      "ops" -> ctx.ops.map(o => Seq(o.kind, o.wallS, o.ok)))
  }

  /** One fact of each operation, 0 where it was not recorded. */
  private def f(rs: Iterable[OpRec], k: String): Seq[Double] = rs.map(_.facts.getOrElse(k, 0.0)).toSeq
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity == 0 => "[]"
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
