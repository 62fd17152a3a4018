package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.table.GraftTable

/** One workload. A fresh instance is built for every set-up repetition,
  * each under its own catalog namespace; the last one is measured. */
abstract class Workload(val ctx: Ctx, val ns: String) {
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed
  /** The table whose shape the result is stamped with. */
  def mainTable: String
  /** Writes the generated inputs to parquet under `inputs`, once per run
    * (untimed: generating data is the benchmark's work, not graft's). */
  def prepare(): Unit
  /** Builds the tables (timed as set-up, several times). */
  def build(): Unit
  /** Runs each kind of operation once on the built tables (timed as
    * set-up, once). */
  def warmup(): Unit
  /** The measured operations. `units` is the fixed operation count. */
  def run(units: Int): Unit
  /** End-of-run correctness checks (untimed). */
  def verify(): Unit
  /** Operation units per second of `--seconds`: the count is derived from
    * the requested run length and never from the clock, so every commit
    * runs the same operations and ends with the same table shape. */
  def unitsPerSecond: Double
  /** Live rows of the main table at the end. */
  def liveRows: Long
  def dir: String = ctx.tableDir(ns, mainTable)
  def inputs: String = s"${ctx.work}/inputs"

  /** A read through the catalog: planning (spark.sql to a materialized
    * executedPlan) and execution are separate spans. */
  def query(sql: String): Array[Row] = {
    val df = ctx.tracer.span("catalog", "plan") {
      val d = spark.sql(sql); d.queryExecution.executedPlan; d
    }
    val rows = ctx.tracer.span("spark", "execute")(df.collect())
    ctx.note("result_rows", rows.length)
    rows
  }

  /** A write statement through the catalog; spark.sql plans and runs it. */
  def statement(kind: String, sql: String): Unit =
    ctx.statementRan(ctx.tracer.span("dml", kind)(spark.sql(sql)).queryExecution)

  def view(name: String, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(name)

  def sameRows(a: Row, b: Row): Boolean = a.toSeq.map(String.valueOf) == b.toSeq.map(String.valueOf)
}

object Data {
  def orders(spark: SparkSession, seed: Long, from: Long, to: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(from, to + 1, 1, 4)
      .map(k => Gen.order(seed, k)), Gen.ordersSchema)

  /** About four lines per order, generated by Spark SQL expressions (600k
    * rows go through Row objects too slowly). */
  def lineitem(spark: SparkSession, seed: Long, orders: Long): DataFrame = {
    def pick(stream: Int, id: String, n: Int) = s"pmod(xxhash64(${seed}L, $stream, $id), $n)"
    val text = Gen.words.mkString(" ")
    spark.range(1, orders + 1, 1, 4).selectExpr("id AS k",
        s"date_add(DATE'1992-01-01', CAST(${pick(5, "id", 2400)} AS INT)) AS odate",
        s"explode(sequence(1, CAST(1 + ${pick(200, "id", 7)} AS INT))) AS ln")
      .selectExpr("k", "ln", "k * 8 + ln AS i", "odate")
      .selectExpr("k", "ln", "i", s"CAST(1 + ${pick(201, "i", 50)} AS INT) AS qty",
        s"date_add(odate, CAST(1 + ${pick(202, "i", 121)} AS INT)) AS ship")
      .selectExpr(
        "k AS l_orderkey",
        s"1 + ${pick(203, "i", 20000)} AS l_partkey",
        s"1 + ${pick(204, "i", 1000)} AS l_suppkey",
        "ln AS l_linenumber",
        "qty AS l_quantity",
        s"CAST(CAST(qty * (90000 + ${pick(205, "i", 10000000)}) AS DECIMAL(20,0)) / 100 " +
          "AS DECIMAL(12,2)) AS l_extendedprice",
        s"CAST(CAST(${pick(206, "i", 11)} AS DECIMAL(4,0)) / 100 AS DECIMAL(4,2)) AS l_discount",
        s"CAST(CAST(${pick(207, "i", 9)} AS DECIMAL(4,0)) / 100 AS DECIMAL(4,2)) AS l_tax",
        s"element_at(array('A','N','R'), CAST(1 + ${pick(208, "i", 3)} AS INT)) AS l_returnflag",
        "IF(ship > DATE'1997-06-23', 'O', 'F') AS l_linestatus",
        "ship AS l_shipdate",
        s"element_at(array(${Gen.shipModes.map(m => s"'$m'").mkString(",")}), " +
          s"CAST(1 + ${pick(209, "i", 7)} AS INT)) AS l_shipmode",
        s"substr('$text', CAST(1 + ${pick(210, "i", text.length - 40)} AS INT), " +
          s"CAST(10 + ${pick(211, "i", 30)} AS INT)) AS l_comment")
  }

  def events(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(from, until, 1, 4)
      .map(i => Gen.event(seed, i)), Gen.eventsSchema)
}

object Workloads {
  val names: Seq[String] = Seq("dml_mix", "append_lookup", "analytic_scan")

  def make(name: String, ctx: Ctx, ns: String): Workload = name match {
    case "dml_mix" => new DmlMix(ctx, ns)
    case "append_lookup" => new AppendLookup(ctx, ns)
    case "analytic_scan" => new AnalyticScan(ctx, ns)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }
}

/** INSERT, MERGE, UPDATE and DELETE through spark.sql against a keyed
  * format-v2 orders table, checked against a driver-side model. */
final class DmlMix(ctx: Ctx, ns: String) extends Workload(ctx, ns) {
  val mainTable = "orders"
  val unitsPerSecond = 1.35
  private val table = s"graft.$ns.$mainTable"
  private val base = 150000L
  private val rnd = new scala.util.Random(seed)
  // the model: rows that differ from Gen.order(seed, k), and the live keys
  private val over = mutable.HashMap.empty[Long, Row]
  private val version = mutable.HashMap.empty[Long, Int]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  private var nextKey = base + 1

  private def current(k: Long): Row = over.getOrElse(k, Gen.order(seed, k))
  private def addLive(k: Long): Unit = { pos(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = pos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; pos(last) = i }
    over.remove(k)
  }
  private def pickLive(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += live(rnd.nextInt(live.size))
    s.toSeq
  }
  private def newKeys(n: Int): Seq[Long] = (0 until n).map { _ => nextKey += 1; nextKey - 1 }

  def prepare(): Unit = Data.orders(spark, seed, 1, base).write.parquet(s"$inputs/orders")

  def build(): Unit = {
    spark.sql(s"CREATE TABLE $table (${Gen.ordersDdl}) USING graft TBLPROPERTIES ('key'='o_orderkey')")
    GraftTable.load(spark, dir).upgradeFormat(2)
    statement("insert", s"INSERT INTO $table SELECT * FROM parquet.`$inputs/orders`")
    (1L to base).foreach(addLive)
  }

  /** One block of ten statements: JIT compilation still takes latencies
    * down by a sixth from the first block to the second. */
  def warmup(): Unit = run(10)

  /** Every block of ten statements holds three inserts, three merges, two
    * updates and two deletes. The order of kinds is fixed, so the table
    * passes through the same shapes (pending delete files, data dirs) for
    * every seed; the seed decides keys and row values. */
  def run(units: Int): Unit = {
    val block = Seq("insert", "merge", "update", "insert", "merge", "delete",
      "insert", "merge", "update", "delete")
    Iterator.continually(block).flatten.take(units).foreach(exec)
  }

  private def exec(kind: String): Unit = kind match {
    case "insert" =>
      val rows = newKeys(100).map(k => Gen.order(seed, k))
      view("dml_src", rows, Gen.ordersSchema)
      ctx.op(kind)(statement(kind, s"INSERT INTO $table SELECT * FROM dml_src")) { _ =>
        rows.foreach(r => addLive(r.getLong(0)))
        ctx.note("rows_changed", rows.size)
        true
      }
    case "merge" =>
      val matched = pickLive(50).map { k =>
        val v = version.getOrElse(k, 0) + 1
        (k, v, Gen.order(seed, k, v))
      }
      val inserted = newKeys(50).map(k => Gen.order(seed, k))
      view("dml_src", matched.map(_._3) ++ inserted, Gen.ordersSchema)
      ctx.op(kind)(statement(kind,
        s"MERGE INTO $table t USING dml_src s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")) { _ =>
        matched.foreach { case (k, v, r) => version(k) = v; over(k) = r }
        inserted.foreach(r => addLive(r.getLong(0)))
        ctx.note("rows_changed", matched.size + inserted.size)
        true
      }
    case "update" =>
      val keys = pickLive(20)
      ctx.op(kind)(statement(kind,
        s"UPDATE $table SET o_orderstatus = 'U', o_shippriority = o_shippriority + 1 " +
          s"WHERE o_orderkey IN (${keys.mkString(",")})")) { _ =>
        keys.foreach { k =>
          val r = current(k)
          over(k) = Row.fromSeq(r.toSeq.updated(2, "U").updated(7, r.getInt(7) + 1))
        }
        ctx.note("rows_changed", keys.size)
        true
      }
    case "delete" =>
      val keys = pickLive(20)
      ctx.op(kind)(statement(kind,
        s"DELETE FROM $table WHERE o_orderkey IN (${keys.mkString(",")})")) { _ =>
        keys.foreach(removeLive)
        ctx.note("rows_changed", keys.size)
        true
      }
  }

  def liveRows: Long = live.size.toLong

  def verify(): Unit = {
    val got = spark.sql(s"SELECT * FROM $table").collect()
    ctx.check(s"$table row count ${got.length} = model ${live.size}")(got.length == live.size)
    val byKey = got.iterator.map(r => r.getLong(0) -> r).toMap
    val bad = live.count(k => !byKey.get(k).exists(sameRows(_, current(k))))
    ctx.check(s"$table rows match the model ($bad differ)")(bad == 0)
  }
}

/** Small appends with point lookups by event_id interleaved and a
  * periodic count(*): the data dirs grow with every append. */
final class AppendLookup(ctx: Ctx, ns: String) extends Workload(ctx, ns) {
  val mainTable = "events"
  val unitsPerSecond = 0.95
  private val table = s"graft.$ns.$mainTable"
  private val initial = 20000L
  private val batch = 300
  private val rnd = new scala.util.Random(seed)
  private var rows = 0L
  /** (cycle, data dirs, newest entry bytes, load seconds) after each append
    * of a traced run. */
  val growth = mutable.ArrayBuffer.empty[(Int, Int, Long, Double)]

  def prepare(): Unit = Data.events(spark, seed, 0, initial).write.parquet(s"$inputs/events")

  def build(): Unit = {
    spark.sql(s"CREATE TABLE $table (${Gen.eventsDdl}) USING graft")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.bloom-keys'='event_id')")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.stats-keys'='ts')")
    statement("insert", s"INSERT INTO $table SELECT * FROM parquet.`$inputs/events`")
    rows = initial
  }

  def warmup(): Unit = cycle(-1)

  /** One unit is one cycle: an append, three lookups, and every fourth
    * cycle a count(*). */
  def run(units: Int): Unit = (0 until units).foreach(cycle)

  private def cycle(i: Int): Unit = {
    val add = (rows until rows + batch).map(s => Gen.event(seed, s))
    view("events_batch", add, Gen.eventsSchema)
    ctx.op("append")(statement("append", s"INSERT INTO $table SELECT * FROM events_batch")) { _ =>
      rows += batch
      ctx.note("rows_changed", batch)
      true
    }
    if (ctx.trace && i >= 0) {
      val snap = GraftTable.load(spark, dir).snapshot
      growth += ((i, snap.dataDirs.size, ctx.logBytes(dir)._1, ctx.timeLoad(dir)))
    }
    (0 until 3).foreach { _ =>
      val s = (rnd.nextDouble() * rows).toLong
      ctx.op("lookup")(query(s"SELECT * FROM $table WHERE event_id = ${Gen.eventId(seed, s)}")) {
        got =>
          ctx.note("cycle", i)
          got.length == 1 && sameRows(got(0), Gen.event(seed, s))
      }
    }
    if (i % 4 == 3) {
      val expect = rows
      ctx.op("count")(query(s"SELECT count(*) FROM $table"))(got => got(0).getLong(0) == expect)
    }
  }

  def liveRows: Long = rows

  def verify(): Unit = {
    val n = spark.sql(s"SELECT count(*), count(DISTINCT event_id) FROM $table").collect()(0)
    ctx.check(s"$table holds $rows distinct events")(n.getLong(0) == rows && n.getLong(1) == rows)
  }
}

/** Read-only SQL over lineitem and orders: each result is compared with
  * the same SQL over the raw parquet the tables were loaded from. */
final class AnalyticScan(ctx: Ctx, ns: String) extends Workload(ctx, ns) {
  val mainTable = "lineitem"
  val unitsPerSecond = 0.2
  private val nOrders = AnalyticScan.Orders
  private val v1Orders = nOrders - nOrders / 15
  private val rnd = new scala.util.Random(seed)
  private val results = mutable.HashMap.empty[String, Seq[String]]
  // about one order in 75 is upserted through an equality delete
  private def changedSql = s"parquet.`$inputs/changed`"
  private lazy val nLines = spark.read.parquet(s"$inputs/lineitem").count()
  private lazy val inputRows: Map[String, Long] = Map("agg" -> nLines, "join" -> (nLines + nOrders),
    "topk" -> nLines, "range" -> nLines, "timetravel" -> v1Orders, "mor" -> nOrders,
    "ext_simhash" -> nOrders)

  def prepare(): Unit = {
    Data.orders(spark, seed, 1, nOrders).write.parquet(s"$inputs/orders")
    Data.lineitem(spark, seed, nOrders).write.parquet(s"$inputs/lineitem")
    val s = seed
    spark.createDataFrame(spark.sparkContext.range(1, nOrders + 1, 1, 4)
      .filter(k => Gen.pick(s, 400, k, 75) == 0).map(k => Gen.order(s, k, 1)), Gen.ordersSchema)
      .write.parquet(s"$inputs/changed")
    graft.functions.TextSignatureFunctions.register(spark)
  }

  def build(): Unit = {
    spark.sql(s"CREATE TABLE graft.$ns.lineitem (${Gen.lineitemDdl}) USING graft " +
      "PARTITIONED BY (months(l_shipdate))")
    statement("insert", s"INSERT INTO graft.$ns.lineitem SELECT * FROM parquet.`$inputs/lineitem`")
    spark.sql(s"CREATE TABLE graft.$ns.orders (${Gen.ordersDdl}) USING graft")
    statement("insert", s"INSERT INTO graft.$ns.orders SELECT * FROM parquet.`$inputs/orders` " +
      s"WHERE o_orderkey <= $v1Orders")
    statement("insert", s"INSERT INTO graft.$ns.orders SELECT * FROM parquet.`$inputs/orders` " +
      s"WHERE o_orderkey > $v1Orders")
    GraftTable.create(spark, ctx.tableDir(ns, "orders_mor"), Gen.ordersSchema,
      key = Seq("o_orderkey"), formatVersion = 2)
      .append(spark.read.parquet(s"$inputs/orders"))
      .rowDelta(spark.read.parquet(s"$inputs/changed").select("o_orderkey"),
        spark.read.parquet(s"$inputs/changed"), Seq("o_orderkey"))
  }

  /** Two rounds: JIT compilation still takes the second round a sixth below
    * the first. */
  def warmup(): Unit = run(2)

  /** The query set, with parameters drawn from the seed. Templates name
    * tables as {L}, {O}, {O1} (orders at its first version) and {M}. */
  private lazy val queries: Seq[(String, String)] = {
    val r = new scala.util.Random(Gen.h(seed, 500, 0))
    val month = java.time.LocalDate.of(1993 + r.nextInt(5), 1 + r.nextInt(12), 1)
    val from = java.time.LocalDate.of(1993 + r.nextInt(5), 1 + r.nextInt(9), 1)
    val cut = java.time.LocalDate.of(1997, 1 + r.nextInt(12), 1)
    val mode = Gen.shipModes(r.nextInt(Gen.shipModes.length))
    Seq(
      "agg" -> ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, " +
        "sum(l_extendedprice) AS p, sum(l_extendedprice * (1 - l_discount)) AS dp, " +
        s"avg(l_discount) AS d, count(*) AS n FROM {L} WHERE l_shipdate <= DATE '$cut' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
      "join" -> ("SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS p " +
        "FROM {O} JOIN {L} ON o_orderkey = l_orderkey " +
        s"WHERE o_orderdate >= DATE '$from' AND o_orderdate < DATE '${from.plusMonths(3)}' " +
        "AND l_shipdate > date_add(o_orderdate, 30) GROUP BY 1 ORDER BY 1"),
      "topk" -> ("SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev " +
        s"FROM {L} WHERE l_shipmode = '$mode' GROUP BY l_orderkey " +
        "ORDER BY rev DESC, l_orderkey LIMIT 10"),
      "range" -> ("SELECT l_shipmode, count(*) AS n, sum(l_extendedprice * l_discount) AS r " +
        s"FROM {L} WHERE l_shipdate >= DATE '$month' AND l_shipdate < DATE '${month.plusMonths(1)}' " +
        "GROUP BY 1 ORDER BY 1"),
      "timetravel" -> ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS p " +
        "FROM {O1} GROUP BY 1 ORDER BY 1"),
      "mor" -> ("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS p, " +
        s"max(o_comment) AS c FROM {M} WHERE o_custkey % 7 = ${r.nextInt(7)} GROUP BY 1 ORDER BY 1"),
      "ext_simhash" -> ("SELECT o_orderpriority, count(DISTINCT simhash(split(o_comment, ' '))) " +
        s"AS s FROM {O} WHERE o_orderdate < DATE '$cut' GROUP BY 1 ORDER BY 1"))
  }

  private def bind(sql: String, graftTables: Boolean): String =
    if (graftTables) sql.replace("{L}", s"graft.$ns.lineitem").replace("{O1}", s"graft.$ns.orders VERSION AS OF 1")
      .replace("{O}", s"graft.$ns.orders").replace("{M}", s"graft.$ns.orders_mor")
    else sql.replace("{L}", s"parquet.`$inputs/lineitem`")
      .replace("{O1}", s"(SELECT * FROM parquet.`$inputs/orders` WHERE o_orderkey <= $v1Orders)")
      .replace("{O}", s"parquet.`$inputs/orders`")
      .replace("{M}", s"(SELECT * FROM parquet.`$inputs/orders` o LEFT ANTI JOIN $changedSql c " +
        s"USING (o_orderkey) UNION ALL SELECT * FROM $changedSql)")

  private def runQuery(kind: String, template: String): Unit =
    ctx.op(kind)(query(bind(template, graftTables = true))) { got =>
      val rendered = got.toSeq.map(_.toSeq.mkString("|"))
      ctx.note("input_rows", inputRows(kind))
      // every run of a query must return what its first run returned; the
      // first run itself is compared with raw parquet in verify()
      results.getOrElseUpdate(kind, rendered) == rendered
    }

  /** One unit is one round: every query once, in a seeded order. */
  def run(units: Int): Unit =
    (0 until units).foreach(_ => rnd.shuffle(queries).foreach { case (k, q) => runQuery(k, q) })

  def liveRows: Long = nLines

  def verify(): Unit = queries.foreach { case (kind, template) =>
    val expect = spark.sql(bind(template, graftTables = false)).collect().toSeq
      .map(_.toSeq.mkString("|"))
    ctx.check(s"$kind matches plain Spark over raw parquet")(
      results.get(kind).contains(expect) && expect.nonEmpty)
  }
}

object AnalyticScan {
  /** Orders rows; lineitem holds about four lines per order. */
  val Orders = 75000L
}
