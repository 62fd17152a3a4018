package graftbench

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic input generator. Every value is a pure function of
  * (seed, stream, index), so the driver-side models the correctness
  * checks use can recompute any row without storing it, and the same
  * seed always yields the same tables and the same operation order. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) ^ i)

  /** Uniform in [0, n). */
  def pick(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(seed, stream, i), n.toLong).toInt

  val words: Array[String] = Array("quick", "final", "bold", "regular", "ironic",
    "silent", "pending", "express", "careful", "furious", "even", "special",
    "daring", "blithe", "unusual", "fluffy", "sly", "ruthless", "idle",
    "busy", "thin", "close", "dogged", "ready", "packages", "deposits",
    "requests", "accounts", "theodolites", "pinto", "beans", "foxes",
    "ideas", "instructions", "platelets", "asymptotes", "courts", "dolphins")

  def text(seed: Long, stream: Long, i: Long, nWords: Int): String = {
    val sb = new StringBuilder
    var w = 0
    while (w < nWords) {
      if (w > 0) sb.append(' ')
      sb.append(words(pick(seed, stream * 131 + w, i, words.length)))
      w += 1
    }
    sb.toString
  }

  def dec(unscaled: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(unscaled, 2)

  private val day0 = LocalDate.of(1992, 1, 1).toEpochDay

  // ---- orders ---------------------------------------------------------

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  val ordersDdl: String =
    "o_orderkey BIGINT NOT NULL, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DECIMAL(12,2), o_orderdate DATE, o_orderpriority STRING, " +
      "o_clerk STRING, o_shippriority INT, o_comment STRING"

  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Array("F", "O", "P")

  /** Version `ver` of order `key` (0 = the row as first generated; a
    * MERGE writes a later version, so its values differ). */
  def order(seed: Long, key: Long, ver: Int = 0): Row = {
    val s = 100L + ver * 16
    Row(key,
      1L + pick(seed, s + 1, key, 15000),
      statuses(pick(seed, s + 2, key, statuses.length)),
      dec(90000L + pick(seed, s + 3, key, 50000000)),
      LocalDate.ofEpochDay(day0 + pick(seed, 5, key, 2400)),
      priorities(pick(seed, s + 4, key, priorities.length)),
      "Clerk#" + (1000000001 + pick(seed, s + 5, key, 1000)).toString.substring(1),
      pick(seed, s + 6, key, 3),
      text(seed, s + 7, key, 4 + pick(seed, s + 8, key, 5)))
  }

  // ---- lineitem (rows come from Data.lineitem) ----------------------

  val lineitemDdl: String =
    "l_orderkey BIGINT NOT NULL, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity INT, l_extendedprice DECIMAL(12,2), " +
      "l_discount DECIMAL(4,2), l_tax DECIMAL(4,2), l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate DATE, l_shipmode STRING, l_comment STRING"

  val shipModes: Array[String] = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  // ---- events ---------------------------------------------------------

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DecimalType(12, 2)),
    StructField("props", StringType)))

  val eventsDdl: String =
    "event_id BIGINT NOT NULL, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DECIMAL(12,2), props STRING"

  private val eventTypes = Array("view", "click", "cart", "purchase", "share", "search")

  /** Event number `seq`. The high bits of the id are random, so every
    * commit's id range spans nearly the whole key space: min/max bounds
    * cannot prune a point lookup, the bloom sidecars must. The low 24 bits
    * keep ids unique. */
  def eventId(seed: Long, seq: Long): Long =
    (h(seed, 300, seq) & 0x7FFFFFFFFF000000L) | seq

  def event(seed: Long, seq: Long): Row =
    Row(eventId(seed, seq),
      Instant.ofEpochSecond(1700000000L + seq * 7 + pick(seed, 301, seq, 7)),
      1L + pick(seed, 302, seq, 10000),
      eventTypes(pick(seed, 303, seq, eventTypes.length)),
      dec(pick(seed, 304, seq, 1000000).toLong),
      s"src=${pick(seed, 305, seq, 9)};page=${pick(seed, 306, seq, 500)}")
}
