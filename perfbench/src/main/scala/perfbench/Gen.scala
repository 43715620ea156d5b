package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic inputs. Base tables and the document corpus are pure
  * functions of a fixed data seed and their keys, so the same rows can be
  * produced by Spark tasks (to load the engine and to build the vanilla
  * reference) and by the driver (to keep the shadow model). The workload
  * seed only picks the operation stream: keys, batches, literals, edits. */
object Gen {
  val DataSeed = 0x5eedL

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def h(a: Long, b: Long, c: Long = 0L): Long =
    mix(mix(mix(DataSeed ^ a) ^ b) ^ c)
  def pick(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  // ---- TPC-H-like tables: customer, orders, lineitem -------------------

  /** Table sizes. Lines per order are fixed at 4 in the base data; new
    * keys written by the ingest workload take line numbers 5 to 8. */
  final case class Sizes(customers: Int, orders: Int)
  val BaseLines = 4
  val MaxLines = 8

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val Flags = Array("A", "N", "R")
  val OrderStatus = Array("O", "F", "P")
  val DayMs = 86400000L
  val Epoch92 = 694224000000L // 1992-01-01T00:00:00Z
  val DateDays = 2400

  def day(d: Int): Timestamp = new Timestamp(Epoch92 + d * DayMs)

  val customerSchema = StructType(Seq(
    StructField("custkey", LongType, nullable = false),
    StructField("name", StringType),
    StructField("nationkey", IntegerType),
    StructField("acctbal", DoubleType),
    StructField("mktsegment", StringType)))
  val ordersSchema = StructType(Seq(
    StructField("orderkey", LongType, nullable = false),
    StructField("custkey", LongType),
    StructField("orderstatus", StringType),
    StructField("totalprice", DoubleType),
    StructField("orderdate", TimestampType),
    StructField("orderpriority", StringType)))
  val lineitemSchema = StructType(Seq(
    StructField("orderkey", LongType, nullable = false),
    StructField("linenumber", IntegerType, nullable = false),
    StructField("partkey", LongType),
    StructField("suppkey", LongType),
    StructField("quantity", DoubleType),
    StructField("extendedprice", DoubleType),
    StructField("discount", DoubleType),
    StructField("tax", DoubleType),
    StructField("returnflag", StringType),
    StructField("linestatus", StringType),
    StructField("shipdate", TimestampType)))

  val CustomerDdl = "CREATE TABLE customer (custkey BIGINT NOT NULL, " +
    "name VARCHAR, nationkey INTEGER, acctbal DOUBLE, mktsegment VARCHAR " +
    "CONSTRAINT pk PRIMARY KEY (custkey))"
  val OrdersDdl = "CREATE TABLE orders (orderkey BIGINT NOT NULL, " +
    "custkey BIGINT, orderstatus VARCHAR, totalprice DOUBLE, " +
    "orderdate DATE, orderpriority VARCHAR " +
    "CONSTRAINT pk PRIMARY KEY (orderkey))"
  val LineitemDdl = "CREATE TABLE lineitem (orderkey BIGINT NOT NULL, " +
    "linenumber INTEGER NOT NULL, partkey BIGINT, suppkey BIGINT, " +
    "quantity DOUBLE, extendedprice DOUBLE, discount DOUBLE, tax DOUBLE, " +
    "returnflag VARCHAR, linestatus VARCHAR, shipdate DATE " +
    "CONSTRAINT pk PRIMARY KEY (orderkey, linenumber))"

  def cents(x: Long, lo: Int, span: Int): Double =
    (lo * 100L + pick(x, span * 100)) / 100.0

  def customer(ck: Long): Row = Row(ck, f"Customer#$ck%09d",
    pick(h(1, ck), 25), cents(h(2, ck), -999, 10999),
    Segments(pick(h(3, ck), Segments.length)))

  def orderDate(ok: Long): Int = pick(h(12, ok), DateDays - 200)
  def orderPriority(ok: Long): String =
    Priorities(pick(h(13, ok), Priorities.length))
  def order(ok: Long, s: Sizes): Row = Row(ok,
    1L + pick(h(10, ok), s.customers),
    OrderStatus(pick(h(11, ok), 3)),
    cents(h(14, ok), 800, 400000), day(orderDate(ok)), orderPriority(ok))

  /** A lineitem row; `salt` 0 gives the base row, any other salt a
    * seeded rewrite of the same key. */
  def line(ok: Long, ln: Int, salt: Long = 0L): Row = {
    def r(i: Int) = h(20 + i, ok, ln * 1000003L + salt)
    val qty = (1 + pick(r(0), 50)).toDouble
    val price = math.round(qty * (900 + pick(r(1), 10000) / 10.0) * 100) / 100.0
    val ship = orderDate(ok) + 1 + pick(r(2), 120)
    Row(ok, ln, 1L + pick(r(3), 20000), 1L + pick(r(4), 1000), qty, price,
      pick(r(5), 11) / 100.0, pick(r(6), 9) / 100.0,
      if (ship < 1200) Flags(pick(r(7), 2) * 2) else "N",
      if (ship < 1200) "F" else "O", day(ship))
  }

  def customers(spark: SparkSession, s: Sizes): DataFrame =
    spark.createDataFrame(spark.sparkContext
      .range(1, s.customers + 1L, 1, 4).map(customer), customerSchema)
  def orders(spark: SparkSession, s: Sizes): DataFrame = {
    val sizes = s
    spark.createDataFrame(spark.sparkContext
      .range(1, s.orders + 1L, 1, 8).map(order(_, sizes)), ordersSchema)
  }
  def lineitems(spark: SparkSession, s: Sizes): DataFrame =
    spark.createDataFrame(spark.sparkContext
      .range(1, s.orders + 1L, 1, 8)
      .flatMap(ok => (1 to BaseLines).map(line(ok, _))), lineitemSchema)

  // ---- document corpus ---------------------------------------------------

  val Vocab = Array("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "vector", "join", "index", "cache", "plan", "shuffle",
    "task", "stage", "split", "block", "page", "field", "record", "token",
    "graph", "node", "edge", "tree", "heap", "queue", "map", "set", "list")

  /** Base document `i`: 12 to 71 words drawn uniformly from the
    * vocabulary (the shape of the engine's `documents` fixture). */
  def baseText(i: Int): String =
    (0 until 12 + pick(h(40, i), 60))
      .map(j => Vocab(pick(h(41, i, j), Vocab.length))).mkString(" ")

  private val Band = "abcdefghijklmnopqrst"
  /** Replica `r` of a text: letters a..t rotated by r within that band
    * (the scale-rehearsal scheme), so replicas share no shingles. */
  def rotate(text: String, r: Int): String =
    if (r == 0) text
    else text.map { c =>
      val k = Band.indexOf(c.toInt)
      if (k < 0) c else Band.charAt((k + r) % Band.length)
    }

  val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))
}
