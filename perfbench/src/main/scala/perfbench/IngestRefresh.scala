package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.sources.{GraftCatalog, PhoenixSql}

/** The base tables as generated rows, registered as `raw_<table>` views:
  * the source the engine loads from and the vanilla reference reads. */
final class TpchInput(ctx: Ctx, sizes: Gen.Sizes) {
  private val spark = ctx.spark
  Seq("customer" -> Gen.customers(spark, sizes),
    "orders" -> Gen.orders(spark, sizes),
    "lineitem" -> Gen.lineitems(spark, sizes)).foreach { case (t, df) =>
      df.createOrReplaceTempView(s"raw_$t")
    }

  /** Creates the three tables with plain DDL and loads them through
    * UPSERT ... SELECT; returns the front end over the new warehouse. */
  def load(wh: File): PhoenixSql = {
    val px = new PhoenixSql(spark, new GraftCatalog(spark, wh.getPath))
    Seq(Gen.CustomerDdl, Gen.OrdersDdl, Gen.LineitemDdl).foreach(px.execute)
    Seq("customer", "orders", "lineitem").foreach(t =>
      px.execute(s"UPSERT INTO $t SELECT * FROM raw_$t"))
    px
  }
}

/** `ingest_refresh`: write cycles beside two maintained views, each cycle
  * read back and checked against a shadow model of the tables. */
final class IngestRefresh(ctx: Ctx) extends Workload {
  import IngestRefresh._
  private val spark = ctx.spark
  private val input = new TpchInput(ctx, Sizes)
  private val seed = ctx.rng0
  val digest: String = Digest.of((0 until 32).map(c => cycle(seed, c).toString))
  private var px: PhoenixSql = _
  private var wh: File = _
  private var shadow: Shadow = _
  private var lastWork = 0.0
  private val failures = mutable.ArrayBuffer[String]()
  private val writes = mutable.ArrayBuffer[(Long, Long, Long)]() // user B, added B, files
  private val reclaimed = mutable.ArrayBuffer[Double]()

  /** The view contents over the base rows, computed once in the driver
    * from the generator; every set-up starts its shadow from them. */
  private val baseAggs = {
    val flag = mutable.HashMap[String, (Long, Double)]()
    val prio = mutable.HashMap[String, (Long, Double)]()
    def add(m: mutable.HashMap[String, (Long, Double)], g: String, q: Double) = {
      val (n, s) = m.getOrElse(g, (0L, 0.0))
      m(g) = (n + 1, s + q)
    }
    for (o <- 1L to Sizes.orders; l <- 1 to Gen.BaseLines) {
      val r = Gen.line(o, l)
      add(flag, r.getString(8), r.getDouble(4))
      add(prio, Gen.orderPriority(o), r.getDouble(4))
    }
    (flag.toMap, prio.toMap)
  }

  def unitWork: Double = lastWork

  def setup(dir: File): Unit = {
    px = input.load(dir)
    wh = dir
    px.execute(FlagMv)
    px.execute(PrioMv)
    shadow = new Shadow(Sizes, baseAggs._1, baseAggs._2)
    // warm-up: one full cycle from a stream independent of the seed
    runCycle(cycle(Gen.mix(42), 0).copy(compact = true), -1, traced = false)
  }

  def unit(i: Int, traced: Boolean): Boolean = runCycle(cycle(seed, i), i, traced)

  private def fail(msg: String): Unit = failures += msg

  /** One cycle; `i` < 0 is the warm-up (no samples, no checks kept). */
  private def runCycle(c: Cycle, i: Int, traced: Boolean): Boolean = {
    val t = ctx.tracer
    def timed(cls: String, sql: String)(f: OpRec => Unit): Boolean =
      if (i < 0) { f(new OpRec(-1, cls, false)); true }
      else t.op(cls, traced, Some(sql))(f).isDefined
    val lineDir = new File(wh, "lineitem")
    var ok = true
    val t0 = System.nanoTime()

    // 1. a batch upsert: updates of existing keys and new keys
    spark.createDataFrame(spark.sparkContext.parallelize(c.batch, 1),
      Gen.lineitemSchema).createOrReplaceTempView("perfbench_batch")
    val before = if (traced) Sql.du(lineDir) else (0L, 0L)
    val batchSql = "UPSERT INTO lineitem SELECT * FROM perfbench_batch"
    if (timed("upsert_batch", batchSql)(Sql.exec(ctx, px, _, batchSql))) {
      c.batch.foreach(shadow.upsert)
      if (traced) {
        val after = Sql.du(lineDir)
        writes += ((c.batch.map(userBytes).sum, after._1 - before._1,
          after._2 - before._2))
      }
    } else ok = false
    // 2. single-row upserts
    c.rows.foreach { row =>
      val sql = s"UPSERT INTO lineitem VALUES (${values(row)})"
      if (timed("upsert_row", sql)(Sql.exec(ctx, px, _, sql))) shadow.upsert(row)
      else ok = false
    }
    // 3. a PK-range delete of about 100 orders' lines
    val delSql = s"DELETE FROM lineitem WHERE orderkey BETWEEN ${c.delLo} AND ${c.delHi}"
    var deleted = 0
    if (timed("delete", delSql)(Sql.exec(ctx, px, _, delSql)))
      deleted = shadow.delete(c.delLo, c.delHi)
    else ok = false
    // 4. orders with a changed priority (moves rows between join-view groups)
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.orders.map { case (k, p) => orderRow(k, p) }, 1), Gen.ordersSchema)
      .createOrReplaceTempView("perfbench_side")
    val sideSql = "UPSERT INTO orders SELECT * FROM perfbench_side"
    if (timed("upsert_side", sideSql)(Sql.exec(ctx, px, _, sideSql)))
      c.orders.foreach { case (k, p) => shadow.reprioritise(k, p) }
    else ok = false
    // 5. refresh both views, read both back
    Seq("refresh_single" -> "REFRESH MATERIALIZED VIEW mv_flag",
      "refresh_join" -> "REFRESH MATERIALIZED VIEW mv_prio").foreach {
        case (cls, sql) => if (!timed(cls, sql)(Sql.exec(ctx, px, _, sql))) ok = false
      }
    var reads = Seq.empty[Array[Row]]
    Seq(FlagRead, PrioRead).foreach { sql =>
      if (!timed("mv_read", sql)(rec => reads :+= Sql.select(ctx, px, rec, sql)))
        ok = false
    }
    val freshMs = (System.nanoTime() - t0) / 1e6
    // 6. read-your-writes: a key written in this cycle
    val (lk, ll) = c.lookup
    val lookSql = s"SELECT * FROM lineitem WHERE orderkey = $lk AND linenumber = $ll"
    var looked = Array.empty[Row]
    if (!timed("lookup", lookSql)(rec => looked = Sql.select(ctx, px, rec, lookSql)))
      ok = false
    // 7. every fifth cycle compacts the base table
    if (c.compact) {
      val b = if (traced) Sql.du(lineDir)._1 else 0L
      if (timed("compact", "COMPACT TABLE lineitem")(
          Sql.exec(ctx, px, _, "COMPACT TABLE lineitem"))) {
        if (traced) reclaimed += (b - Sql.du(lineDir)._1).toDouble
      } else ok = false
    }

    if (i >= 0) {
      ctx.sample(if (ok) Some(freshMs) else None, traced)
      lastWork = c.batch.size + c.rows.size + deleted + c.orders.size
      // checks are untimed and only meaningful when every write landed
      if (ok) {
        val got = if (ctx.args.corrupt && i == 0) corrupted(looked) else looked
        Compare.rows(got.toSeq, shadow.get((lk, ll)).toSeq)
          .foreach(d => fail(s"cycle $i lookup ($lk,$ll): $d"))
        Compare.rows(reads(0).toSeq, shadow.flagRows)
          .foreach(d => fail(s"cycle $i mv_flag read: $d"))
        Compare.rows(reads(1).toSeq, shadow.prioRows)
          .foreach(d => fail(s"cycle $i mv_prio read: $d"))
      }
    }
    ok
  }

  /** End of run: both view reads and COUNT/SUM over lineitem match the
    * shadow tables rebuilt in plain Spark. */
  def check(): Seq[String] = {
    import org.apache.spark.sql.functions._
    val touched = shadow.touchedRows
    val keys = spark.createDataFrame(spark.sparkContext.parallelize(
      touched.keys.toSeq.map { case (o, l) => Row(o, l) }, 1),
      org.apache.spark.sql.types.StructType(Gen.lineitemSchema.take(2)))
    spark.table("raw_lineitem").join(keys, Seq("orderkey", "linenumber"),
        "left_anti")
      .unionByName(spark.createDataFrame(spark.sparkContext.parallelize(
        touched.values.flatten.toSeq, 1), Gen.lineitemSchema))
      .createOrReplaceTempView("shadow_lineitem")
    val pr = shadow.priorities.toSeq
    val prDf = spark.createDataFrame(spark.sparkContext.parallelize(
      pr.map { case (k, p) => Row(k, p) }, 1),
      org.apache.spark.sql.types.StructType(Seq(Gen.ordersSchema(0),
        Gen.ordersSchema(5).copy(name = "newpriority"))))
    spark.table("raw_orders").join(prDf, Seq("orderkey"), "left")
      .withColumn("orderpriority", coalesce(col("newpriority"), col("orderpriority")))
      .drop("newpriority").createOrReplaceTempView("shadow_orders")
    def shadowSql(sql: String) = spark.sql(
      "\\b(lineitem|orders)\\b".r.replaceAllIn(sql, "shadow_$1")).collect().toSeq
    val totals = "SELECT COUNT(*) AS n, SUM(quantity) AS q FROM lineitem"
    failures.toSeq ++ Seq(totals, FlagRead, PrioRead).flatMap { sql =>
      Compare.rows(px.execute(sql).collect().toSeq, shadowSql(sql))
        .map(d => s"end of run: $sql: $d")
    }
  }

  def metrics(r: Report, loopSecs: Double): Unit = {
    r.add("fresh_p50_ms", Report.finite(Stats.median(ctx.samples.map(_._1).toSeq)),
      "ms", s"n=${ctx.samples.size} pct=50")
    val ops = ctx.tracer.ops
    Seq("upsert_batch" -> "upsert_p50_ms", "upsert_row" -> "upsert_row_p50_ms",
      "upsert_side" -> "upsert_side_p50_ms", "delete" -> "delete_p50_ms",
      "refresh_single" -> "refresh_single_p50_ms",
      "refresh_join" -> "refresh_join_p50_ms", "mv_read" -> "mv_read_p50_ms",
      "lookup" -> "lookup_p50_ms", "compact" -> "compact_p50_ms").foreach {
        case (cls, name) =>
          val xs = ops.filter(_.cls == cls).map(o =>
            if (o.ok) o.wallMs else Double.PositiveInfinity).toSeq
          r.latency(name, xs)
          r.tail(cls, xs)
      }
  }

  def layerMetrics(r: Report): Unit = {
    val cat = px.catalog
    // the live snapshot, written once as parquet: the space baseline
    val live = new File(ctx.args.runDir, "live")
    Seq("lineitem", "orders", "customer").foreach(t =>
      px.execute(s"SELECT * FROM $t").write.mode("overwrite")
        .parquet(new File(live, t).getPath))
    r.add("space_amp", Sql.du(wh)._1.toDouble / Sql.du(live)._1, "ratio")
    if (writes.nonEmpty) {
      r.add("catalog.write_amp", Stats.median(writes.map(w => w._2.toDouble / w._1).toSeq),
        "ratio", s"n=${writes.size} pct=50")
      r.add("catalog.files_per_write", Stats.median(writes.map(_._3.toDouble).toSeq),
        "count", s"n=${writes.size} pct=50")
    }
    r.add("catalog.log_rows", cat.changeLog("lineitem").count().toDouble, "count")
    val collapse = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      cat.snapshot("lineitem").queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e6
    }
    r.add("catalog.collapse_ms", Stats.median(collapse), "ms", "n=3 pct=50")
    // a loop too short to reach a compacting cycle gets one compaction
    // probe here, after the checks, so the layer still has a number
    if (!ctx.tracer.ops.exists(_.cls == "compact")) {
      val b = Sql.du(new File(wh, "lineitem"))._1
      if (ctx.tracer.op("compact")(Sql.exec(ctx, px, _, "COMPACT TABLE lineitem")).isDefined)
        reclaimed += (b - Sql.du(new File(wh, "lineitem"))._1).toDouble
    }
    val compacts = ctx.tracer.ops.filter(o => o.cls == "compact")
    if (compacts.nonEmpty)
      r.latency("catalog.compact_ms", compacts.map(o =>
        if (o.ok) o.wallMs else Double.PositiveInfinity).toSeq)
    if (reclaimed.nonEmpty)
      r.add("catalog.compact_bytes_reclaimed", Stats.median(reclaimed.toSeq), "B",
        s"n=${reclaimed.size} pct=50")
    val (sb, sf) = Sql.du(new File(wh, "_mv"))
    r.add("ivm.state_bytes", sb.toDouble, "B")
    r.add("ivm.state_files", sf.toDouble, "count")
    PerLayer.fromOps(r, ctx)
  }
}

/** What one cycle writes, drawn from the seed alone (never from the
  * engine's state), so a seed always yields the same stream. */
final case class Cycle(batch: Seq[Row], rows: Seq[Row], delLo: Long,
    delHi: Long, orders: Seq[(Long, String)], lookup: (Long, Int),
    compact: Boolean)

object IngestRefresh {
  val Sizes = Gen.Sizes(customers = 1000, orders = 5000)
  val BatchRows = 2000
  val SingleRows = 4
  val DeleteOrders = 100
  val SideRows = 50
  val CompactEvery = 5

  val FlagMv = "CREATE MATERIALIZED VIEW mv_flag AS SELECT returnflag, " +
    "COUNT(*), SUM(quantity) FROM lineitem GROUP BY returnflag"
  val PrioMv = "CREATE MATERIALIZED VIEW mv_prio AS SELECT orderpriority, " +
    "COUNT(*), SUM(quantity) FROM lineitem JOIN orders " +
    "ON lineitem.orderkey = orders.orderkey GROUP BY orderpriority"
  val FlagRead = "SELECT returnflag, COUNT(*) AS n, SUM(quantity) AS q " +
    "FROM lineitem GROUP BY returnflag"
  val PrioRead = "SELECT orderpriority, COUNT(*) AS n, SUM(quantity) AS q " +
    "FROM lineitem JOIN orders ON lineitem.orderkey = orders.orderkey " +
    "GROUP BY orderpriority"

  def cycle(seed: Long, c: Int): Cycle = {
    val rnd = new java.util.SplittableRandom(Gen.mix(seed + c))
    val salt = Gen.mix(seed ^ (c.toLong << 20)) | 1L
    def key(update: Boolean): (Long, Int) =
      (1L + rnd.nextInt(Sizes.orders),
        if (update) 1 + rnd.nextInt(Gen.BaseLines)
        else Gen.BaseLines + 1 + rnd.nextInt(Gen.MaxLines - Gen.BaseLines))
    val keys = mutable.LinkedHashSet[(Long, Int)]()
    while (keys.size < BatchRows) keys += key(rnd.nextInt(4) != 0)
    val batch = keys.toSeq.map { case (o, l) => Gen.line(o, l, salt) }
    val rows = (0 until SingleRows).map { j =>
      val (o, l) = key(rnd.nextInt(4) != 0)
      Gen.line(o, l, salt + 1 + j)
    }
    val lo = 1L + rnd.nextInt(Sizes.orders - DeleteOrders)
    val orders = mutable.LinkedHashSet[Long]()
    while (orders.size < SideRows) orders += 1L + rnd.nextInt(Sizes.orders)
    Cycle(batch, rows, lo, lo + DeleteOrders - 1,
      orders.toSeq.map(o => o -> Gen.Priorities(rnd.nextInt(Gen.Priorities.length))),
      keys.toSeq(rnd.nextInt(keys.size)), c % CompactEvery == CompactEvery - 1)
  }

  /** The self-test's deliberate corruption (`--corrupt`): an altered
    * lookup result the check must reject. */
  def corrupted(rs: Array[Row]): Array[Row] =
    if (rs.isEmpty) Array(Row(-1L))
    else rs.updated(0, Row.fromSeq(rs(0).toSeq.updated(4, rs(0).getDouble(4) + 1)))

  def orderRow(ok: Long, priority: String): Row = {
    val r = Gen.order(ok, Sizes)
    Row.fromSeq(r.toSeq.updated(5, priority))
  }

  /** Bytes of the user values in a row, as the row's fixed-width fields
    * plus its strings' UTF-8 lengths. */
  def userBytes(r: Row): Long = r.toSeq.map {
    case s: String => s.getBytes("UTF-8").length.toLong
    case _: java.lang.Integer => 4L
    case _ => 8L
  }.sum

  def values(r: Row): String = r.toSeq.map {
    case s: String => s"'$s'"
    case t: java.sql.Timestamp =>
      s"TIMESTAMP '${t.toInstant.toString.replace("T", " ").stripSuffix("Z")}'"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case x => x.toString
  }.mkString(", ")
}

/** The shadow model: base rows are a function of their key, so only the
  * keys the run touched are stored; the view contents are kept up to
  * date with every write. */
final class Shadow(sizes: Gen.Sizes, flag0: Map[String, (Long, Double)],
    prio0: Map[String, (Long, Double)]) {
  private val touched = mutable.HashMap[(Long, Int), Option[Row]]()
  private val prio = mutable.HashMap[Long, String]()
  private val flagAgg = mutable.HashMap[String, (Long, Double)]() ++= flag0
  private val prioAgg = mutable.HashMap[String, (Long, Double)]() ++= prio0

  def touchedRows: Map[(Long, Int), Option[Row]] = touched.toMap
  def priorities: Map[Long, String] = prio.toMap

  def get(k: (Long, Int)): Option[Row] = touched.getOrElse(k,
    if (k._1 >= 1 && k._1 <= sizes.orders && k._2 >= 1 && k._2 <= Gen.BaseLines)
      Some(Gen.line(k._1, k._2)) else None)
  private def priorityOf(ok: Long) = prio.getOrElse(ok, Gen.orderPriority(ok))

  private def bump(m: mutable.HashMap[String, (Long, Double)], g: String,
      sign: Int, q: Double): Unit = {
    val (n, s) = m.getOrElse(g, (0L, 0.0))
    m(g) = (n + sign, s + sign * q)
  }
  private def account(r: Row, sign: Int): Unit = {
    val q = r.getDouble(4)
    bump(flagAgg, r.getString(8), sign, q)
    bump(prioAgg, priorityOf(r.getLong(0)), sign, q)
  }

  def upsert(r: Row): Unit = {
    val k = (r.getLong(0), r.getInt(1))
    get(k).foreach(account(_, -1))
    account(r, 1)
    touched(k) = Some(r)
  }

  /** Deletes every line of orders lo..hi; returns the rows removed. */
  def delete(lo: Long, hi: Long): Int = {
    var n = 0
    for (o <- lo to hi; l <- 1 to Gen.MaxLines) get((o, l)).foreach { r =>
      account(r, -1)
      touched((o, l)) = None
      n += 1
    }
    n
  }

  def reprioritise(ok: Long, p: String): Unit = {
    val live = (1 to Gen.MaxLines).flatMap(l => get((ok, l)))
    live.foreach(account(_, -1))
    prio(ok) = p
    live.foreach(account(_, 1))
  }

  private def rows(m: mutable.HashMap[String, (Long, Double)]): Seq[Row] =
    m.toSeq.filter(_._2._1 > 0).map { case (g, (n, s)) => Row(g, n, s) }
  def flagRows: Seq[Row] = rows(flagAgg)
  def prioRows: Seq[Row] = rows(prioAgg)
}
