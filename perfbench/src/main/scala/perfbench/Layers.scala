package perfbench

import org.apache.spark.sql.Row

import graft.sources.PhoenixSql

/** The per-layer metric set. Every traced run reports every name, so a
  * class a workload does not run reads 0 (no operations, no jobs). */
object PerLayer {
  /** (name, unit, better), kept to the metrics an optimisation is most
    * likely to move: the whole set has to fit one JSON line well under
    * 4 KB. */
  val spec: Seq[(String, String, String)] = Seq(
    ("lookup_p50_ms", "ms", "lower"),
    ("mv_read_p50_ms", "ms", "lower"),
    ("upsert_p50_ms", "ms", "lower"),
    ("delete_p50_ms", "ms", "lower"),
    ("refresh_single_p50_ms", "ms", "lower"),
    ("refresh_join_p50_ms", "ms", "lower"),
    ("fresh_p50_ms", "ms", "lower"),
    ("dedup_docs_per_s", "1/s", "higher"),
    ("space_amp", "ratio", "lower"),
    ("sql.resolve_ms.lookup", "ms", "lower"),
    ("sql.resolve_ms.mv_read", "ms", "lower"),
    ("sql.resolve_ms.upsert_row", "ms", "lower"),
    ("plan.optimize_ms.lookup", "ms", "lower"),
    ("plan.optimize_ms.mv_read", "ms", "lower"),
    ("plan.codegen_compiles.lookup", "count", "lower"),
    ("plan.codegen_compiles.mv_read", "count", "lower"),
    ("plan.codegen_ms.mv_read", "ms", "lower"),
    ("plan.mv_rewrite_share", "ratio", "higher"),
    ("spark.jobs.delete", "count", "lower"),
    ("spark.jobs.mv_read", "count", "lower"),
    ("spark.exec_run_s.delete", "s", "lower"),
    ("spark.exec_run_s.refresh_single", "s", "lower"),
    ("spark.exec_run_s.refresh_join", "s", "lower"),
    ("spark.exec_run_s.dedup_minhash", "s", "lower"),
    ("spark.exec_run_s.dedup_simhash", "s", "lower"),
    ("spark.driver_only_s.delete", "s", "lower"),
    ("spark.driver_only_s.mv_read", "s", "lower"),
    ("spark.shuffle_bytes.refresh_single", "B", "lower"),
    ("spark.shuffle_bytes.refresh_join", "B", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.exec_cpu_s", "s", "lower"),
    ("spark.sched_wait_s", "s", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("catalog.write_amp", "ratio", "lower"),
    ("catalog.files_per_write", "count", "lower"),
    ("catalog.log_rows", "count", "lower"),
    ("catalog.collapse_ms", "ms", "lower"),
    ("catalog.compact_ms", "ms", "lower"),
    ("catalog.compact_bytes_reclaimed", "B", "higher"),
    ("ivm.jobs_per_refresh.single", "count", "lower"),
    ("ivm.jobs_per_refresh.join", "count", "lower"),
    ("ivm.driver_only_s.single", "s", "lower"),
    ("ivm.driver_only_s.join", "s", "lower"),
    ("ivm.state_bytes", "B", "lower"),
    ("ivm.state_files", "count", "lower"),
    ("dedup.pairs.minhash", "count", "higher"),
    ("dedup.pairs.simhash", "count", "higher"),
    ("dedup.core_util.minhash", "ratio", "higher"),
    ("dedup.core_util.simhash", "ratio", "higher"),
    ("dedup.shuffle_bytes_per_doc", "B", "lower"),
    ("dedup.planted_recall", "ratio", "higher"),
    ("jvm.heap_peak_mb", "MB", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("bench.trace_overhead", "ratio", "lower"),
    ("bench.repeat_share", "ratio", "lower"))

  def names: Seq[String] = spec.map(_._1)

  /** Per-operation layer numbers, as medians over the traced operations
    * of each class. */
  private val perOp: Seq[(String, String)] = names
    .filter(n => Seq("sql.", "plan.", "spark.").exists(n.startsWith) &&
      n.count(_ == '.') == 2)
    .map(n => n.substring(0, n.lastIndexOf('.')) -> n.substring(n.lastIndexOf('.') + 1))

  /** Fills the metrics that come from operation records: class medians
    * over all operations (failed ones as +infinity), layer medians over
    * traced operations, workload totals over traced operations. Names
    * the workload already measured are kept; a class this workload does
    * not run reads 0. */
  def fromOps(r: Report, ctx: Ctx): Unit = {
    val t = ctx.tracer
    val ops = t.ops.toSeq
    val spark = t.sparkTotals()
    def traced(cls: String) = ops.filter(o => o.cls == cls && o.traced && o.ok)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def acc(o: OpRec) = spark.getOrElse(o.id, new SparkAcc)
    def unit(name: String) = spec.find(_._1 == name).get._2
    def put(name: String, v: Double, note: String = "") =
      if (r.get(name).isEmpty) r.add(name, Report.finite(v), unit(name), note)

    Seq("lookup" -> "lookup_p50_ms", "mv_read" -> "mv_read_p50_ms",
      "upsert_batch" -> "upsert_p50_ms", "delete" -> "delete_p50_ms",
      "refresh_single" -> "refresh_single_p50_ms",
      "refresh_join" -> "refresh_join_p50_ms").foreach { case (cls, name) =>
        val xs = ops.filter(_.cls == cls).map(o =>
          if (o.ok) o.wallMs else Double.PositiveInfinity)
        put(name, med(xs), s"n=${xs.size} pct=50")
      }
    def layer(metric: String, o: OpRec): Double = metric match {
      case "sql.resolve_ms" => t.spanMs(o.id, "sql.resolve")
      case "plan.optimize_ms" => t.spanMs(o.id, "plan.optimize")
      case "plan.codegen_compiles" => o.compiles.toDouble
      case "plan.codegen_ms" => o.codegenMs
      case "spark.jobs" => acc(o).jobs.toDouble
      case "spark.exec_run_s" => acc(o).execRunMs / 1e3
      case "spark.driver_only_s" => t.driverOnlyMs(o, acc(o)) / 1e3
      case "spark.shuffle_bytes" => acc(o).shuffleWriteBytes.toDouble
    }
    perOp.foreach { case (metric, cls) =>
      val xs = traced(cls)
      put(s"$metric.$cls", med(xs.map(layer(metric, _))), s"n=${xs.size} pct=50")
    }
    Seq("single", "join").foreach { k =>
      val xs = traced(s"refresh_$k")
      put(s"ivm.jobs_per_refresh.$k", med(xs.map(layer("spark.jobs", _))),
        s"n=${xs.size} pct=50")
      put(s"ivm.driver_only_s.$k", med(xs.map(layer("spark.driver_only_s", _))),
        s"n=${xs.size} pct=50")
    }
    val all = ops.filter(o => o.traced && o.ok)
    val sums = all.map(acc)
    put("spark.tasks", sums.map(_.tasks).sum.toDouble)
    put("spark.exec_cpu_s", sums.map(_.execCpuNs).sum / 1e9)
    put("spark.sched_wait_s", sums.map(_.schedWaitMs).sum / 1e3)
    put("spark.spill_bytes", sums.map(_.spillBytes).sum.toDouble)
    def util(xs: Seq[OpRec]) = {
      val wall = xs.map(_.wallMs).sum
      if (wall == 0) 0.0 else xs.map(acc(_).execRunMs).sum / (wall * ctx.cores)
    }
    put("spark.core_util", util(all))
    Seq("minhash", "simhash").foreach(k =>
      put(s"dedup.core_util.$k", util(traced(s"dedup_$k"))))
    val mv = traced("mv_read")
    put("plan.mv_rewrite_share",
      if (mv.isEmpty) 0.0 else mv.count(_.mvServed).toDouble / mv.size, s"n=${mv.size}")
    val texts = ops.flatMap(_.sqlText)
    val seen = scala.collection.mutable.HashSet[String]()
    val repeats = texts.count(s => !seen.add(s))
    put("bench.repeat_share",
      if (texts.isEmpty) 0.0 else repeats.toDouble / texts.size, s"n=${texts.size}")
    names.foreach(n => put(n, 0.0))
  }
}

/** Calls into the SQL front end, with a span per layer when traced. */
object Sql {
  def select(ctx: Ctx, px: PhoenixSql, rec: OpRec, sql: String): Array[Row] = {
    val t = ctx.tracer
    val df = t.span(rec, "sql.resolve")(px.execute(sql))
    if (rec.traced) {
      t.span(rec, "plan.optimize")(df.queryExecution.optimizedPlan)
      val plan = t.span(rec, "plan.physical")(df.queryExecution.executedPlan)
      rec.mvServed = plan.toString.contains("/_mv/")
    }
    t.span(rec, "spark.collect")(df.collect())
  }

  def exec(ctx: Ctx, px: PhoenixSql, rec: OpRec, sql: String): Unit =
    ctx.tracer.span(rec, "sql.resolve")(px.execute(sql))

  /** Bytes and files under a directory. */
  def du(f: java.io.File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** Order-insensitive result comparison; doubles agree to a relative
  * 1e-9 (sums may add in a different order). */
object Compare {
  private def key(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.3e"
    case null => "null"
    case x => x.toString
  }.mkString("|")

  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Number, y: Number) => x.longValue == y.longValue &&
      x.doubleValue == y.doubleValue
    case _ => a == b
  }

  /** None when equal, else a short description of the first difference. */
  def rows(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else {
      val g = got.sortBy(key)
      val w = want.sortBy(key)
      g.zip(w).collectFirst {
        case (a, b) if a.size != b.size ||
            !a.toSeq.zip(b.toSeq).forall { case (x, y) => close(x, y) } =>
          s"row $a, expected $b"
      }
    }
}
