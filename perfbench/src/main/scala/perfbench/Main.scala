package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, corrupt: Boolean, runDir: File, spans: Option[File])

/** What every workload provides. `setup` builds a fresh warehouse under
  * `dir` and warms the engine up (warm-up counts as set-up); `unit` runs
  * one unit of work (a statement, a write-to-fresh cycle, a dedup pass)
  * and returns whether it succeeded; `check` compares the outputs kept
  * during the run with the reference, returning the mismatches. */
trait Workload {
  def digest: String
  def setup(dir: File): Unit
  /** Runs unit `i`; false when an operation in it failed. The unit
    * reports its latency sample for `op_p50_ms` through [[Ctx.sample]]. */
  def unit(i: Int, traced: Boolean): Boolean
  /** User work the last unit completed, in the workload's throughput
    * unit (statements, rows written, documents). */
  def unitWork: Double
  def check(): Seq[String]
  def metrics(r: Report, loopSecs: Double): Unit
  def layerMetrics(r: Report): Unit
}

final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(spark, args.trace)
  val cores: Int = spark.sparkContext.defaultParallelism
  val rng0: Long = Gen.mix(args.seed * 0x2545f4914f6cdd1dL + 17)

  /** `op_p50_ms` samples: (ms, traced); a failed unit is +infinity. */
  val samples = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
  def sample(ms: Option[Double], traced: Boolean): Unit =
    samples += ((ms.getOrElse(Double.PositiveInfinity), traced))
}

object Main {
  val E2E = Seq("setup_s", "op_p50_ms", "work_per_s", "heap_live_mb")

  def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload " +
      s"${Workloads.names.mkString("|")} --seed N --seconds S --trace 0|1 " +
      "--run-dir DIR [--spans FILE] [--corrupt]")
    sys.exit(2)
  }

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, usage(s"missing $k"))
    val w = req("--workload")
    if (!Workloads.names.contains(w)) usage(s"unknown workload $w")
    Args(w, req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", a.contains("--corrupt"), new File(req("--run-dir")),
      m.get("--spans").map(new File(_)))
  }

  /** Highest heap occupancy left after any collection in the timed loop,
    * tracked from GC notifications. It moves with collection timing, so it
    * is a per-layer number; `heap_live_mb` is the steady one. */
  final class HeapPeak {
    @volatile var peak = 0L
    private val handlers = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.collect { case e: javax.management.NotificationEmitter =>
        val l: javax.management.NotificationListener = (n, _) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[
                javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if !pool.contains("Metaspace") &&
                  !pool.contains("Code") && !pool.contains("Class") => u.getUsed
            }.sum
            if (used > peak) peak = used
          }
        }
        e.addNotificationListener(l, null, null)
        (e, l)
      }
    def close(): Unit = handlers.foreach { case (e, l) =>
      scala.util.Try(e.removeNotificationListener(l)) }
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.runDir.mkdirs()
    val spark = graft.GraftSession.build("perfbench")
    val ctx = new Ctx(spark, args)
    val w = Workloads(args.workload, ctx)
    println(s"info workload ${args.workload} seed ${args.seed} " +
      s"spark local[${ctx.cores}] seconds ${args.seconds} " +
      s"trace ${if (args.trace) 1 else 0}")
    println(s"info stream_digest ${w.digest}")

    // set-up in a fresh warehouse, warm-up included
    val t0Setup = System.nanoTime()
    w.setup(new File(args.runDir, "wh"))
    val setupSecs = (System.nanoTime() - t0Setup) / 1e9

    // timed closed loop: one client thread, next unit when the last ends
    val heap = new HeapPeak
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = (gcBeans.map(_.getCollectionCount).sum,
      gcBeans.map(_.getCollectionTime).sum)
    val t0 = System.nanoTime()
    val deadline = t0 + (args.seconds * 1e9).toLong
    var i = 0
    var work = 0.0
    while (i == 0 || System.nanoTime() < deadline) {
      if (w.unit(i, args.trace && i % 2 == 0)) work += w.unitWork
      i += 1
    }
    val loopSecs = (System.nanoTime() - t0) / 1e9
    val gc1 = (gcBeans.map(_.getCollectionCount).sum,
      gcBeans.map(_.getCollectionTime).sum)
    heap.close()
    // the heap the run retains, after the timed loop: two full collections
    // (Spark's cleaner frees blocks whose references the first one
    // cleared), read as the heap pools' occupancy right after the second
    System.gc()
    Thread.sleep(300)
    System.gc()
    val liveBytes = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

    val failures = try w.check() catch {
      case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(300))
    }
    failures.take(20).foreach(f => println(s"check FAILED: ${f.take(500)}"))

    val r = new Report
    val ops = ctx.tracer.ops
    r.add("setup_s", setupSecs, "s")
    r.latency("op_p50_ms", ctx.samples.map(_._1).toSeq)
    r.add("work_per_s", work / loopSecs, "1/s", s"units=$i")
    r.add("heap_live_mb", liveBytes / 1048576.0, "MB")
    r.add("jvm.heap_peak_mb", heap.peak / 1048576.0, "MB")
    r.add("failed_frac", ops.count(!_.ok).toDouble / math.max(1, ops.size),
      "ratio", s"n=${ops.size}")
    r.add("jvm.gc_ms", (gc1._2 - gc0._2).toDouble, "ms")
    r.add("jvm.gc_count", (gc1._1 - gc0._1).toDouble, "count")
    w.metrics(r, loopSecs)
    if (args.trace) {
      val traced = ctx.samples.filter(_._2).map(_._1).toSeq
      val plain = ctx.samples.filterNot(_._2).map(_._1).toSeq
      r.add("bench.trace_overhead",
        if (traced.isEmpty || plain.isEmpty) 0.0
        else Stats.median(traced) / Stats.median(plain) - 1, "ratio",
        s"traced=${traced.size} untraced=${plain.size}")
      w.layerMetrics(r)
      args.spans.foreach { f =>
        ctx.tracer.writeSpans(f)
        println(s"info spans ${f.getPath}")
      }
    }
    ctx.tracer.close()
    r.printLines()
    val correct = failures.isEmpty
    println(r.json(if (args.trace) PerLayer.names else E2E, correct,
      ops.size.toLong, ops.count(!_.ok).toLong))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
