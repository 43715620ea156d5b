package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `traced` operations also carry the
  * layer counters (spans, listener totals, codegen deltas). */
final class OpRec(val id: Int, val cls: String, val traced: Boolean) {
  var startMs = 0L
  var endMs = 0L
  var wallMs = 0.0
  var ok = false
  var compiles = 0L
  var codegenMs = 0.0
  var mvServed = false
  var sqlText: Option[String] = None
}

/** Spark-side totals attributed to one operation by the listener. */
final class SparkAcc {
  var jobs = 0
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedWaitMs = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Spans and counters recorded from the benchmark's own calls into each
  * layer. With tracing off nothing is registered and `op`/`span` cost a
  * branch; with tracing on, a listener attributes every Spark job, stage
  * and task to the operation in flight (by a job property the client
  * thread sets, falling back to the operation in flight for jobs that
  * engine worker threads submit). */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer[OpRec]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  @volatile private var current: OpRec = _
  private val OpProp = "perfbench.op"

  private val acc = mutable.Map[Int, SparkAcc]()
  private val stageOp = mutable.Map[Int, Int]()
  private val jobOp = mutable.Map[Int, (Int, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      acc.synchronized {
        val id = Option(e.properties).flatMap(p =>
          Option(p.getProperty(OpProp))).map(_.toInt)
          .orElse(Option(current).filter(_.traced).map(_.id))
        id.foreach { op =>
          jobOp(e.jobId) = (op, e.time)
          e.stageIds.foreach(s => stageOp(s) = op)
          acc.getOrElseUpdate(op, new SparkAcc).jobs += 1
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      acc.synchronized {
        jobOp.remove(e.jobId).foreach { case (op, t0) =>
          acc(op).jobSpans += ((t0, e.time))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      acc.synchronized {
        stageOp.get(e.stageId).foreach { op =>
          val a = acc.getOrElseUpdate(op, new SparkAcc)
          a.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            a.execRunMs += m.executorRunTime
            a.execCpuNs += m.executorCpuTime
            a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            val info = e.taskInfo
            if (info != null && info.finishTime > 0)
              a.schedWaitMs += math.max(0L, info.duration -
                m.executorRunTime - m.executorDeserializeTime -
                m.resultSerializationTime - info.gettingResultTime)
          }
        }
      }
  }
  if (on) sc.addSparkListener(listener)

  private def compileCount =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
  private def compileNs =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime

  /** Runs one operation of class `cls`. An exception marks it failed and
    * is not rethrown: the loop goes on, and the failure counts. */
  def op[T](cls: String, traced: Boolean = on,
      sql: Option[String] = None)(f: OpRec => T): Option[T] = {
    val rec = new OpRec(ops.size, cls, on && traced)
    rec.sqlText = sql
    ops += rec
    current = rec
    if (rec.traced) sc.setLocalProperty(OpProp, rec.id.toString)
    val (cc0, cn0) = if (rec.traced) (compileCount, compileNs) else (0L, 0L)
    rec.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = withSpan(rec, s"op.$cls")(f(rec))
      rec.ok = true
      Some(r)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $cls failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    } finally {
      rec.wallMs = (System.nanoTime() - t0) / 1e6
      rec.endMs = System.currentTimeMillis()
      if (rec.traced) {
        rec.compiles = compileCount - cc0
        rec.codegenMs = (compileNs - cn0) / 1e6
        sc.setLocalProperty(OpProp, null)
      }
      current = null
    }
  }

  /** A child span of the operation in flight (a no-op when untraced). */
  def span[T](rec: OpRec, name: String)(f: => T): T =
    if (!rec.traced) f else withSpan(rec, name)(f)

  private def withSpan[T](rec: OpRec, name: String)(f: => T): T =
    if (!rec.traced) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, rec.id, name, 0L, 0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Summed duration (ms) of the spans named `name` under operation `op`. */
  def spanMs(op: Int, name: String): Double =
    spans.iterator.filter(s => s.op == op && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).sum

  /** Waits for the listener to see every event posted so far, then
    * returns the Spark totals of each traced operation. */
  def sparkTotals(): Map[Int, SparkAcc] = {
    if (on) org.apache.spark.PerfbenchBus.drain(sc)
    acc.synchronized(acc.toMap)
  }

  /** Wall time of an operation not covered by any of its Spark jobs. */
  def driverOnlyMs(rec: OpRec, a: SparkAcc): Double = {
    val iv = a.jobSpans.map { case (s, e) =>
      (math.max(s, rec.startMs), math.min(e, rec.endMs))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    math.max(0.0, rec.wallMs - covered)
  }

  def writeSpans(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"span": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""cls": "${ops(s.op).cls}", "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }

  def close(): Unit = if (on) sc.removeSparkListener(listener)
}
