package perfbench

import scala.collection.mutable

/** Sample statistics. A failed operation enters a latency sample as
  * +infinity: it misses every latency limit, and a median that lands on
  * one is reported as [[Report.FailedMs]]. */
object Stats {
  /** Linear-interpolated percentile (as numpy's default) of a sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      if (s(lo).isInfinite || s(hi).isInfinite) s(hi)
      else s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile of the ladder with at least ten samples
    * beyond it, as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, pct(xs, p)))
}

/** One metric as printed: every metric prints as its own text line, and
  * the selected ones also go into the final JSON object. */
final case class Metric(name: String, value: Double, unit: String,
    note: String = "")

/** Collects metrics and prints the output contract: one
  * `metric <name> <value> <unit> [note]` line each (short enough for a
  * 4 KB log tail), then, as the last line, the JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. */
final class Report {
  private val metrics = mutable.LinkedHashMap[String, Metric]()

  def add(m: Metric): Unit = metrics(m.name) = m
  def add(name: String, value: Double, unit: String,
      note: String = ""): Unit = add(Metric(name, value, unit, note))
  def get(name: String): Option[Metric] = metrics.get(name)

  /** A latency class: median (the metric) with its sample count; the
    * tail goes to `<cls>.tail_ms` when the sample supports one. */
  def latency(name: String, samples: Seq[Double]): Unit = {
    add(name, Report.finite(Stats.median(samples)), "ms",
      s"n=${samples.size} pct=50")
  }
  def tail(cls: String, samples: Seq[Double]): Unit =
    Stats.tail(samples) match {
      case Some((p, v)) =>
        add(s"$cls.tail_ms", Report.finite(v), "ms", s"n=${samples.size} pct=$p")
      case None =>
        add(s"$cls.tail_ms", 0.0, "ms", s"n=${samples.size} pct=none")
    }

  def printLines(): Unit = metrics.values.foreach { m =>
    println(s"metric ${m.name} ${Report.num(m.value)} ${m.unit}" +
      (if (m.note.isEmpty) "" else s" ${m.note}"))
  }

  /** The final JSON line over `names` (absent names are an error in the
    * benchmark itself, so they fail loudly). */
  def json(names: Seq[String], correct: Boolean, attempted: Long,
      failed: Long): String = {
    val body = names.map { n =>
      val m = metrics.getOrElse(n,
        throw new IllegalStateException(s"metric $n was not measured"))
      s""""$n":{"value":${Report.num(m.value)},"unit":"${m.unit}"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$body}}"""
  }
}

object Report {
  /** Stand-in for a latency whose percentile falls on failed operations. */
  val FailedMs = 1e9
  def finite(x: Double): Double =
    if (x.isNaN) 0.0 else if (x.isInfinite) FailedMs else x
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else if (x == math.rint(x) &&
      math.abs(x) < 1e15) x.toLong.toString else x.toString
}

object Digest {
  def of(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
