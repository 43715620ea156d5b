package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Dedup

/** `curation`: exact, MinHash and SimHash dedup passes over a document
  * corpus with planted exact and near copies. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  private val rnd = new java.util.SplittableRandom(ctx.rng0)

  // the corpus: replicas of the base documents, then planted copies
  private val base: IndexedSeq[String] = (0 until BaseDocs).map(Gen.baseText)
  private val corpus: IndexedSeq[String] =
    (0 until Replicas).flatMap(r => base.map(Gen.rotate(_, r)))
  private val exactCopies: Seq[(Int, Int)] = (0 until Planted).map(j =>
    (rnd.nextInt(corpus.size), corpus.size + j))
  private val nearCopies: Seq[(Int, Int)] = (0 until Planted).map(j =>
    (rnd.nextInt(corpus.size), corpus.size + Planted + j))
  private val texts: IndexedSeq[String] = corpus ++
    exactCopies.map(c => corpus(c._1)) ++
    nearCopies.map(c => edit(corpus(c._1), rnd))
  val digest: String = Digest.of(
    (exactCopies ++ nearCopies).map(_.toString) ++ texts.drop(corpus.size))
  val docs: Int = texts.size

  private var df: DataFrame = _
  private var first: Option[PassResult] = None
  private var consistent = true

  def unitWork: Double = docs.toDouble

  final case class PassResult(exact: Array[Row], minhash: Array[Row],
      simhash: Array[Row])

  /** Writes the corpus as parquet (the pipeline's input) and warms the
    * operators up with untimed passes: the JIT is still speeding passes
    * up after the first. */
  def setup(dir: File): Unit = {
    val p = new File(dir, "documents.parquet").getPath
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 8),
      Gen.docSchema).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    (0 until WarmPasses).foreach(_ => pass(None, traced = false))
  }

  private def pass(i: Option[Int], traced: Boolean): Option[PassResult] = {
    val t = ctx.tracer
    def run(cls: String)(f: => DataFrame): Option[Array[Row]] =
      if (i.isEmpty) Some(f.collect())
      else t.op(cls, traced)(rec => t.span(rec, s"dedup.${cls.stripPrefix("dedup_")}")(
        f.collect()))
    for {
      e <- run("dedup_exact")(Dedup.exactDedup(df, "text", "doc_id"))
      m <- run("dedup_minhash")(Dedup.nearDupPairs(df, "text", "doc_id", Threshold))
      s <- run("dedup_simhash")(Dedup.simhashNearDups(df, "text", "doc_id",
        maxHamming = MaxHamming))
    } yield PassResult(e, m, s)
  }

  def unit(i: Int, traced: Boolean): Boolean = {
    val t0 = System.nanoTime()
    val res = pass(Some(i), traced)
    ctx.sample(res.map(_ => (System.nanoTime() - t0) / 1e6), traced)
    res.foreach { r =>
      first match {
        case None => first = Some(r)
        case Some(f) => consistent &&= f.exact.length == r.exact.length &&
          f.minhash.length == r.minhash.length && f.simhash.length == r.simhash.length
      }
    }
    res.isDefined
  }

  def check(): Seq[String] = first.toSeq.flatMap { r0 =>
    val r = if (ctx.args.corrupt)
      r0.copy(minhash = r0.minhash :+ Row(nearCopies.head._1.toLong,
        exactCopies.head._2.toLong, 1.0))
    else r0
    val out = mutable.ArrayBuffer[String]()
    if (!consistent) out += "passes disagree on result sizes"
    val distinct = df.select("text").distinct().count()
    if (r.exact.length != distinct)
      out += s"exact dedup kept ${r.exact.length} documents, distinct texts: $distinct"
    val byFp = r.exact.map(x => x.getString(2) -> (x.getLong(0), x.getLong(1))).toMap
    exactCopies.foreach { case (src, cp) =>
      byFp.get(md5(texts(cp))) match {
        case Some((keep, n)) if n >= 2 && keep <= math.min(src, cp) => ()
        case other => out += s"planted exact copy ($src,$cp) not found: $other"
      }
    }
    r.minhash.foreach { p =>
      val (a, b) = (p.getLong(0).toInt, p.getLong(1).toInt)
      val j = jaccard(texts(a), texts(b))
      if (j < Threshold - 1e-9 || math.abs(j - p.getDouble(2)) > 1e-9)
        out += s"minhash pair ($a,$b) reported ${p.getDouble(2)}, exact Jaccard $j"
    }
    out.toSeq
  }

  def metrics(r: Report, loopSecs: Double): Unit = {
    r.add("dedup_docs_per_s", ctx.samples.count(!_._1.isInfinite) * docs / loopSecs,
      "1/s", s"docs=$docs passes=${ctx.samples.size}")
    Seq("dedup_exact", "dedup_minhash", "dedup_simhash").foreach { c =>
      val xs = ctx.tracer.ops.filter(_.cls == c).map(o =>
        if (o.ok) o.wallMs else Double.PositiveInfinity).toSeq
      r.latency(s"${c}_p50_ms", xs)
      r.tail(c, xs)
    }
  }

  def layerMetrics(r: Report): Unit = {
    first.foreach { p =>
      r.add("dedup.pairs.minhash", p.minhash.length.toDouble, "count")
      r.add("dedup.pairs.simhash", p.simhash.length.toDouble, "count")
      val found = p.minhash.map(x => (x.getLong(0), x.getLong(1))).toSet
      val hit = nearCopies.count { case (a, b) =>
        found((a.toLong min b, a.toLong max b)) || found((a.toLong max b, a.toLong min b))
      }
      r.add("dedup.planted_recall", hit.toDouble / nearCopies.size, "ratio",
        s"planted=${nearCopies.size}")
    }
    PerLayer.fromOps(r, ctx)
    val passes = ctx.tracer.ops.filter(o => o.traced && o.ok &&
      o.cls.startsWith("dedup_")).map(_.id).toSet
    val shuffle = ctx.tracer.sparkTotals().filter(x => passes(x._1))
      .values.map(_.shuffleWriteBytes).sum
    val tracedPasses = ctx.samples.count(s => s._2 && !s._1.isInfinite)
    r.add("dedup.shuffle_bytes_per_doc",
      if (tracedPasses == 0) 0.0 else shuffle.toDouble / (tracedPasses * docs), "B")
  }
}

object Curation {
  val BaseDocs = 500
  val Replicas = 8
  val Planted = 40
  val Threshold = 0.2
  val MaxHamming = 8
  val WarmPasses = 2

  /** A near copy: about one word in twelve replaced. */
  def edit(text: String, rnd: java.util.SplittableRandom): String =
    text.split(" ").map(w =>
      if (rnd.nextInt(12) == 0) Gen.Vocab(rnd.nextInt(Gen.Vocab.length)) else w)
      .mkString(" ")

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Exact Jaccard of distinct word-bigram sets (lowercased, trimmed,
    * whitespace split), recomputed independently of the engine. */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = {
      val w = t.trim.toLowerCase.split("\\s+")
      if (w.length < 2) Set.empty[String]
      else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    val u = (x union y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }
}
