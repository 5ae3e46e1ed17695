package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{Text, Vector}

/** `corpus_dedup`: a corpus-cleaning pass over a seeded synthetic corpus
  * with planted exact and near-duplicate groups.  One operation is one pass
  * of five detector calls, each one call into the engine plus `collect()`:
  * `Text.dedupExact`; `Text.minhashCandidates` + `Text.verifiedPairs`;
  * `Text.simhashNearDupPairs`; `Text.ngramJaccardPairs`; `Vector.ivfTopK`.
  * A window runs whole passes, as many as fit its length at `PassS` each.
  *
  * Checks (first pass in full, later passes must repeat it): exact groups
  * equal a model of `lower(trim(text))`; every planted near-duplicate pair
  * is among the n-gram pairs; every reported Jaccard equals the value
  * recomputed here and meets its threshold; SimHash pairs are within the
  * Hamming bound; each IVF query gets ranks 1..k of other vectors with
  * non-increasing cosines that equal the cosine recomputed here. */
final class CorpusDedup(a: Main.Args) extends Main.Workload {
  import CorpusDedup._

  private val docsPath = s"${a.inputs}/documents.parquet"
  private val embPath = s"${a.inputs}/embeddings.parquet"
  private var passes = 0
  private var nDocs = 0L
  private val outputs = mutable.Map.empty[String, Array[Row]]
  private val digests = mutable.Map.empty[String, Int]
  private var mismatched = 0
  private var attempted = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(docsPath)

  def canary(spark: SparkSession): Unit =
    Text.dedupExact(docs(spark).limit(500), "text", "doc_id").collect()

  /** `WarmPasses` unrecorded passes over the full corpus: pass times fall
    * by about a third over the first four or five passes of a JVM and then
    * hold (a pass over a smaller slice warms less), so the window starts
    * near the steady state rather than early in the warm-up. */
  def prepare(spark: SparkSession, trace: Trace): Unit = {
    nDocs = docs(spark).count()
    for (_ <- 1 to WarmPasses) ops(docs(spark), spark.read.parquet(embPath)).foreach(_._3())
  }

  /** The five detector operations of one pass over documents `d` and
    * embeddings `e`. */
  private def ops(d: DataFrame, e: DataFrame): Seq[(String, String, () => Array[Row])] = {
    Seq(
      ("dedup_exact", "text", () => Text.dedupExact(d, "text", "doc_id").collect()),
      ("minhash", "text", () => {
        val cand = Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          counts("candidates") += cand.count()
          Text.verifiedPairs(d, "text", "doc_id", cand, MinhashThreshold).collect()
        } finally cand.unpersist()
      }),
      ("simhash", "text", () => Text.simhashNearDupPairs(d, "text", "doc_id", MaxHamming).collect()),
      ("ngram", "text", () => Text.ngramJaccardPairs(d, "text", "doc_id", MaxDf, NgramThreshold).collect()),
      ("ivf", "vector", () =>
        Vector.ivfTopK(e.filter(col("vec_id") < IvfQueries), e, IvfK, IvfNlist, IvfNprobe).collect()))
  }

  /** One pass; returns its wall time in ms. */
  private def pass(spark: SparkSession, trace: Trace): Double = {
    val t0 = System.nanoTime()
    ops(docs(spark), spark.read.parquet(embPath)).foreach { case (name, layer, body) =>
      attempted += 1
      try {
        val rows = trace.span("op", name)(trace.span(layer, s"$layer.$name")(body()))
        val d = scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq)
        if (!outputs.contains(name)) { outputs(name) = rows; digests(name) = d }
        else if (digests(name) != d) { mismatched += 1; errors += s"$name output changed between passes" }
        if (name == "minhash") counts("verified") += rows.length
      } catch { case scala.util.control.NonFatal(e) =>
        mismatched += 1
        errors += s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    passes += 1
    (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, trace: Trace, deadlineNs: Long, maxOps: Int): Main.Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val p0 = passes
    counts.clear()
    val n = Main.cycles(deadlineNs, PassS)
    while (lat.size < n && !(maxOps > 0 && lat.size >= maxOps) && errors.size <= 5)
      lat += pass(spark, trace)
    Main.Window(lat.toSeq, (passes - p0) * nDocs, (System.nanoTime() - t0) / 1e9,
      Map("candidates" -> counts("candidates").toDouble, "verified" -> counts("verified").toDouble))
  }

  def check(spark: SparkSession, inject: Boolean): Main.Checked = {
    val reasons = mutable.ArrayBuffer.empty[String] ++ errors
    var failed = mismatched
    def fail(msg: String): Unit = { failed += 1; if (reasons.size < 20) reasons += msg }
    val texts: Map[Long, String] = docs(spark).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = Planted.read(s"${a.inputs}/planted.json")

    outputs.get("dedup_exact").foreach { rows =>
      val want = texts.groupBy(_._2.trim.toLowerCase).values
        .map(g => (g.keys.min, g.size.toLong)).toSet
      val got = rows.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("copies"))).toSet
      if (got != want) fail(s"dedup_exact: ${got.size} groups, model ${want.size}")
      planted.exact.foreach { case (x, y) =>
        if (texts(x).trim.toLowerCase != texts(y).trim.toLowerCase) fail(s"planted exact pair $x,$y differs")
      }
    }
    val shingles = texts.map { case (id, t) => id -> shingleSet(t) }
    outputs.get("minhash").foreach(_.foreach { r =>
      val (x, y, j) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))
      val want = jaccard(shingles(x), shingles(y))
      if (x >= y || j < MinhashThreshold || math.abs(j - want) > 1e-6) fail(s"minhash pair $x,$y: $j vs $want")
    })
    outputs.get("simhash").foreach(_.foreach { r =>
      val (x, y, h) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming"))
      if (x >= y || h > MaxHamming || h < 0) fail(s"simhash pair $x,$y hamming $h")
    })
    outputs.get("ngram").foreach { rows0 =>
      val rows = if (inject) rows0.drop(1) else rows0
      val df = mutable.Map.empty[String, Int].withDefaultValue(0)
      shingles.values.foreach(_.foreach(s => df(s) += 1))
      val kept = shingles.map { case (id, s) => id -> s.filter(df(_) <= MaxDf) }
      val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
      got.foreach { case ((x, y), j) =>
        val want = jaccard(kept(x), kept(y))
        if (x >= y || j < NgramThreshold || math.abs(j - want) > 1e-6) fail(s"ngram pair $x,$y: $j vs $want")
      }
      planted.near.foreach { case (x, y) =>
        if (!got.contains((x, y))) fail(s"planted near pair $x,$y missing (jaccard ${jaccard(kept(x), kept(y))})")
      }
    }
    outputs.get("ivf").foreach { rows =>
      val vecs: Map[Long, Array[Double]] = spark.read.parquet(embPath).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cosine(x: Array[Double], y: Array[Double]): Double = {
        val dot = x.indices.map(i => x(i) * y(i)).sum
        dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
      }
      rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
        val byRank = rs.sortBy(_.getAs[Int]("rank")).toSeq
        val cos = byRank.map(_.getAs[Double]("cos"))
        val wrongCos = byRank.exists(r => math.abs(r.getAs[Double]("cos") -
          cosine(vecs(q), vecs(r.getAs[Long]("c_id")))) > 1e-6)
        if (byRank.map(_.getAs[Int]("rank")) != (1 to IvfK) || byRank.exists(_.getAs[Long]("c_id") == q) ||
          wrongCos || cos.zip(cos.tail).exists { case (u, v) => v > u })
          fail(s"ivf query $q: ranks, cosines or self-match wrong")
      }
      if (rows.map(_.getAs[Long]("q_id")).distinct.length != IvfQueries) fail("ivf: queries missing")
    }
    Main.Checked(attempted, failed, reasons.toSeq)
  }

  def layers(spark: SparkSession, trace: Trace, w: Main.Window): Map[String, Double] = {
    val spans = trace.allSpans
    val passes = w.latMs.size.max(1)
    def per(name: String) = spans.filter(_.name == name).map(_.ms).sum / passes
    val cand = w.extra.getOrElse("candidates", 0.0)
    val ver = w.extra.getOrElse("verified", 0.0)
    Map(
      "text.dedup_exact_ms" -> per("text.dedup_exact"), "text.minhash_ms" -> per("text.minhash"),
      "text.simhash_ms" -> per("text.simhash"), "text.ngram_ms" -> per("text.ngram"),
      "vector.ivf_ms" -> per("vector.ivf"),
      "text.candidate_pairs" -> cand / passes, "text.verified_pairs" -> ver / passes,
      "text.candidate_precision" -> (if (cand > 0) ver / cand else 0.0))
  }
}

object CorpusDedup {
  /** About one pass over the 4000-document corpus on 4 cores after the
    * warm passes (4.3-6.8 s, with the machine): three passes a 15 s
    * window. */
  val PassS = 5.0
  /** Warm passes before the window: two of them bring the first measured
    * pass to within about 15 % of the steady pass time, at 10-18 s of
    * set-up; more would push the runs past the benchmark's time budget. */
  val WarmPasses = 2
  val MinhashThreshold = 0.5
  val MaxHamming = 3
  val MaxDf = 50
  val NgramThreshold = 0.5
  val IvfQueries = 64
  val IvfK = 10
  val IvfNlist = 32
  val IvfNprobe = 4

  /** Distinct 3-token shingles, tokens split on single spaces after trim
    * (the engine's `tokens` + `shinglesOf`). */
  def shingleSet(text: String): Set[String] = {
    val t = text.trim.split(" ", -1)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(x: Set[String], y: Set[String]): Double = {
    val inter = x.intersect(y).size
    val d = x.size + y.size - inter
    if (d == 0) 0.0 else BigDecimal(inter.toDouble / d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  final case class Planted(near: Seq[(Long, Long)], exact: Seq[(Long, Long)])
  object Planted {
    def read(path: String): Planted = {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      def pairs(key: String): Seq[(Long, Long)] = {
        val body = s""""$key": \\[(.*?)\\]\\]""".r.findFirstMatchIn(s).map(_.group(1) + "]").getOrElse("")
        """\[(\d+), (\d+)\]""".r.findAllMatchIn(body).map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
      }
      Planted(pairs("near"), pairs("exact"))
    }
  }
}
