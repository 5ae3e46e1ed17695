package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One measured run of one workload, driven by `perfbench/run.py`.
  *
  * Flags: `--workload W --seconds S --trace 0|1 --inputs DIR --work DIR
  * --out FILE --seed N [--max-ops N] [--inject-error 1]`.
  *
  * The session comes from the unmodified `GraftSession.builder`, so the
  * benchmark runs with exactly the configuration users get; only file
  * locations (local dir, warehouse) are pointed inside the work directory,
  * and traced runs count file-system calls ([[CountingFileSystem]]).
  *
  * Writes one JSON object to `--out`: the timed operation latencies'
  * summary, the check outcome, the set-up time and, for a traced run, the
  * per-layer reduction. */
object Main {

  /** Spark runs `local[Cores]`. */
  val Cores = 4

  final case class Args(workload: String, seconds: Double, trace: Boolean, inputs: String,
                        work: String, out: String, seed: Long, maxOps: Int, injectError: Boolean)

  /** What a workload reports after its measured window. */
  final case class Window(latMs: Seq[Double], items: Long, wallS: Double,
                          extra: Map[String, Double] = Map.empty)

  /** Output checks: operations attempted, operations whose output was
    * wrong (or that threw), and a human-readable reason per failure. */
  final case class Checked(attempted: Int, failed: Int, reasons: Seq[String])

  trait Workload {
    /** A light operation run right after the session starts, timed with it. */
    def canary(spark: SparkSession): Unit
    /** One-time warm pass after set-up (caches filled, lazy set-up done). */
    def prepare(spark: SparkSession, trace: Trace): Unit
    /** The measured closed loop: one client, until the deadline. */
    def run(spark: SparkSession, trace: Trace, deadlineNs: Long, maxOps: Int): Window
    /** Checks run outside the timed region. */
    def check(spark: SparkSession, inject: Boolean): Checked
    /** Workload-specific per-layer figures (traced runs). */
    def layers(spark: SparkSession, trace: Trace, window: Window): Map[String, Double]
    def stop(): Unit = ()
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1", m("inputs"), m("work"), m("out"),
      m("seed").toLong, m.getOrElse("max-ops", "0").toInt, m.getOrElse("inject-error", "0") == "1")
  }

  /** `countIo` installs [[CountingFileSystem]] for `file:` paths (traced
    * runs only). */
  def session(a: Args, countIo: Boolean): SparkSession = {
    val b = GraftSession.builder(s"local[$Cores]", Cores)
    if (countIo) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Whole cycles a window of the time left before `deadlineNs` runs, for
    * a workload whose cycle takes about `refS` seconds on 4 cores: a fixed
    * amount of work per window keeps sample counts equal across runs. */
  def cycles(deadlineNs: Long, refS: Double): Int =
    math.max(1, math.round((deadlineNs - System.nanoTime()) / 1e9 / refS).toInt)

  /** Runs `tasks` four at a time and waits for all of them. */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the run alive
    val code = try { measured(parse(argv)); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def measured(a: Args): Unit = {
    Files.createDirectories(Paths.get(a.work))
    val w: Workload = a.workload match {
      case "query_mix" => new QueryMix(a)
      case "lake_upsert" => new LakeUpsert(a)
      case "corpus_dedup" => new CorpusDedup(a)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up, from the JVM's start: the cold session start users pay, a
    // canary operation, then the workload's warm pass
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a, countIo = a.trace)
    w.canary(spark)
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val off = new Trace(spark, enabled = false)
    val tp = System.nanoTime()
    w.prepare(spark, off)
    val prepareS = (System.nanoTime() - tp) / 1e9

    val result = mutable.LinkedHashMap.empty[String, Any]
    def measure(trace: Trace, seconds: Double): Window = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val win = w.run(spark, trace, deadline, a.maxOps)
      trace.drain()
      win
    }
    if (!a.trace) {
      val win = measure(off, a.seconds)
      result("window") = summary(win)
    } else {
      // untraced, traced, untraced (a quarter, a half, a quarter of the run):
      // the traced rate against the untraced one around it is the window
      // gap, with warm-up and table growth cancelled to first order
      val before = measure(off, a.seconds / 4)
      val trace = new Trace(spark, enabled = true)
      val traced = measure(trace, a.seconds / 2)
      trace.close()
      val after = measure(off, a.seconds / 4)
      val plainRate = (before.latMs.size + after.latMs.size) / (before.wallS + after.wallS)
      val layers = trace.layers(traced.latMs.size, Cores) ++ w.layers(spark, trace, traced)
      result("window") = summary(traced)
      result("layers") = layers + ("trace.window_gap_share" -> (1.0 - traced.latMs.size / traced.wallS / plainRate))
      writeSpans(trace, s"${a.work}/spans.tsv")
      writeBreakdown(trace, s"${a.work}/breakdown.tsv")
    }
    val checked = w.check(spark, a.injectError)
    w.stop()
    result("cores") = Cores
    result("start_s") = startS
    result("setup_jvm_s") = startS + prepareS
    result("prepare_s") = prepareS
    result("attempted") = checked.attempted
    result("failed") = checked.failed
    result("reasons") = checked.reasons.take(20)
    result("peak_rss_mb") = peakRssMb()
    spark.stop()
    Files.write(Paths.get(a.out), Json(result).getBytes(StandardCharsets.UTF_8))
  }

  def summary(w: Window): Map[String, Any] = Map(
    "ops" -> w.latMs.size, "items" -> w.items, "wall_s" -> w.wallS,
    "p50_ms" -> pct(w.latMs, 0.5), "p75_ms" -> pct(w.latMs, 0.75)) ++ w.extra

  private def writeBreakdown(t: Trace, path: String): Unit = {
    val sb = new StringBuilder("layer\tname\tspans\twall_ms\tjob_ms\tself_ms\n")
    t.breakdown.foreach(b => sb ++= s"${b.layer}\t${b.name}\t${b.spans}\t${b.wallMs}\t${b.jobMs}\t${b.selfMs}\n")
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def writeSpans(t: Trace, path: String): Unit = {
    val sb = new StringBuilder("id\tparent\tlayer\tname\tstart_ns\tend_ns\n")
    t.allSpans.foreach(s => sb ++= s"${s.id}\t${s.parent}\t${s.layer}\t${s.name}\t${s.start}\t${s.end}\n")
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result object (numbers, strings, sequences, maps). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
