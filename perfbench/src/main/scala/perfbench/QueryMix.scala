package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.queries.{Catalog, QueryDef}

/** `query_mix`: an analyst issuing the catalog's read-only queries one after
  * another.  The query list (`perfbench/queries.txt`) holds every
  * oracle-bearing catalog query that writes no files and is neither a
  * TxTable (`q_tx_*`) nor a streaming (`q_st*`) query.  Each cycle runs the
  * whole list once in a seeded order; a window runs whole cycles, as many as
  * fit its length at `CycleS` per cycle, so every query carries the same
  * weight in the percentiles and every run the same number of queries.
  *
  * One operation = build the plan through the catalog function, then
  * `collect()` the result.  Checks: the first result of each query is
  * dumped to Parquet for the DuckDB oracle comparison `run.py` makes, and
  * every later execution must return the same rows. */
final class QueryMix(a: Main.Args) extends Main.Workload {
  /** About one cycle of the list on 4 cores (39 queries, ~240 ms each):
    * two cycles a 15 s or 20 s window. */
  private val CycleS = 9.5
  private val dir = a.inputs
  private val byName: Map[String, QueryDef] = Catalog.all.map(q => q.name -> q).toMap
  private val names: IndexedSeq[String] =
    Files.readAllLines(Paths.get(QueryMix.QueriesFile)).asScala.map(_.trim)
      .filter(n => n.nonEmpty && !n.startsWith("#")).toIndexedSeq
  require(names.forall(byName.contains),
    s"unknown queries: ${names.filterNot(byName.contains).mkString(", ")}")
  private val rng = new scala.util.Random(a.seed)

  // first result per query (dumped for the oracle), plus a digest per run
  private val first = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val firstDigest = mutable.Map.empty[String, Int]
  private val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val mismatched = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val errors = mutable.ArrayBuffer.empty[String]

  private def digest(rows: Array[Row]): Int = scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq)

  private def once(spark: SparkSession, trace: Trace, name: String): Double = {
    val q = byName(name)
    val t0 = System.nanoTime()
    val rows = trace.span("op", "query") {
      val df = trace.span("catalog", "catalog.build")(q.fn(spark, dir))
      val r = trace.span("catalog", "catalog.action")(df.collect())
      if (!first.contains(name)) first(name) = (r, df.schema)
      r
    }
    val ms = (System.nanoTime() - t0) / 1e6
    runs(name) += 1
    val d = digest(rows)
    if (firstDigest.getOrElseUpdate(name, d) != d) mismatched(name) += 1
    ms
  }

  def canary(spark: SparkSession): Unit =
    names.take(1).foreach(n => byName(n).fn(spark, dir).collect())

  /** One warm run of every query, four at a time: compiles and JIT warm-up
    * finish before timing, at a fraction of a serial cycle's set-up time. */
  def prepare(spark: SparkSession, trace: Trace): Unit =
    Main.inParallel(names.map(n => () => { byName(n).fn(spark, dir).collect(); () }))

  private def safely(name: String)(body: => Double): Option[Double] =
    try Some(body)
    catch { case scala.util.control.NonFatal(e) =>
      runs(name) += 1; mismatched(name) += 1
      errors += s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      None
    }

  def run(spark: SparkSession, trace: Trace, deadlineNs: Long, maxOps: Int): Main.Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val n = Main.cycles(deadlineNs, CycleS)
    val t0 = System.nanoTime()
    for (_ <- 1 to n; name <- rng.shuffle(names) if !(maxOps > 0 && lat.size >= maxOps))
      safely(name)(once(spark, trace, name)).foreach(lat += _)
    Main.Window(lat.toSeq, lat.size.toLong, (System.nanoTime() - t0) / 1e9)
  }

  def check(spark: SparkSession, inject: Boolean): Main.Checked = {
    val out = s"${a.work}/results"
    val injected = if (!inject) None else first.find(_._2._1.nonEmpty).map(_._1)
    val counts = new StringBuilder
    Main.inParallel(first.toSeq.map { case (name, (rows, schema)) => () =>
      val kept = if (injected.contains(name)) rows.dropRight(1) else rows
      spark.createDataFrame(kept.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
    })
    runs.keys.toSeq.sorted.foreach(n => counts ++= s"$n\t${runs(n)}\t${mismatched(n)}\n")
    Files.write(Paths.get(s"$out/runs.tsv"), counts.toString.getBytes(StandardCharsets.UTF_8))
    val oracles = names.flatMap(n => byName(n).oracle.map(n -> _)).toMap
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json(oracles).getBytes(StandardCharsets.UTF_8))
    Main.Checked(runs.values.sum, mismatched.values.sum, errors.toSeq)
  }

  def layers(spark: SparkSession, trace: Trace, w: Main.Window): Map[String, Double] = {
    val n = w.latMs.size.max(1)
    val builds = trace.allSpans.filter(_.name == "catalog.build")
    val actions = trace.allSpans.filter(_.name == "catalog.action")
    Map("catalog.build_ms" -> builds.map(_.ms).sum / n, "catalog.action_ms" -> actions.map(_.ms).sum / n)
  }
}

object QueryMix {
  /** The query list, relative to the repository root (the working directory). */
  val QueriesFile = "perfbench/queries.txt"
}
