package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.engine.{Relational, TxTable, Upsert}
import graft.queries.Fixtures

/** `lake_upsert`: the reference's production load as a stream.
  *
  * Each seeded stage batch is one state's report for one season.  A batch
  * becomes production rows as the reference's load makes them: the GMU
  * list is exploded (`Relational.explodeCsv`, which applies the
  * `numericCsvOnly` gate) and one row is kept per key
  * (`Upsert.dedupLastWins`).  The first reports (the first season of every
  * state) are the backfill: each is appended as its own segment
  * (`TxTable.commitAppend`, min/max stats on `year` and `unit`).  The rest
  * land one at a time as Parquet files in a directory a file-source stream
  * reads; its foreachBatch sink merges each batch into the table with
  * `TxTable.streamingMerge` on `Fixtures.prodKeys`: the estimate and ratio
  * update, `herd_name` keeps its first value.
  *
  * One commit = from the batch file becoming visible (an atomic rename)
  * to `processAllAvailable` returning.  Between commits the client makes
  * seeded point reads (`TxTable.readWhereEquals` on `unit`, narrowed to the
  * full key; keys of recent batches favoured) and one time-travel read
  * (`TxTable.readVersion` of a seeded earlier version, one year slice);
  * every `CompactEvery` commits it runs `TxTable.compactSmall`.
  *
  * A report touches the keys of one state-season, which live in one
  * segment, so a merge rewrites that segment only; a report that opens a
  * season adds a segment.  Compaction folds the small segments into one,
  * and later revisions of its seasons rewrite all of it: the read, write
  * and space trade-off the per-layer metrics show.
  *
  * Checks replay a keyed model of the same batches: every point read, the
  * table head and one time-travel version must equal the model. */
final class LakeUpsert(a: Main.Args) extends Main.Workload {
  import LakeUpsert._

  private val root = s"${a.work}/lake/table"
  private val landing = s"${a.work}/lake/landing"
  private val ckpt = s"${a.work}/lake/checkpoint"
  private val batchFiles: IndexedSeq[File] =
    Option(new File(a.inputs).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toIndexedSeq
  private val rng = new scala.util.Random(a.seed)

  private var query: StreamingQuery = null
  @volatile private var sinkTrace: Trace = new Trace(null, enabled = false)
  private var landed = 0
  // version published after each landed batch (index = batches landed - 1)
  private val versionAfter = mutable.ArrayBuffer.empty[Long]
  private val compactVersions = mutable.ArrayBuffer.empty[(Int, Long)] // (batches landed, version)
  private val reads = mutable.ArrayBuffer.empty[Read]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var fixedPoint: Option[Map[String, Double]] = None
  private var landedBytes = 0L
  private var landedRows = 0L

  def canary(spark: SparkSession): Unit =
    spark.read.schema(StageSchema).parquet(batchFiles.head.getPath).count()

  private def production(stage: DataFrame): DataFrame =
    Upsert.dedupLastWins(Relational.explodeCsv(stage, "gmu_list", "unit"), Fixtures.prodKeys, DedupOrder)

  private def sink(df: DataFrame, batchId: Long): Unit =
    sinkTrace.span("streaming", "streaming.sink") {
      val one = production(df)
      sinkTrace.span("txtable", "txtable.merge") {
        TxTable.streamingMerge(root, Fixtures.prodKeys, UpdateCols, PreserveCols,
          statsCols = Seq("year", "unit"))(one, batchId)
      }
    }

  def prepare(spark: SparkSession, trace: Trace): Unit = {
    Seq(root, landing, ckpt).foreach(p => Files.createDirectories(Paths.get(p)))
    loadBatches(spark)
    batchFiles.take(States.size).foreach { f =>
      val one = production(spark.read.schema(StageSchema).parquet(f.getPath))
        .select((Fixtures.prodKeys ++ UpdateCols ++ PreserveCols).map(col): _*)
      TxTable.commitAppend(spark, root, one, statsCols = Seq("year", "unit"))
      landed += 1
      landedBytes += f.length()
      landedRows += batchRows(landed - 1).size
      versionAfter += TxTable.latestVersion(spark, root).get
    }
    query = spark.readStream.schema(StageSchema).parquet(landing)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(sink _).start()
    (0 until WarmBatches).foreach { _ =>
      commit(spark, trace)
      pointRead(spark, trace)
      timeTravel(spark, trace)
    }
  }

  private def commit(spark: SparkSession, trace: Trace): Double = {
    val f = batchFiles(landed)
    val tmp = Paths.get(landing, "." + f.getName)
    Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    val t0 = System.nanoTime()
    trace.span("op", "commit") {
      trace.span("streaming", "streaming.trigger") {
        Files.move(tmp, Paths.get(landing, f.getName), StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (query.exception.isDefined) throw query.exception.get
    landed += 1
    landedBytes += f.length()
    versionAfter += TxTable.latestVersion(spark, root).get
    if (landed == FixedPointBatches) fixedPoint = Some(amplification(spark))
    ms
  }

  private def pointRead(spark: SparkSession, trace: Trace): Double = {
    // a key from a recent batch (the model resolves which exist), else random
    val b = math.max(0, landed - 1 - (rng.nextInt(4)))
    val key =
      if (rng.nextDouble() < 0.8) recentKey(b)
      else Key(States(rng.nextInt(States.size)), Species(rng.nextInt(3)), 2020 + rng.nextInt(4),
        rng.nextInt(1000))
    val t0 = System.nanoTime()
    val rows = trace.span("op", "read") {
      trace.span("txtable", "txtable.read") {
        TxTable.readWhereEquals(spark, root, "unit", key.unit.toLong)
          .filter(col("state") === key.state && col("species") === key.species &&
            col("year") === key.year)
          .collect()
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    reads += Read(landed, None, Some(key), rows.map(rowOf).sorted)
    ms
  }

  private def timeTravel(spark: SparkSession, trace: Trace): Double = {
    val idx = rng.nextInt(landed)
    val v = versionAfter(idx)
    val year = 2020 + rng.nextInt(3)
    val t0 = System.nanoTime()
    val rows = trace.span("op", "read") {
      trace.span("txtable", "txtable.timetravel") {
        TxTable.readVersion(spark, root, v).filter(col("year") === year).collect()
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    reads += Read(idx + 1, Some(year), None, rows.map(rowOf).sorted)
    ms
  }

  private def compact(spark: SparkSession, trace: Trace): Unit = {
    trace.span("op", "compact") {
      trace.span("txtable", "txtable.compact")(TxTable.compactSmall(spark, root, CompactMinBytes))
    }
    compactVersions += ((landed, TxTable.latestVersion(spark, root).get))
  }

  // keys written by batch b, from the preloaded rows
  private val keysOf = mutable.Map.empty[Int, IndexedSeq[Key]]
  private def recentKey(b: Int): Key = {
    val ks = keysOf.getOrElseUpdate(b, Model.production(batchRows(b)).keys.toIndexedSeq.sorted)
    if (ks.isEmpty) Key("none", "none", 0, 0) else ks(rng.nextInt(ks.size))
  }

  // every batch's rows, read once in prepare (outside the measured window)
  private var stageRows: IndexedSeq[Seq[StageRow]] = IndexedSeq.empty
  private def batchRows(b: Int): Seq[StageRow] = stageRows(b)

  private def loadBatches(spark: SparkSession): Unit = {
    val byFile = spark.read.schema(StageSchema).parquet(batchFiles.map(_.getPath): _*)
      .withColumn("__f", input_file_name()).collect()
      .groupBy(r => new File(new java.net.URI(r.getString(7))).getName)
    stageRows = batchFiles.map(f => byFile.getOrElse(f.getName, Array.empty[Row]).toSeq.map { r =>
      StageRow(r.getString(0), r.getString(1), Option(r.getString(2)), r.getLong(3), r.getDouble(4),
        r.getInt(5), r.getString(6))
    })
  }

  def run(spark: SparkSession, trace: Trace, deadlineNs: Long, maxOps: Int): Main.Window = {
    sinkTrace = trace
    val commits = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val rows0 = landedRows
    val from = landed
    val t0 = System.nanoTime()
    var done = false
    while (!done) {
      try {
        commits += commit(spark, trace)
        landedRows += batchRows(landed - 1).size
        (0 until PointReads).foreach(_ => readMs += pointRead(spark, trace))
        readMs += timeTravel(spark, trace)
        if (landed % CompactEvery == 0) compact(spark, trace)
      } catch { case scala.util.control.NonFatal(e) =>
        errors += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
      done = System.nanoTime() >= deadlineNs || landed >= batchFiles.size ||
        (maxOps > 0 && commits.size >= maxOps) || errors.size > 5 || query.exception.isDefined
    }
    sinkTrace = new Trace(null, enabled = false)
    val wall = (System.nanoTime() - t0) / 1e9
    Main.Window(commits.toSeq, landedRows - rows0, wall, Map(
      "read_p50_ms" -> Main.pct(readMs.toSeq, 0.5), "read_p90_ms" -> Main.pct(readMs.toSeq, 0.9),
      "batch_from" -> from.toDouble, "batch_to" -> landed.toDouble))
  }

  /** Bytes under the table root against landed input and live data. */
  private def amplification(spark: SparkSession): Map[String, Double] = {
    val all = Files.walk(Paths.get(root)).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
    val total = all.map(Files.size).sum.toDouble
    val log = all.filter(_.toString.contains("/_txlog/")).map(Files.size).sum.toDouble
    val live = TxTable.read(spark, root).inputFiles.map(f => new File(new java.net.URI(f)).length()).sum.toDouble
    Map("txtable.write_amp" -> total / landedBytes, "txtable.space_amp" -> total / live,
      "txtable.log_bytes" -> log, "txtable.live_segments" -> TxTable.liveSegmentCount(spark, root).toDouble)
  }

  def check(spark: SparkSession, inject: Boolean): Main.Checked = {
    // replay the model batch by batch; snapshot after each landed batch
    val snaps = mutable.ArrayBuffer.empty[Map[Key, Value]]
    var m = Map.empty[Key, Value]
    (0 until landed).foreach { b => m = Model.merge(m, Model.production(batchRows(b))); snaps += m }
    var failed = 0
    val reasons = mutable.ArrayBuffer.empty[String] ++ errors
    failed += errors.size
    reads.zipWithIndex.foreach { case (r, i) =>
      val snap = snaps(r.batches - 1)
      val want = r.key match {
        case Some(k) => snap.get(k).map(v => (k, v)).toSeq.sorted
        case None => snap.filter(_._1.year == r.year.get).toSeq.sorted
      }
      val got = if (inject && i == 0) r.rows :+ ((Key("x", "x", 0, 0), Value(None, 0L, 0.0))) else r.rows
      if (got != want) {
        failed += 1
        if (reasons.size < 20) reasons += s"read $i after ${r.batches} batches: ${got.size} rows, model ${want.size}"
      }
    }
    val head = TxTable.read(spark, root).collect().map(rowOf).sorted.toSeq
    if (head != m.toSeq.sorted) { failed += 1; reasons += s"head: ${head.size} rows, model ${m.size}" }
    // one time-travel version: the snapshot after the middle landed batch
    val mid = math.max(1, landed / 2)
    val tt = TxTable.readVersion(spark, root, versionAfter(mid - 1)).collect().map(rowOf).sorted.toSeq
    if (tt != snaps(mid - 1).toSeq.sorted) { failed += 1; reasons += s"version ${versionAfter(mid - 1)} differs" }
    // a compaction publishes the same content as the version before it
    compactVersions.foreach { case (b, v) =>
      val c = TxTable.readVersion(spark, root, v).collect().map(rowOf).sorted.toSeq
      if (c != snaps(b - 1).toSeq.sorted) { failed += 1; reasons += s"compaction version $v differs" }
    }
    Main.Checked(landed + reads.size + compactVersions.size + 2, failed, reasons.toSeq)
  }

  def layers(spark: SparkSession, trace: Trace, w: Main.Window): Map[String, Double] = {
    // a short or slow run lands fewer batches than the fixed point needs:
    // land the rest after the windows, untimed and untraced
    val off = new Trace(null, enabled = false)
    while (fixedPoint.isEmpty && landed < batchFiles.size && errors.size <= 5)
      try commit(spark, off) catch { case scala.util.control.NonFatal(e) =>
        errors += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    val spans = trace.allSpans
    def mean(name: String) = {
      val s = spans.filter(_.name == name); if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
    }
    val merges = spans.count(_.name == "txtable.merge").max(1)
    val phases = trace.streamingPhases
    val incoming = (w.extra("batch_from").toInt until w.extra("batch_to").toInt)
      .map(b => Model.production(batchRows(b)).size).sum
    val reads = spans.filter(_.name == "txtable.read")
    Map(
      "txtable.merge_ms" -> mean("txtable.merge"),
      "txtable.merge_jobs" -> trace.jobsIn("txtable.merge").toDouble / merges,
      "txtable.rewrite_ratio" -> trace.recordsWrittenIn("txtable.merge").toDouble / incoming.max(1),
      "txtable.read_ms" -> mean("txtable.read"),
      "txtable.read_files" -> (if (reads.isEmpty) 0.0 else readFiles(spark)),
      "txtable.timetravel_ms" -> mean("txtable.timetravel"),
      "txtable.compact_ms" -> mean("txtable.compact"),
      "txtable.compact_bytes" -> {
        val c = spans.filter(_.name == "txtable.compact")
        if (c.isEmpty) 0.0 else c.map(_.counters.bytesWritten).sum.toDouble / c.size
      },
      "streaming.trigger_ms" -> phases.getOrElse("triggerExecution", 0.0),
      "streaming.latest_offset_ms" -> phases.getOrElse("latestOffset", 0.0),
      "streaming.query_planning_ms" -> phases.getOrElse("queryPlanning", 0.0),
      "streaming.add_batch_ms" -> phases.getOrElse("addBatch", 0.0),
      "streaming.wal_commit_ms" -> phases.getOrElse("walCommit", 0.0),
      "streaming.commit_offsets_ms" -> phases.getOrElse("commitOffsets", 0.0),
      "streaming.overhead_ms" -> (mean("streaming.trigger") - mean("streaming.sink"))
    ) ++ fixedPoint.getOrElse(Map.empty)
  }

  /** Files a point read scans, on the final table (seeded keys). */
  private def readFiles(spark: SparkSession): Double = {
    val r = new scala.util.Random(a.seed)
    val ks = (0 until 8).map(_ => recentKey(math.max(0, landed - 1 - r.nextInt(4))))
    ks.map(k => TxTable.readWhereEquals(spark, root, "unit", k.unit.toLong).inputFiles.length).sum / 8.0
  }

  override def stop(): Unit = if (query != null) { query.stop(); query = null }
}

object LakeUpsert {
  val WarmBatches = 2
  val PointReads = 1
  val CompactEvery = 8
  /** Above a fresh report's segment (~12 KB), below a backfill segment
    * (~32 KB): compaction folds the streamed seasons, never the backfill,
    * so the table keeps several segments and merges keep pruning. */
  val CompactMinBytes: Long = 24L * 1024
  /** Amplification and log size are read after exactly this many batches,
    * so they count work, not run length. */
  val FixedPointBatches = 24
  val UpdateCols = Seq("post_hunt_estimate", "male_female_ratio")
  val PreserveCols = Seq("herd_name")
  val DedupOrder = Seq(col("post_hunt_estimate").desc, col("male_female_ratio").desc,
    col("herd_name").desc_nulls_last)
  /** The generator's states (`gen.py`), in order: the first report of
    * each is the backfill. */
  val States = IndexedSeq("colorado", "idaho", "montana", "utah", "wyoming")
  val Species = IndexedSeq("deer", "elk", "pronghorn")

  val StageSchema: StructType = StructType(Seq(
    StructField("state", StringType), StructField("species", StringType),
    StructField("herd_name", StringType), StructField("post_hunt_estimate", LongType),
    StructField("male_female_ratio", DoubleType), StructField("year", IntegerType),
    StructField("gmu_list", StringType)))

  final case class StageRow(state: String, species: String, herd: Option[String], post: Long,
                            ratio: Double, year: Int, gmu: String)
  final case class Key(state: String, species: String, year: Int, unit: Int)
  object Key { implicit val ord: Ordering[Key] = Ordering.by(k => (k.state, k.species, k.year, k.unit)) }
  final case class Value(herd: Option[String], post: Long, ratio: Double)
  object Value { implicit val ord: Ordering[Value] = Ordering.by(v => (v.herd, v.post, v.ratio)) }
  final case class Read(batches: Int, year: Option[Int], key: Option[Key], rows: Seq[(Key, Value)])

  def rowOf(r: Row): (Key, Value) =
    (Key(r.getAs[String]("state"), r.getAs[String]("species"), r.getAs[Int]("year"), r.getAs[Int]("unit")),
      Value(Option(r.getAs[String]("herd_name")), r.getAs[Long]("post_hunt_estimate"),
        r.getAs[Double]("male_female_ratio")))

  /** The keyed model of one batch through the production load. */
  object Model {
    private val Gate = "^[0-9 ,]+$".r
    def production(rows: Seq[StageRow]): Map[Key, Value] = {
      val exploded = rows.filter(r => Gate.matches(r.gmu.trim)).flatMap(r =>
        r.gmu.split(",", -1).map(u => Key(r.state, r.species, r.year, u.trim.toInt) ->
          Value(r.herd, r.post, r.ratio)))
      // dedupLastWins order: estimate desc, ratio desc, herd desc (nulls last)
      val better: (Value, Value) => Boolean = (x, y) =>
        if (x.post != y.post) x.post > y.post
        else if (x.ratio != y.ratio) x.ratio > y.ratio
        else (x.herd, y.herd) match {
          case (Some(p), Some(q)) => p > q
          case (Some(_), None) => true
          case _ => false
        }
      exploded.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).reduce((x, y) => if (better(y, x)) y else x) }
    }
    def merge(m: Map[Key, Value], batch: Map[Key, Value]): Map[Key, Value] =
      batch.foldLeft(m) { case (acc, (k, v)) =>
        acc.updated(k, acc.get(k).map(old => Value(old.herd, v.post, v.ratio)).getOrElse(v))
      }
  }
}
