package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in trace collector.
  *
  * Spans are recorded by the benchmark around each call into the engine
  * (never inside it); every span carries its parent and the operation it
  * belongs to.  At the same boundaries the collector reads process-wide
  * counters: Hadoop `FileSystem` statistics and Spark's `CodegenMetrics`.
  * Spark's public listener APIs (scheduler, SQL execution, streaming
  * progress) add what happens below the call.  Everything stays in memory;
  * [[layers]] reduces it once, after the measured window.
  *
  * A disabled trace is a pass-through: no listener is registered and
  * [[span]] only runs its body, so untraced runs measure the bare program.
  * An enabled trace times its own work (span bookkeeping and counter reads
  * on the calling thread, listener callbacks on Spark's bus threads): that
  * time over the operations' wall time is `trace.overhead_share`. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var client: Thread = null
  @volatile private var clientTop = -1
  private var nextId = 0
  private val ownNs = new java.util.concurrent.atomic.LongAdder

  /** Runs `body` and adds its duration to the trace's own time. */
  private def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.add(System.nanoTime() - t0)
  }

  // listener-side state, written on the listener bus thread
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var queryExecutions = 0
  private val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = own(Trace.this.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = own(Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = own(Trace.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = own(Trace.this.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    })
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = own(Trace.this.synchronized {
      queryExecutions += 1
      qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs.toDouble }
    })
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) own(Trace.this.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      })
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Times `body` as a span of `layer`.  A span opened on no open parent
    * is an operation, and its thread is the client thread until it closes;
    * a span opened on another thread (the streaming sink) becomes a child
    * of the client thread's innermost open span. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val enter = System.nanoTime()
      val me = Thread.currentThread
      val parentStack = stack.get
      val onClient = client == null || client == me
      val parent = parentStack.headOption.getOrElse(if (onClient) -1 else clientTop)
      val isOp = parent == -1
      val id = synchronized { nextId += 1; nextId }
      if (isOp) client = me
      if (onClient) clientTop = id
      stack.set(id :: parentStack)
      val before = Counters.now()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      ownNs.add(t0 - enter)
      try body
      finally {
        val t1 = System.nanoTime()
        own {
          val after = Counters.now()
          stack.set(parentStack)
          if (onClient) clientTop = parent
          if (isOp) client = null
          synchronized {
            spans += Span(id, parent, layer, name, t0, t1, startMs, after - before)
          }
        }
      }
    }

  /** Wait until the asynchronous listener buses have delivered every event
    * (all started jobs ended, SQL and streaming listeners quiet). */
  def drain(): Unit = if (enabled) {
    def snapshot = synchronized((jobs.count(_._2.end < 0), jobs.size, queryExecutions, progress.size))
    val deadline = System.currentTimeMillis() + 10000
    var last = snapshot
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      (last._1 > 0 || System.currentTimeMillis() - stableSince < 300)) {
      Thread.sleep(50)
      val s = snapshot
      if (s != last) { last = s; stableSince = System.currentTimeMillis() }
    }
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Per-layer reduction over the measured window.  `ops` is the number of
    * workload operations the window completed; counts and times are
    * reported per operation so runs of different length compare. */
  def layers(ops: Int, cores: Int): Map[String, Double] = synchronized {
    val all = spans.toList
    val opSpans = all.filter(s => s.parent == -1)
    val per = (x: Double) => if (ops == 0) 0.0 else x / ops
    val windows = opSpans.map(_.window).sortBy(_._1)
    val opJobs = jobsInside(opSpans).filter(_.end >= 0)
    val opWallMs = opSpans.map(_.ms).sum
    val jobUnionMs = windows.map { case (a, b) =>
      union(opJobs.map(j => (math.max(j.start.toDouble, a), math.min(j.end.toDouble, b)))
        .filter { case (x, y) => y > x })
    }.sum
    val runMs = opJobs.map(_.runMs).sum.toDouble
    val c0 = all.filter(_.parent == -1).map(_.counters).foldLeft(Counters.zero)(_ + _)
    val selfMs = selfTimes(all)
    Map(
      "sql.analysis_ms" -> per(phases("analysis")),
      "sql.optimization_ms" -> per(phases("optimization")),
      "sql.planning_ms" -> per(phases("planning")),
      "codegen.compiles_per_op" -> per(c0.compiles.toDouble),
      "sched.jobs_per_op" -> per(opJobs.size.toDouble),
      "sched.stages_per_op" -> per(opJobs.map(_.stages).sum.toDouble),
      "sched.tasks_per_op" -> per(opJobs.map(_.tasks).sum.toDouble),
      "sched.job_wall_ms" -> per(jobUnionMs),
      "sched.task_run_ms" -> per(runMs),
      "sched.task_cpu_ms" -> per(opJobs.map(_.cpuNs).sum / 1e6),
      "sched.task_gc_ms" -> per(opJobs.map(_.gcMs).sum.toDouble),
      "sched.core_util" -> (if (jobUnionMs > 0) runMs / (jobUnionMs * cores) else 0.0),
      "shuffle.write_bytes" -> per(opJobs.map(_.shuffleWrite).sum.toDouble),
      "shuffle.read_bytes" -> per(opJobs.map(_.shuffleRead).sum.toDouble),
      "shuffle.fetch_wait_ms" -> per(opJobs.map(_.fetchWaitMs).sum.toDouble),
      "shuffle.spill_bytes" -> per(opJobs.map(_.spill).sum.toDouble),
      "fs.read_ops" -> per(c0.readOps.toDouble),
      "fs.write_ops" -> per(c0.writeOps.toDouble),
      "fs.bytes_read" -> per(c0.bytesRead.toDouble),
      "fs.bytes_written" -> per(c0.bytesWritten.toDouble),
      "driver.residual_ms" -> per(opWallMs - jobUnionMs),
      "driver.residual_share" -> (if (opWallMs > 0) (opWallMs - jobUnionMs) / opWallMs else 0.0),
      "trace.overhead_share" -> (if (opWallMs > 0) ownNs.sum / 1e6 / opWallMs else 0.0)
    ) ++ selfMs.map { case (layer, ms) => s"self.${layer}_ms" -> per(ms) }
  }

  /** Per span name: spans, their summed wall time, the part of it covered
    * by Spark jobs that ran inside them (interval union), and self time. */
  def breakdown: Seq[Breakdown] = synchronized {
    val all = spans.toList
    val self = selfTimeOf(all)
    all.groupBy(s => (s.layer, s.name)).toSeq.sortBy(_._1).map { case ((layer, name), ss) =>
      val jobMs = ss.map { s =>
        val (a, b) = s.window
        union(jobsInside(Seq(s)).filter(_.end >= 0)
          .map(j => (math.max(j.start.toDouble, a), math.min(j.end.toDouble, b))).filter { case (x, y) => y > x })
      }.sum
      Breakdown(layer, name, ss.size, ss.map(_.ms).sum, jobMs, ss.map(self).sum)
    }
  }

  /** Jobs run on behalf of `ss`: those that started inside one of their
    * windows (job times are epoch milliseconds, hence the 1 ms slack). */
  private def jobsInside(ss: Seq[Span]): Seq[Job] = {
    val w = ss.map(_.window)
    jobs.values.filter(j => w.exists { case (a, b) => j.start >= a - 1 && j.start <= b + 1 }).toSeq
  }

  /** Records written by jobs that started inside spans named `name`. */
  def recordsWrittenIn(name: String): Long =
    synchronized(jobsInside(spans.filter(_.name == name).toSeq).map(_.recordsWritten).sum)

  /** Jobs that started inside spans named `name`. */
  def jobsIn(name: String): Int = synchronized(jobsInside(spans.filter(_.name == name).toSeq).size)

  /** Mean per data-carrying micro-batch of each streaming progress phase. */
  def streamingPhases: Map[String, Double] = synchronized {
    if (progress.isEmpty) Map.empty
    else progress.flatMap(_.keys).distinct.map(k =>
      k -> progress.map(_.getOrElse(k, 0L)).sum.toDouble / progress.size).toMap
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover. */
  private def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val self = selfTimeOf(all)
    all.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(self).sum }
  }

  /** A span's self time in milliseconds. */
  private def selfTimeOf(all: Seq[Span]): Span => Double = {
    val kids = all.groupBy(_.parent)
    s => {
      val covered = union(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.start, s.start).toDouble, math.min(k.end, s.end).toDouble)))
      ((s.end - s.start) - covered) / 1e6
    }
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        start: Long, end: Long, startMs: Long, counters: Counters) {
    def ms: Double = (end - start) / 1e6
    /** [start, end] in epoch milliseconds, the clock listener events use. */
    def window: (Double, Double) = (startMs.toDouble, startMs + ms)
  }

  final case class Breakdown(layer: String, name: String, spans: Int, wallMs: Double,
                             jobMs: Double, selfMs: Double)

  final case class Job(id: Int, start: Long, var end: Long) {
    var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var recordsWritten = 0L
  }

  /** Process-wide counters read at span boundaries: file-system operations
    * ([[CountingFileSystem]]), bytes (Hadoop FS statistics) and codegen
    * compilations. */
  final case class Counters(readOps: Long, writeOps: Long, bytesRead: Long,
                            bytesWritten: Long, compiles: Long) {
    def -(o: Counters) = Counters(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten, compiles - o.compiles)
    def +(o: Counters) = Counters(readOps + o.readOps, writeOps + o.writeOps,
      bytesRead + o.bytesRead, bytesWritten + o.bytesWritten, compiles + o.compiles)
  }

  object Counters {
    val zero: Counters = Counters(0, 0, 0, 0, 0)
    def now(): Counters = {
      val fs = FileSystem.getAllStatistics.asScala
      Counters(CountingFileSystem.reads.sum, CountingFileSystem.writes.sum, fs.map(_.getBytesRead).sum,
        fs.map(_.getBytesWritten).sum, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
  }

  /** Total length of a union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
