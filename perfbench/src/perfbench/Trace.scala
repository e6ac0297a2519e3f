package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable.ArrayBuffer

/** Engine counters summed over every task and stage the listener saw. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, schedDelayMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spillDisk: Long = 0, peakExecMem: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, outputBytes: Long = 0,
    // file scans of json or text sources: how many times a pipeline read
    // its documents (parquet scans are vector-store reads, not sources)
    sourceScans: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, schedDelayMs - o.schedDelayMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spillDisk - o.spillDisk,
    // a peak does not subtract: Tracer.span sets the span's own
    peakExecMem,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    outputBytes - o.outputBytes, sourceScans - o.sourceScans)
}

/** SparkListener that keeps [[Counters]]; registered only in traced runs. */
final class CountingListener extends SparkListener {
  @volatile private var c = Counters()
  // peak execution memory of every task, in task-end order
  private val peaks = ArrayBuffer.empty[Long]
  def snapshot: Counters = synchronized(c)
  /** Highest task peak among the tasks numbered [from, until). */
  def peakBetween(from: Long, until: Long): Long = synchronized {
    (from.toInt until until.toInt).map(peaks).foldLeft(0L)(math.max)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val scans = e.stageInfo.rddInfos.count(r => r.name == "FileScanRDD" &&
      r.scope.exists(s => s.name.startsWith("Scan json") || s.name.startsWith("Scan text")))
    c = c.copy(stages = c.stages + 1, sourceScans = c.sourceScans + scans)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      peaks += m.peakExecutionMemory
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c = c.copy(
        tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        schedDelayMs = c.schedDelayMs + sched,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spillDisk = c.spillDisk + m.diskBytesSpilled,
        peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory),
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
    }
  }
}

/** StreamingQueryListener that keeps every progress event it is sent. */
final class ProgressListener extends StreamingQueryListener {
  private val events = ArrayBuffer.empty[StreamingQueryProgress]
  def forRun(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(events.filter(_.runId == runId).toSeq)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One recorded span: a layer call made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft. Inactive, it only runs the
  * body: untraced runs register no listener and set no job group. Active,
  * each span tags its Spark jobs with a job group named after the span,
  * waits for the listener bus to drain at both ends, and keeps the counter
  * delta. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val listener = new CountingListener
  val progress = new ProgressListener
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  private var on = false

  /** Whether calls are traced now. A traced run switches tracing off for
    * some calls (listeners removed too) to measure the tracing overhead. */
  def active: Boolean = on

  def setActive(b: Boolean): Unit = if (enabled && b != on) {
    val sc = spark.sparkContext
    if (b) {
      sc.addSparkListener(listener)
      spark.streams.addListener(progress)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.streams.removeListener(progress)
    }
    on = b
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val sc = spark.sparkContext
      drain()
      val before = listener.snapshot
      stack = (id, name) :: stack
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((_, pn)) => sc.setJobGroup(pn, pn)
          case None => sc.clearJobGroup()
        }
        drain()
        val after = listener.snapshot
        spans += Span(id, name, parent, t0, t1, (after - before).copy(
          peakExecMem = listener.peakBetween(before.tasks, after.tasks)))
      }
    }

  /** Spans recorded from now on: `named(name, since = mark)`. */
  def mark: Int = nextId
  def named(name: String, since: Int = 0): Seq[Span] =
    spans.filter(s => s.name == name && s.id >= since).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val rows = spans.map { s =>
      val c = s.counters
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},""" +
        s""""tasks":${c.tasks},"input_bytes":${c.inputBytes},""" +
        s""""output_bytes":${c.outputBytes},"shuffle_write_bytes":${c.shuffleWrite}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
