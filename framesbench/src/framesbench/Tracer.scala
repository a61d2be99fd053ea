package framesbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.framesbench.BusBridge
import org.apache.spark.scheduler._

/** One recorded interval: pass -> operation -> Spark job -> stage. Times
  * are epoch milliseconds on the clock Spark stamps its events with, so
  * the driver's spans and the scheduler's spans compare directly. */
final case class Span(
    id: Long,
    kind: String,
    name: String,
    parent: Long,
    start: Long,
    var end: Long = -1L,
    counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Task metrics summed over one stage (peak execution memory is a max). */
final class StageCounts {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var peakExecBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    inputBytes += m.inputMetrics.bytesRead
    inputRecords += m.inputMetrics.recordsRead
    outputBytes += m.outputMetrics.bytesWritten
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillDiskBytes += m.diskBytesSpilled
    peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
  }

  def toCounts: Seq[(String, Double)] = Seq(
    "tasks" -> tasks.toDouble, "run_ms" -> runMs.toDouble,
    "cpu_ns" -> cpuNs.toDouble, "gc_ms" -> gcMs.toDouble,
    "input_bytes" -> inputBytes.toDouble, "input_records" -> inputRecords.toDouble,
    "output_bytes" -> outputBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "fetch_wait_ms" -> fetchWaitMs.toDouble,
    "spill_disk_bytes" -> spillDiskBytes.toDouble,
    "peak_exec_bytes" -> peakExecBytes.toDouble)
}

/** The benchmark's own listener. Spans stay in memory until [[spans]] is
  * read at run end.
  *
  * Draining: [[drain]] first waits until the bus has delivered every event
  * posted so far, then polls a monotone event counter (bumped on job
  * start, job end and stage completion) together with the set of jobs
  * that have started but not ended. It returns only when no job is open
  * and the counter held still across consecutive polls, so the last
  * job's end is always recorded before a span closes. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val ids = new AtomicLong(0L)
  private val events = new AtomicLong(0L)
  private val all = mutable.ArrayBuffer.empty[Span]
  private val openJobs = mutable.Set.empty[Int]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageCounts = mutable.Map.empty[Int, StageCounts]
  /** Span id of the operation now running on the driver (closed loop:
    * at most one at a time); jobs without the span property go here. */
  private val currentOp = new AtomicReference[Span](null)

  def open(kind: String, name: String, parent: Long): Span = {
    val s = Span(ids.incrementAndGet(), kind, name, parent, System.currentTimeMillis())
    all.synchronized { all += s }
    if (kind == "op") {
      currentOp.set(s)
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    }
    s
  }

  /** Closes `s` once every job it started has ended. */
  def close(s: Span): Unit = {
    if (s.kind == "op") drain()
    all.synchronized { s.end = System.currentTimeMillis() }
    if (s.kind == "op") {
      currentOp.set(null)
      sc.setLocalProperty(Tracer.SpanProperty, null)
    }
  }

  def drain(timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    BusBridge.waitUntilEmpty(sc, timeoutMs)
    var last = events.get
    var still = 0
    while (still < 2) {
      Thread.sleep(5)
      val now = events.get
      val idle = openJobs.synchronized(openJobs.isEmpty)
      if (idle && now == last) still += 1 else still = 0
      last = now
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"listener did not drain: ${openJobs.synchronized(openJobs.toList)} jobs open")
    }
  }

  def spans: Seq[Span] = all.synchronized(all.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fromProp = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong)
    val parent = fromProp.orElse(Option(currentOp.get).map(_.id)).getOrElse(0L)
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(s"job ${e.jobId}")
    val s = Span(ids.incrementAndGet(), "job", desc, parent, e.time)
    s.counts("job_id") = e.jobId.toDouble
    all.synchronized { all += s }
    jobSpans.synchronized {
      jobSpans(e.jobId) = s
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
    }
    openJobs.synchronized { openJobs += e.jobId }
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobSpans.synchronized(jobSpans.get(e.jobId)).foreach { s =>
      all.synchronized {
        s.end = e.time
        s.counts("succeeded") = if (e.jobResult == JobSucceeded) 1.0 else 0.0
      }
    }
    openJobs.synchronized { openJobs -= e.jobId }
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) stageCounts.synchronized {
      stageCounts.getOrElseUpdate(e.stageId, new StageCounts).add(e.taskMetrics)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = jobSpans.synchronized(stageJob.get(info.stageId))
    val end = info.completionTime.getOrElse(System.currentTimeMillis())
    val s = Span(ids.incrementAndGet(), "stage", info.name,
      job.map(_.id).getOrElse(0L), info.submissionTime.getOrElse(end), end)
    val c = stageCounts.synchronized(stageCounts.remove(info.stageId))
      .getOrElse(new StageCounts)
    c.toCounts.foreach { case (k, v) => s.counts(k) = v }
    s.counts("stage_id") = info.stageId.toDouble
    all.synchronized { all += s }
    events.incrementAndGet()
  }
}

object Tracer {
  val SpanProperty = "framesbench.span"
}
