package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `qid` groups the spans of one
  * query (or one pipeline); times are nanoseconds on the JVM's monotonic
  * clock, relative to the tracer's origin when written out. */
final case class Span(id: Long, parent: Long, name: String, qid: Long,
    start: Long, end: Long, attrs: Map[String, Any])

/** In-memory span recorder. With `enabled = false` every call is a no-op
  * apart from handing out ids, so the untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  val origin: Long = System.nanoTime()
  /** Wall-clock milliseconds at `origin`, to place Spark's wall-clock
    * event times on the span timeline. */
  val wallOriginMs: Long = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  /** Time `body` as a span named `name` under `parent`. */
  def span[T](name: String, parent: Long, qid: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = {
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally add(Span(id, parent, name, qid, t0, System.nanoTime(), attrs))
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def rendered: Seq[Map[String, Any]] = all.sortBy(_.start).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "qid" -> s.qid,
      "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9) ++
      (if (s.attrs.isEmpty) Map.empty else Map("attrs" -> s.attrs))
  }
}

/** Spark-side counters for one stage, summed over its tasks. */
final class StageTally {
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** A Spark job: `span` is the query phase that fired it, `qid` its query,
  * `spanId` its own span (allocated at start so its stages can name it as
  * parent). */
final case class JobRecord(id: Int, group: String, span: Long, qid: Long, spanId: Long,
    stages: Seq[Int], startMs: Long, name: String, var endMs: Long = -1L)

/** The listener bundle of the traced run: jobs and stages (as spans under
  * the query phase that fired them), task resource totals per stage, and
  * cached-block bytes. The harness tags each phase with the local
  * properties `perfbench.span` and `perfbench.qid`; Spark copies local
  * properties onto every job. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageTally]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  var cachedPeakBytes = 0L

  private def nanosOf(ms: Long): Long =
    tracer.origin + (ms - tracer.wallOriginMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def tag(k: String): Long =
      props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val name = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = JobRecord(e.jobId, group, tag("perfbench.span"), tag("perfbench.qid"),
      tracer.nextId(), e.stageIds, e.time, name)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      tracer.add(Span(j.spanId, j.span, "job", j.qid, nanosOf(j.startMs),
        nanosOf(e.time), Map("job" -> j.id, "group" -> j.group, "callsite" -> j.name)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (sub <- si.submissionTime; done <- si.completionTime) {
      val id = tracer.nextId()
      val job = stageJob.get(si.stageId).flatMap(jobs.get)
      tracer.add(Span(id, job.map(_.spanId).getOrElse(0L), "stage",
        job.map(_.qid).getOrElse(0L), nanosOf(sub), nanosOf(done),
        Map("stage" -> si.stageId, "job" -> job.map(_.id).getOrElse(-1),
          "tasks" -> si.numTasks)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageId, new StageTally)
    t.tasks += 1
    t.busyMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = info.memSize + info.diskSize
      cachedBytes += now - blocks.getOrElse(key, 0L)
      if (now == 0) blocks.remove(key) else blocks(key) = now
      cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)
    }
  }

  /** Wait until every started job has ended on the listener bus. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

/** JVM-level probes, outside Spark: process CPU time, cumulative GC time,
  * and the heap occupancy right after a full collection. */
final class JvmProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heap = ManagementFactory.getMemoryMXBean
  @volatile var peakAfterGcBytes = 0L

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  def loadAvg: Double = os.getSystemLoadAverage

  /** Collect, then record the heap still occupied; returns the seconds the
    * collection took, so callers can keep it out of their timings. */
  def sampleHeap(): Double = {
    val (_, s) = Result.time(System.gc())
    peakAfterGcBytes = math.max(peakAfterGcBytes, heap.getHeapMemoryUsage.getUsed)
    s
  }
}
