package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One recorded span: a benchmark call into a layer (kind "layer"), or a
  * Spark job, stage or task that such a call caused. `parent` is 0 for a
  * root span. Times are epoch microseconds. */
final case class SpanRec(id: Long, parent: Long, name: String, kind: String,
    startUs: Long, endUs: Long, attrs: Seq[(String, Any)])

/** Executor-side totals over the tasks the tracer has seen since the last
  * [[Tracer.resetTotals]]. Written by the listener-bus thread only; read
  * after [[Tracer.drain]]. */
final class TaskTotals {
  var jobs, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var peakExecMem = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  /** Worst stage's max / median task duration, over stages of 2+ tasks. */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ds.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** In-memory span recorder. [[span]] wraps a call into a layer: it sets
  * the Spark job group of the calling thread to the span's id, so the jobs
  * that call triggers (also from threads it spawns, which inherit the
  * group) attach to it; the tracer, registered as a SparkListener, records
  * those jobs, their stages and their tasks as child spans. Spans stay in
  * memory until [[write]]. */
final class Tracer extends SparkListener {
  private var sc: SparkContext = _
  private var active = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue: List[Long] = Nil }
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000
  private def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000

  // the local-property keys SparkContext.setJobGroup writes
  private val JobGroupKey = "spark.jobGroup.id"
  private val JobDescKey = "spark.job.description"

  // listener-bus thread state
  private val jobSpans = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageSpans = mutable.Map.empty[(Int, Int), Long]
  @volatile private var cur = new TaskTotals

  /** Follow a new session's context; state keyed by job or stage ids
    * restarts with it. */
  def attach(context: SparkContext): Unit = {
    sc = context
    active = false
    jobSpans.clear(); stageJob.clear(); stageSpans.clear()
  }

  /** Record spans and listen to Spark only while on. */
  def setActive(on: Boolean): Unit = if (on != active) {
    if (on) sc.addSparkListener(this) else { drain(); sc.removeSparkListener(this) }
    active = on
  }

  def span[T](name: String, attrs: (String, Any)*)(f: => T): T =
    if (!active) f else traced(name, attrs)(f)

  private def traced[T](name: String, attrs: Seq[(String, Any)])(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    val prevDesc = sc.getLocalProperty(JobDescKey)
    sc.setJobGroup(s"span-$id", name)
    stack.set(id :: stack.get)
    val start = nowUs
    try f
    finally {
      spans.add(SpanRec(id, parent, name, "layer", start, nowUs, attrs))
      stack.set(stack.get.tail)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def resetTotals(): Unit = { drain(); cur = new TaskTotals }
  def totals: TaskTotals = { drain(); cur }

  private def stageSpan(stageId: Int, attempt: Int): Long =
    stageSpans.getOrElseUpdate((stageId, attempt), ids.incrementAndGet())

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val group = Option(js.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    val parent = group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong).getOrElse(0L)
    val id = ids.incrementAndGet()
    jobSpans(js.jobId) = (id, parent, js.time * 1000)
    js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = id)
    cur.jobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobSpans.remove(je.jobId).foreach { case (id, parent, start) =>
      spans.add(SpanRec(id, parent, s"job ${je.jobId}", "job", start, je.time * 1000,
        Seq("ok" -> (je.jobResult == JobSucceeded))))
    }

  override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
    val info = st.stageInfo
    val id = stageSpan(info.stageId, info.attemptNumber())
    val start = info.submissionTime.getOrElse(0L) * 1000
    val end = info.completionTime.getOrElse(0L) * 1000
    spans.add(SpanRec(id, stageJob.getOrElse(info.stageId, 0L), s"stage ${info.stageId}", "stage",
      start, end, Seq("tasks" -> info.numTasks, "failed" -> info.failureReason.isDefined)))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val info = te.taskInfo
    val m = te.taskMetrics
    val t = cur
    t.tasks += 1
    if (te.reason != Success) t.failedTasks += 1
    t.stageTaskMs.getOrElseUpdate((te.stageId, te.stageAttemptId), mutable.ArrayBuffer.empty) +=
      info.duration
    val attrs = mutable.ArrayBuffer[(String, Any)]("ok" -> (te.reason == Success))
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillDisk += m.diskBytesSpilled
      attrs ++= Seq("run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1000000,
        "gc_ms" -> m.jvmGCTime, "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead)
    }
    spans.add(SpanRec(ids.incrementAndGet(), stageSpan(te.stageId, te.stageAttemptId),
      s"task ${info.taskId}", "task", info.launchTime * 1000, info.finishTime * 1000, attrs.toSeq))
  }

  def spanCount: Int = spans.size

  def nowMicros: Long = nowUs

  /** Median duration in seconds of each layer span name started since `fromUs`. */
  def layerSeconds(fromUs: Long): Map[String, Double] =
    spans.asScala.toSeq.filter(s => s.kind == "layer" && s.startUs >= fromUs).groupBy(_.name)
      .map { case (k, v) => k -> Stats.median(v.map(s => (s.endUs - s.startUs) / 1e6)) }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    Files.mkdirs(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(s => (s.startUs, s.id)).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }.mkString(",")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_us":${s.startUs},"end_us":${s.endUs},"attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Process and host counters sampled around each timed pass. */
final case class HostSample(wallNs: Long, cpuNs: Long, gcMs: Long, stat: Array[Long]) {
  def -(o: HostSample): HostDelta = {
    val d = stat.indices.map(i => stat(i) - o.stat(i))
    val total = math.max(1L, d.sum)
    def share(i: Int): Double = if (i < d.length) d(i).toDouble / total else 0.0
    // /proc/stat cpu columns: user nice system idle iowait irq softirq steal
    HostDelta((wallNs - o.wallNs) / 1e9, (cpuNs - o.cpuNs) / 1e9, (gcMs - o.gcMs) / 1e3,
      share(7), share(4))
  }
}

final case class HostDelta(wallS: Double, cpuS: Double, gcS: Double, stealShare: Double,
    iowaitShare: Double)

object HostSample {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.emptyLongArray)
    finally src.close()
  }

  def now(): HostSample = HostSample(System.nanoTime(), os.getProcessCpuTime,
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum,
    procStat())

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
