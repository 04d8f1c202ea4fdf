package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: an op, one of its phases (construct / plan /
  * execute), a Spark job or a stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Double, end: Double)

/** Counters of one Spark application, summed from listener events.
  * Always on (the end-to-end `cpu_s_per_op` reads them); with `keepSpans`
  * it also keeps job and stage spans, tied to op phases by job group. */
final class SparkCounters(keepSpans: Boolean) extends SparkListener {
  val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, fetchWaitMs, spill = new AtomicLong
  val schedDelayMs = new AtomicLong
  val peakExec = new AtomicLong
  val constructJobs = new AtomicLong

  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
  val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long)]()

  def reset(): Unit = {
    Seq(jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleWrite, shuffleRead,
      fetchWaitMs, spill, schedDelayMs, peakExec, constructJobs).foreach(_.set(0))
    jobSpans.clear(); stageSpans.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (group.endsWith("/construct")) constructJobs.incrementAndGet()
    if (keepSpans) {
      jobStart.put(e.jobId, (e.time, group))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId.toLong))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (keepSpans) Option(jobStart.remove(e.jobId)).foreach { case (t0, g) =>
      jobSpans.add((g, e.jobId, t0, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val si = e.stageInfo
    if (keepSpans) for (s <- si.submissionTime; c <- si.completionTime)
      stageSpans.add((si.stageId,
        Option(stageJob.get(si.stageId)).map(_.toInt).getOrElse(-1), s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      schedDelayMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Block until every posted event reached the listeners, so a counter
    * read after an action includes that action's task ends. The bus
    * drain is private[spark] in Scala and public in bytecode. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => () }
}

/** Micro-batch progress of every streaming query in the session. */
final class StreamCounters extends StreamingQueryListener {
  val batches = new AtomicLong
  val batchMs = new AtomicLong
  val rows = new AtomicLong
  def reset(): Unit = { batches.set(0); batchMs.set(0); rows.set(0) }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      batches.incrementAndGet()
      batchMs.addAndGet(p.batchDuration)
      rows.addAndGet(p.numInputRows)
    }
  }
}

/** In-memory span recorder for a traced run: op and phase spans from the
  * loop, job and stage spans from [[SparkCounters]]; written when the run
  * ends. */
final class Tracer {
  private val next = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val phaseByGroup = mutable.HashMap.empty[String, Long]
  private val opOf = mutable.HashMap.empty[Long, Long]
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def span(parent: Long, op: Long, layer: String, name: String,
      start: Double, end: Double): Long = {
    val id = next.getAndIncrement()
    spans += Span(id, parent, op, layer, name, start, end)
    id
  }

  def phase(group: String, id: Long, op: Long): Unit = {
    phaseByGroup(group) = id; opOf(id) = op
  }

  /** Attach the listener's job and stage spans to the phases whose job
    * group started them; stages nest under their job. */
  def attach(c: SparkCounters): Unit = {
    val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]
    c.jobSpans.asScala.foreach { case (g, jobId, s, e) =>
      phaseByGroup.get(g).foreach { ph =>
        val op = opOf(ph)
        jobSpan(jobId) = (span(ph, op, "job", s"job $jobId", s.toDouble, e.toDouble), op)
      }
    }
    c.stageSpans.asScala.foreach { case (stageId, jobId, s, e) =>
      jobSpan.get(jobId).foreach { case (js, op) =>
        span(js, op, "stage", s"stage $stageId", s.toDouble, e.toDouble)
      }
    }
  }

  /** Self time per layer, in seconds: each span's duration minus the
    * part of it its children cover. */
  def selfTimes(): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var cur = (Double.NaN, Double.NaN)
        iv.foreach { case (a, b) =>
          if (cur._1.isNaN) cur = (a, b)
          else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
          else { covered += cur._2 - cur._1; cur = (a, b) }
        }
        if (!cur._1.isNaN) covered += cur._2 - cur._1
        (s.end - s.start - covered) / 1000.0
      }.sum
    }
  }
}

/** Driver JVM readings: GC time, heap pool peaks and the process's
  * resident-set high-water mark. */
object Driver {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def loadavg(): String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
  }
}
