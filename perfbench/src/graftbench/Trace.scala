package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Benchmark-owned tracing. A span is one timed layer call; its id rides
  * the Spark local property [[Trace.SpanKey]] so every job and stage the
  * call runs is attributed to it by the listener. Spans and their Spark
  * aggregates stay in memory until the run ends. Nothing here touches
  * graft's own code. */
object Trace {
  val SpanKey = "graftbench.span"

  final class Span(val id: Int, val name: String) {
    var startNs = 0L
    var endNs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spark work attributed to one span. */
  final class Agg {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsIn = 0L
    var bytesIn = 0L
    var skewMax = 1.0
    // closed job intervals (submit → end), for time-in-jobs vs gaps
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val aggs = new ConcurrentHashMap[Int, Agg]()

  def agg(span: Span): Agg = aggs.computeIfAbsent(span.id, _ => new Agg)

  /** Time `body` as span `name`, tagging its Spark jobs. */
  def span[T](sc: SparkContext, name: String)(body: => T): (T, Span) = {
    val s = synchronized { val s = new Span(spans.size + 1, name); spans += s; s }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** The listener's queue drains asynchronously; wait until every event
    * posted so far has been delivered before reading aggregates. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  final class Listener extends SparkListener {
    private val jobSpan = new ConcurrentHashMap[Int, Integer]()
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageSpan = new ConcurrentHashMap[Int, Integer]()
    private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      id.foreach { s =>
        val sid = s.toInt
        jobSpan.put(e.jobId, sid)
        jobStart.put(e.jobId, e.time * 1000000L)
        e.stageIds.foreach(st => stageSpan.put(st, sid))
        val a = aggs.computeIfAbsent(sid, _ => new Agg)
        a.synchronized { a.jobs += 1 }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { sid =>
        val a = aggs.get(sid.intValue)
        val start = jobStart.remove(e.jobId)
        a.synchronized { a.jobIntervals += ((start.longValue, e.time * 1000000L)) }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      sid.foreach(s => stageSpan.putIfAbsent(e.stageInfo.stageId, s.toInt))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = e.stageInfo.stageId
      Option(stageSpan.remove(st)).foreach { sid =>
        val a = aggs.computeIfAbsent(sid.intValue, _ => new Agg)
        val times = Option(stageTaskMs.remove(st)).getOrElse(mutable.ArrayBuffer.empty[Long])
        a.synchronized {
          a.stages += 1
          if (times.size > 1) {
            val sorted = times.sorted
            val median = math.max(1L, sorted(sorted.size / 2))
            a.skewMax = math.max(a.skewMax, sorted.last.toDouble / median)
          }
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { sid =>
        val a = aggs.computeIfAbsent(sid.intValue, _ => new Agg)
        val m = e.taskMetrics
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized { stageTaskMs.get(e.stageId) += e.taskInfo.duration }
        if (m != null) a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.recordsIn += m.inputMetrics.recordsRead
          a.bytesIn += m.inputMetrics.bytesRead
        }
      }
  }

  /** Micro-batch progress of streaming queries. */
  final class StreamListener extends StreamingQueryListener {
    val batchMs = mutable.ArrayBuffer.empty[Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      if (e.progress.numInputRows > 0)
        batchMs += e.progress.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
    }
    def reset(): Unit = synchronized { batchMs.clear() }
  }

  /** Sum of aggregates over several spans. */
  def total(ss: Seq[Span]): Agg = {
    val t = new Agg
    ss.foreach { s =>
      val a = agg(s)
      a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
        t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
        t.spill += a.spill; t.recordsIn += a.recordsIn; t.bytesIn += a.bytesIn
        t.skewMax = math.max(t.skewMax, a.skewMax)
        t.jobIntervals ++= a.jobIntervals
      }
    }
    t
  }

  /** Wall time covered by the union of the job intervals, in seconds. */
  def inJobsSeconds(a: Agg): Double = {
    val iv = a.jobIntervals.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e9
  }

  /** The run's Spark counters as `spark.*` metrics. */
  def sparkMetrics(a: Agg, wallSeconds: Double, cores: Int): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    Seq(
      ("spark.jobs", a.jobs.toDouble, "count"),
      ("spark.stages", a.stages.toDouble, "count"),
      ("spark.tasks", a.tasks.toDouble, "count"),
      ("spark.executor_run_s", a.runMs / 1e3, "s"),
      ("spark.executor_cpu_s", a.cpuNs / 1e9, "s"),
      ("spark.gc_s", a.gcMs / 1e3, "s"),
      ("spark.shuffle_read_mb", a.shuffleRead / mb, "MB"),
      ("spark.shuffle_write_mb", a.shuffleWrite / mb, "MB"),
      ("spark.spill_mb", a.spill / mb, "MB"),
      ("spark.task_skew_max", a.skewMax, "ratio"),
      ("spark.core_busy_share", if (wallSeconds > 0) a.runMs / 1e3 / (wallSeconds * cores) else 0.0, "share"))
  }

  // ------------------------------------------------------------------ JVM

  /** Used heap after a full collection: the least of five, so garbage
    * freed only by a later collection (reference queues, cleaner
    * threads) does not count. */
  def heapRetainedMb(): Double =
    (0 until 5).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def storageRetainedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
}
