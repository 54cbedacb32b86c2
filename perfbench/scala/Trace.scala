package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters charged to one span name. Times are nanoseconds or
  * milliseconds as Spark reports them; [[Tracer]] converts on output. */
final class SpanStats {
  var calls = 0L
  var wallNs = 0L
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var fetchWaitMs = 0L
}

/** Spans recorded in the benchmark's own code around each call into the
  * engine, plus a SparkListener that charges every job, stage and task to
  * the span that submitted it.
  *
  * A span names itself in the SparkContext local property [[Tracer.Key]];
  * Spark copies local properties into each job's properties (and into the
  * threads the engine spawns for side jobs), so attribution survives the
  * asynchronous listener bus. A job without the property is charged to
  * [[Tracer.Unattributed]]. When disabled, [[span]] only runs its body. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile private var enabled = false
  private val stats = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private var markerSeq = 0

  def get(name: String): SpanStats = stats.computeIfAbsent(name, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val span = Option(js.properties).flatMap(p => Option(p.getProperty(Key)))
        .getOrElse(Unattributed)
      jobSpan.put(js.jobId, span)
      js.stageIds.foreach(stageSpan.put(_, span))
      if (span == Unattributed) System.err.println("perfbench: job outside any span: " +
        Option(js.properties).map(_.getProperty("callSite.short")).orNull)
      if (!span.startsWith(MarkerPrefix)) get(span).synchronized { get(span).jobs += 1 }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(je.jobId)).flatMap(s => Option(markers.get(s)))
        .foreach(_.countDown())

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(te.stageId, Unattributed)
      val m = te.taskMetrics
      if (span.startsWith(MarkerPrefix) || m == null) return
      val info = te.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val s = get(span)
      s.synchronized {
        s.tasks += 1
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** Start charging Spark work to spans. */
  def enable(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  /** Stop charging: drains the listener bus first so no event of a traced
    * job is lost, then detaches the listener. */
  def disable(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener); enabled = false }

  /** Run `f` as span `name`; jobs it submits are charged to `name`. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val dt = System.nanoTime() - t0
        sc.setLocalProperty(Key, parent)
        val s = get(name)
        s.synchronized { s.calls += 1; s.wallNs += dt }
      }
    }

  /** Block until the listener has seen every event posted so far: submit a
    * one-task marker job and wait for its end event (the bus is FIFO). */
  def drain(): Unit = if (enabled) {
    markerSeq += 1
    val name = s"$MarkerPrefix$markerSeq"
    val latch = new CountDownLatch(1)
    markers.put(name, latch)
    val parent = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, parent)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("Spark listener bus did not drain within 60 s")
    markers.remove(name)
  }

  /** Stats summed over every span whose name satisfies `p`. */
  def sum(p: String => Boolean): SpanStats = {
    val out = new SpanStats
    stats.asScala.foreach { case (n, s) =>
      if (p(n)) s.synchronized {
        out.calls += s.calls; out.wallNs += s.wallNs; out.jobs += s.jobs
        out.tasks += s.tasks; out.inputBytes += s.inputBytes
        out.inputRecords += s.inputRecords; out.outputBytes += s.outputBytes
        out.shuffleWriteBytes += s.shuffleWriteBytes
        out.shuffleReadBytes += s.shuffleReadBytes; out.spillBytes += s.spillBytes
        out.cpuNs += s.cpuNs; out.gcMs += s.gcMs
        out.schedulerDelayMs += s.schedulerDelayMs; out.fetchWaitMs += s.fetchWaitMs
      }
    }
    out
  }

  def named(name: String): SpanStats = sum(_ == name)

  def unattributedJobs: Long = named(Unattributed).jobs
}

object Tracer {
  val Key = "perfbench.span"
  val Unattributed = "(unattributed)"
  private val MarkerPrefix = "(marker)"
}

/** Driver-JVM and host probes. In `local[N]` the driver JVM also runs every
  * executor task, so its GC and heap cover the whole engine. */
object Probes {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since [[resetHeapPeak]], MiB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Cumulative steal time of all CPUs, seconds (0 where /proc is absent). */
  def stealSeconds: Double = procLine("/proc/stat").map { l =>
    val f = l.trim.split("\\s+")
    if (f.length > 8 && f(0) == "cpu") f(8).toDouble / 100.0 else 0.0
  }.getOrElse(0.0)

  def loadAvg: Double =
    procLine("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(0.0)

  private def procLine(path: String): Option[String] = {
    val f = new java.io.File(path)
    if (!f.canRead) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_ => true) finally src.close()
    }
  }

  /** Write then read back a 32 MiB file in `dir`; MB/s over both passes.
    * A host whose memory or page cache is throttled shows here. */
  def fileBandwidthMbps(dir: java.io.File): Double = {
    val f = new java.io.File(dir, "bandwidth.probe")
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 7.toByte)
    val n = 32
    val t0 = System.nanoTime()
    val out = new java.io.FileOutputStream(f)
    try (0 until n).foreach(_ => out.write(buf)) finally out.close()
    val in = new java.io.FileInputStream(f)
    try while (in.read(buf) > 0) {} finally in.close()
    val dt = (System.nanoTime() - t0) / 1e9
    f.delete()
    2.0 * n * 1.048576 / dt
  }
}
