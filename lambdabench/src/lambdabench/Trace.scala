package lambdabench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** JVM-wide probes read around the timed region. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def cpuNs(): Long = os.getProcessCpuTime
  def gcCount(): Long = gcs.map(_.getCollectionCount).filter(_ >= 0).sum
  def gcMs(): Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Host speed probe, run outside the timed region: every core at once
    * refills and sorts its own 128 Ki-long array. Returns the wall seconds
    * of the round and the CPU seconds its threads used. The arrays are
    * allocated once, so the probe itself makes no garbage; it still shares
    * the cores with this JVM's JIT and GC threads and with other tenants. */
  private lazy val tickArrays =
    Array.fill(Runtime.getRuntime.availableProcessors())(new Array[Long](1 << 17))

  def tick(): (Double, Double) = {
    val threadCpu = ManagementFactory.getThreadMXBean
    val cpuNs = new AtomicLong
    val t0 = System.nanoTime()
    val threads = tickArrays.zipWithIndex.map { case (a, i) =>
      new Thread(() => {
        val c0 = threadCpu.getCurrentThreadCpuTime
        var x = 0x9E3779B97F4A7C15L * (i + 1)
        var j = 0
        while (j < a.length) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          a(j) = x
          j += 1
        }
        java.util.Arrays.sort(a)
        cpuNs.addAndGet(threadCpu.getCurrentThreadCpuTime - c0)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ((System.nanoTime() - t0) / 1e9, cpuNs.get / 1e9)
  }

  /** Peak heap in use after a collection, in bytes: the live data the
    * timed work kept, which is what driver-side collects grow. Reset at the
    * start of the timed region. */
  private val peakAfterGc = new AtomicLong(0)
  def resetHeapPeak(): Unit = peakAfterGc.set(0)
  def heapPeakBytes(): Long = peakAfterGc.get

  gcs.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }
}

/** One span per call into a layer. Spans of one operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span buffer, written once when the run ends. Disabled (every
  * call a no-op) in untraced runs. */
final class Spans(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.HashMap.empty[Long, Span]
  private val ids = new AtomicLong(0)
  /** Nanoseconds spent opening and closing spans on the measured path. */
  val hookNs = new AtomicLong(0)

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally hookNs.addAndGet(System.nanoTime() - t0)
  }

  def begin(name: String, parent: Long, op: Long): Long =
    if (!enabled) 0L
    else timed(synchronized {
      val id = ids.incrementAndGet()
      open(id) = Span(id, parent, op, name, System.nanoTime(), 0L)
      id
    })

  def end(id: Long): Unit = if (enabled) timed(synchronized {
    open.remove(id).foreach(s => buf += s.copy(endNs = System.nanoTime()))
  })

  /** Records a finished span (the listener's job spans; timed there). */
  def add(s: Span): Unit =
    if (enabled) synchronized { buf += s.copy(id = ids.incrementAndGet()) }

  def around[T](name: String, parent: Long, op: Long)(f: => T): T = {
    val id = begin(name, parent, op)
    try f finally end(id)
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = buf.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark scheduler counters for the traced region: jobs, stages, tasks,
  * task time, shuffle, spill, scan bytes and peak execution memory, plus
  * the task intervals that give the driver gap (wall time with no task
  * running). Job spans are attributed to the operation whose id the
  * benchmark put in the `lambdabench.op` local property. */
final class LayerListener(spans: Spans) extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val scan = new AtomicLong
  val peakExecMem = new AtomicLong
  /** Nanoseconds spent inside this listener's callbacks. */
  val hookNs = new AtomicLong
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally hookNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, (System.nanoTime(),
      prop(e.properties, "lambdabench.span"), prop(e.properties, "lambdabench.op")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, op) =>
      spans.add(Span(0, parent, op, "spark.job", t0, System.nanoTime()))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    synchronized { intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      scan.addAndGet(m.inputMetrics.bytesRead)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Milliseconds during which at least one task ran. */
  def busyMs(): Long = synchronized {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
