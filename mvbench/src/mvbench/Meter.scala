package mvbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters summed over every task, job and stage since the
 * listener was registered; two snapshots bracket a span. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    cpuNs: Long, runMs: Long, gcMs: Long, inputBytes: Long,
    inputRecords: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, resultBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    resultBytes - o.resultBytes)
}

final class EngineListener extends SparkListener {
  private val c = Array.fill(12)(new AtomicLong)
  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c(2).incrementAndGet()
    if (m != null) {
      c(3).addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      c(4).addAndGet(m.executorRunTime)
      c(5).addAndGet(m.jvmGCTime)
      c(6).addAndGet(m.inputMetrics.bytesRead)
      c(7).addAndGet(m.inputMetrics.recordsRead)
      c(8).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(9).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(10).addAndGet(m.diskBytesSpilled)
      c(11).addAndGet(m.resultSize)
    }
  }
  def snapshot(): Counters = {
    val v = c.map(_.get)
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9),
      v(10), v(11))
  }
}

/** A traced interval: spans of one job share `job`; `parent` is the
 * enclosing span's id, -1 at the job's root. */
final case class Span(id: Int, job: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wall clock, engine counters and (when tracing) spans. Spans stay in
 * memory and are written once, when the run ends. */
final class Meter(spark: SparkSession, val tracing: Boolean) {
  private val listener = new EngineListener
  spark.sparkContext.addSparkListener(listener)
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var job = -1

  def counters(): Counters = {
    BenchBridge.drainListeners(spark.sparkContext)
    listener.snapshot()
  }

  def startJob(): Unit = job += 1

  /** Runs `f` inside a span named `name`; a plain call when not tracing. */
  def span[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id, filled in when the span closes
      stack = id :: stack
      val c0 = counters()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans(id) = Span(id, job, name, parent, t0, t1, counters() - c0)
        stack = stack.tail
      }
    }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      pw.println(s"""{"id":${s.id},"job":${s.job},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""tasks":${s.counters.tasks},"task_cpu_s":${s.counters.cpuNs / 1e9}}""")
    } finally pw.close()
  }
}

/** Process and host probes for noise attribution. */
object Probes {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val compiler = ManagementFactory.getCompilationMXBean

  /** Total GC pause/collection time of this JVM, seconds. */
  def gcSeconds(): Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Total JIT compile time of this JVM, seconds. */
  def jitSeconds(): Double =
    if (compiler != null && compiler.isCompilationTimeMonitoringSupported)
      compiler.getTotalCompilationTime / 1e3
    else 0.0

  /** Host-wide CPU steal from /proc/stat, seconds summed over all CPUs
   * (0 where the file is absent). */
  def stealSeconds(): Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val v = l.trim.split("\\s+")
        if (v.length > 8) v(8).toLong / 100.0 else 0.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }

  /** Heap in use after full collections, MB. Spark drops the blocks of
   * unreachable persisted and checkpointed RDDs only after a collection
   * has found them (ContextCleaner, on its own thread), so collections
   * repeat 100 ms apart until, twice in a row, the heap shrank by less
   * than 1 MB and no persisted RDD went away (at most 10 rounds). */
  def liveHeapMb(sc: SparkContext): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var cur = used()
    var rdds = sc.getPersistentRDDs.size
    var calm = 0
    var rounds = 1
    while (calm < 2 && rounds < 10) {
      Thread.sleep(100)
      val (prev, prevRdds) = (cur, rdds)
      cur = used()
      rdds = sc.getPersistentRDDs.size
      calm = if (prev - cur < (1L << 20) && rdds == prevRdds) calm + 1 else 0
      rounds += 1
    }
    cur / 1048576.0
  }

  def jvmUptimeSeconds(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}
