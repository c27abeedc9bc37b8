package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a public call into a program layer, or a request. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, req: Long)

/** Spark work attributed to one job group. */
final class GroupStats {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val runNs = new AtomicLong // executor run time
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleWriteRecords = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Job-group keyed Spark accounting. Each timed call runs under a job group
  * the harness sets; every job, task and stage is booked to that group.
  */
final class JobGroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** (group, stage name, callsite details head) of each completed stage. */
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, String, String)]()

  def of(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    of(g).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = of(stageGroup.getOrDefault(e.stageId, "-"))
    s.tasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.failed) s.failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      s.runNs.addAndGet(m.executorRunTime * 1000000L)
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      s.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add((stageGroup.getOrDefault(i.stageId, "-"), i.stageId, i.name,
      Option(i.details).map(_.linesIterator.take(3).mkString(" | ")).getOrElse("")))
  }
}

/** The traced run's recorder. With `on = false` every method is a cheap
  * pass-through: the untraced run sets no job groups and records nothing.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val listener: JobGroupListener =
    if (on) { val l = new JobGroupListener; sc.addSparkListener(l); l } else null
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Runs `f` as span `name`; Spark jobs it starts on this thread are booked
    * to job group `name`.
    */
  def span[T](name: String, req: Long = -1L)(f: => T): T = {
    if (!on) return f
    val id = nextId.getAndIncrement()
    val parent = current.get
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    current.set(id)
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), parent, req))
      current.set(parent)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  /** Records a finished request span that starts no Spark job. */
  def record(name: String, startNs: Long, endNs: Long, req: Long): Unit =
    if (on) spans.add(Span(nextId.getAndIncrement(), name, startNs, endNs, current.get, req))

  /** Bytes this thread has allocated so far (0 when untraced). */
  def allocated(): Long = if (on) threads.getCurrentThreadAllocatedBytes else 0L

  def spanList: Seq[Span] = spans.asScala.toSeq

  /** Total wall seconds of spans named `name`. */
  def seconds(name: String): Double =
    spans.asScala.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def count(name: String): Int = spans.asScala.count(_.name == name)

  def group(name: String): GroupStats =
    if (on) listener.of(name) else new GroupStats

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBridge.drain(sc)

  /** Writes spans and the stage log as JSON lines. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spanList.sortBy(_.startNs).foreach { s =>
        w.write(s"""{"span":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs},"parent":${s.parent},"req":${s.req}}""")
        w.newLine()
      }
      listener.stages.asScala.toSeq.sortBy(_._2).foreach { case (g, id, n, d) =>
        w.write(s"""{"stage":$id,"group":${Json.str(g)},"name":${Json.str(n)},"callsite":${Json.str(d)}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

/** JVM-wide GC time and heap peak, from the management beans. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
