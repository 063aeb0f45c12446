package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (id, parent, request, name, start,
  * end) in nanoseconds; the parent is the innermost open span of the
  * calling thread. Spans are only recorded while tracing is on and are
  * written out once, at run end. While a span is open its id is the
  * calling thread's Spark local property [[SpanKey]], so every Spark job
  * the call submits is attributed to it by [[JobListener]]. */
object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, req: Long, name: String,
      start: Long, end: Long)

  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def newRequest(): Unit = request.set(ids.incrementAndGet())

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      if (sc != null) sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        done.add(Span(id, stack.headOption.getOrElse(0L), request.get, name, t0, t1))
        open.set(stack)
        if (sc != null)
          sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Record a span timed by the caller, as a child of the calling
    * thread's innermost open span. */
  def record(name: String, start: Long, end: Long): Unit =
    if (on) done.add(Span(ids.incrementAndGet(), open.get.headOption.getOrElse(0L),
      request.get, name, start, end))

  def spans: Seq[Span] = done.asScala.toSeq

  /** The last span id handed out; with [[discardAfter]], drops the spans
    * of a stretch that is measured for another purpose. */
  def lastId: Long = ids.get

  def discardAfter(id: Long): Unit = done.removeIf(_.id > id)
}

/** Attributes Spark work to the span that submitted it: jobs and stages
  * by the job's [[Trace.SpanKey]] property, tasks and their bytes by
  * stage, and each task's run interval for the idle-share measure. */
object JobListener extends SparkListener {
  final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  private val bySpan = mutable.Map.empty[Long, Work]
  private val stageSpan = mutable.Map.empty[Int, Long]
  /** Every job, stage and task seen, attributed or not. */
  @volatile var totalJobs = 0L
  @volatile var totalStages = 0L
  @volatile var totalTasks = 0L

  def work: Map[Long, Work] = synchronized(bySpan.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totalJobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).foreach { sp =>
      val id = sp.toLong
      bySpan.getOrElseUpdate(id, new Work).jobs += 1
      e.stageInfos.foreach(s => stageSpan(s.stageId) = id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totalStages += 1
    stageSpan.get(e.stageInfo.stageId).foreach(id => bySpan(id).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totalTasks += 1
    stageSpan.get(e.stageId).foreach { id =>
      val w = bySpan(id)
      w.tasks += 1
      w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Process-level samples: `/proc/self/io` write bytes, GC time, live heap. */
object Probe {
  def writeBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith("write_bytes:") => l.split(":")(1).trim.toLong
      }.getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** (bytes, files) under a directory tree. */
  def treeSize(root: java.nio.file.Path): (Long, Long) = {
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val s = java.nio.file.Files.walk(root)
    try {
      var bytes = 0L; var files = 0L
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).foreach { p =>
        bytes += java.nio.file.Files.size(p); files += 1
      }
      (bytes, files)
    } finally s.close()
  }
}
