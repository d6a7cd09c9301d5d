package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed interval at a layer boundary. Times are wall-clock ms (with
  * sub-ms resolution) so they line up with Spark listener timestamps.
  * `op` is shared by every span of one battery entry or one app batch.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Disabled, `span` runs its body and nothing
  * else, so untraced runs pay no tracing cost.
  */
final class Trace(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)
  // Node bodies may run on the graph runner's worker threads; spans opened
  // there with no open span of their own attach to the adopting span.
  @volatile private var adopter: Option[(Int, String)] = None

  def span[A](name: String, op: String = null, adopt: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.get.headOption.orElse(adopter)
      val id = ids.incrementAndGet()
      val opId = Option(op).orElse(parent.map(_._2)).getOrElse("")
      val start = nowMs
      open.set((id, opId) :: open.get)
      if (adopt) adopter = Some((id, opId))
      try body
      finally {
        if (adopt) adopter = None
        open.set(open.get.tail)
        spans.add(Span(id, parent.fold(0)(_._1), name, opId, start, nowMs))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = spans.clear()
}

object Trace {
  val off = new Trace(false)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }

  /** A span's self time: its length minus what its children cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double =
    s.seconds - unionLength(children.map(c => (c.startMs, c.endMs)), s.startMs, s.endMs) / 1000.0
}

/** Work counted outside the engine: Spark task and job events from a
  * listener, JVM compile and GC time, and the process's syscall counters.
  */
final class Counters extends SparkListener {
  import Counters.TaskRec

  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  val sqlExecs = new ConcurrentLinkedQueue[(Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val sqlStart = new ConcurrentHashMap[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks.add(TaskRec(i.finishTime, m.executorCpuTime, math.max(0L, sched),
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(s.executionId)).foreach(t => sqlExecs.add((t, s.time)))
    case _ => ()
  }

  def clear(): Unit = { tasks.clear(); jobs.clear(); sqlExecs.clear() }

  def tasksIn(lo: Double, hi: Double): Seq[TaskRec] =
    tasks.asScala.filter(t => t.endMs >= lo && t.endMs <= hi).toSeq
  def jobIntervals: Seq[(Double, Double)] =
    jobs.asScala.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }
  def sqlIntervals: Seq[(Double, Double)] =
    sqlExecs.asScala.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }
}

object Counters {
  final case class TaskRec(endMs: Long, cpuNs: Long, schedMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long,
      inputRecords: Long, outputBytes: Long, outputRecords: Long)

  /** Block until Spark has delivered every posted listener event. */
  def drainBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Throwable => Thread.sleep(200) }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1000.0

  def jitSeconds: Double =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(0.0)(_.getTotalCompilationTime / 1000.0)

  private def procFields(file: String): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().flatMap { l =>
        l.split(":", 2) match {
          case Array(k, v) => v.trim.split("\\s+").headOption
            .flatMap(_.toLongOption).map(k.trim -> _)
          case _ => None
        }
      }.toMap finally src.close()
    } catch { case _: java.io.IOException => Map.empty }

  /** (read syscalls, write syscalls, bytes passed to write calls). */
  def io(): (Long, Long, Long) = {
    val f = procFields("/proc/self/io")
    (f.getOrElse("syscr", 0L), f.getOrElse("syscw", 0L), f.getOrElse("wchar", 0L))
  }

  /** Peak resident set of this process, in MB. */
  def peakRssMb: Double = procFields("/proc/self/status").getOrElse("VmHWM", 0L) / 1024.0
}
