package osmbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** Peak heap in use right after a collection, while armed: the sum of
  * the heap pools' after-GC usage from every GC notification. */
object HeapPeak {
  @volatile private var armed = false
  @volatile private var peak = 0L
  @volatile private var events = 0

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { peak = math.max(peak, used); events += 1 }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Run `body`; also return the peak after-GC heap during it, in MB,
    * and the number of collections it saw. */
  def during[T](body: => T): (T, Double, Int) = {
    peak = 0L
    events = 0
    armed = true
    try { val r = body; (r, peak / (1024.0 * 1024.0), events) }
    finally armed = false
  }
}

/** Spark engine counters from the scheduler's events. Task intervals
  * give the wall time during which no task ran (driver-side work). */
final class EngineListener extends SparkListener {
  var jobs, stages, tasks = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var gcMs, taskMs = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    taskMs += e.taskInfo.finishTime - e.taskInfo.launchTime
    Option(e.taskMetrics).foreach { m =>
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }

  /** Counters accumulated so far, by the metric names of the trace. */
  def snapshot: EngineListener.Snapshot = synchronized {
    EngineListener.Snapshot(jobs, stages, tasks, shuffleRead, shuffleWrite,
      spill, gcMs, taskMs, intervals.toVector)
  }
}

object EngineListener {
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, gcMs: Long,
      taskMs: Long, intervals: Vector[(Long, Long)]) {
    def minus(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs,
      stages - o.stages, tasks - o.tasks, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, spill - o.spill, gcMs - o.gcMs,
      taskMs - o.taskMs, intervals.drop(o.intervals.size))

    /** Milliseconds of [from, to] covered by at least one task. */
    def busyMs(from: Long, to: Long): Long = {
      var covered = 0L
      var end = from
      intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > end) { covered += b - math.max(a, end); end = b }
        }
      covered
    }
  }
}

/** Wall-clock spans around calls into the program's modules, kept in
  * memory and written out when the run ends. */
final class Spans {
  final case class Span(name: String, parent: Option[String], startNs: Long,
      endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    stack = name :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      all += Span(name, parent, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def seconds(name: String): Double =
    all.filter(_.name == name).map(_.seconds).sum
  def total: Double = all.filter(_.parent.isEmpty).map(_.seconds).sum
}
