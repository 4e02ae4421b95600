package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** JVM-side counters read from the management beans: GC count and pause
  * time, the largest single pause, and the heap in use right after a
  * forced collection.
  */
object Jvm {
  /** (start, duration) of every collection, in ms of JVM uptime. */
  private val pauses = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private val peakAfterGcBytes = new AtomicLong

  /** Installs the GC notification listener; call once, before any work. */
  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val gc = info.getGcInfo
              pauses.add((gc.getStartTime, gc.getDuration))
              if (info.getGcCause == "System.gc()") {
                val after = gc.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
                peakAfterGcBytes.accumulateAndGet(after, math.max)
              }
            }
        }, null, null)
      case _ =>
    }

  /** Collections and total collection time so far. */
  def gcTotals(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum)
  }

  def uptimeMillis: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Longest collection that started at or after `sinceUptimeMs`. */
  def maxPauseMillis(sinceUptimeMs: Long = 0L): Long =
    pauses.asScala.collect { case (st, d) if st >= sinceUptimeMs => d }.maxOption.getOrElse(0L)

  /** Largest heap in use right after a collection the benchmark forced
    * (`System.gc()`), in MB: each workload forces one while its working set
    * is live, so this is that live set. Other collections are left out,
    * their after-heap depends on when they happen to run. Without any, the
    * heap in use now.
    */
  def heapLiveMb: Double = {
    val p = peakAfterGcBytes.get
    val bytes = if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / 1048576.0
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the calling thread. */
  def allocatedBytes(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** -Xmx and GC flags as the JVM was started. */
  def flags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:"))

  /** Whether `dir` sits on a tmpfs mount (longest matching mount point). */
  def onTmpfs(dir: String): Boolean = {
    val path = new java.io.File(dir).getCanonicalPath
    try {
      val src = scala.io.Source.fromFile("/proc/mounts")
      try src.getLines().map(_.split(" ")).filter(_.length > 2)
        .filter(f => path == f(1) || path.startsWith(f(1).stripSuffix("/") + "/"))
        .toSeq.sortBy(-_(1).length).headOption.exists(_(2) == "tmpfs")
      finally src.close()
    } catch { case _: java.io.IOException => false }
  }
}
