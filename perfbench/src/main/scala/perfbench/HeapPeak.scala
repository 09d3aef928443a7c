package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Peak live heap of a job: the largest old-generation occupancy right
  * after a full collection, over the full collections the job ran into
  * plus one forced as it commits (while its results are still held).
  * Young collections are left out: the old generation they leave behind
  * still holds dead objects, so their figure depends on when the next
  * marking cycle happened to run. So is the collection that opens the
  * window: it still holds what earlier jobs left for Spark's cleaner. */
object HeapPeak {
  private val peak = new AtomicLong(0L)
  /** JVM uptime (ms) at which the current window opened. */
  @volatile private var windowStartMs = Long.MaxValue

  private def isOld(pool: String): Boolean =
    pool.contains("Old") || pool.contains("Tenured")

  private lazy val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && isOld(p.getName)).toVector

  private lazy val installed: Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction.contains("major") && info.getGcInfo.getStartTime >= windowStartMs) {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if isOld(pool) => u.getUsed
            }.sum
            peak.accumulateAndGet(used, math.max)
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Collect now, then start a new window. */
  def reset(): Unit = {
    installed
    System.gc()
    windowStartMs = ManagementFactory.getRuntimeMXBean.getUptime
    peak.set(0L)
  }

  /** Collect now and return the window's peak, in MiB. */
  def sampleMb(): Double = {
    System.gc()
    val now = oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    math.max(peak.get(), now) / (1024.0 * 1024.0)
  }
}
