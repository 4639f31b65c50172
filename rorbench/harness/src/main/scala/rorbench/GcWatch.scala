package rorbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Every garbage collection of this JVM, read from the collectors' own
  * notifications (not from sampling), with the heap in use right after it. */
final class GcWatch {
  import GcWatch.Gc

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val events = new ConcurrentLinkedQueue[Gc]()
  @volatile private var explicitLatch: CountDownLatch = new CountDownLatch(0)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val gc = info.getGcInfo
        val used = gc.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        events.add(Gc(jvmStart + gc.getEndTime, gc.getDuration, info.getGcCause, used))
        if (info.getGcCause == "System.gc()") explicitLatch.countDown()
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Full collection; returns the heap in use after it, in bytes, as the
    * collector reported it. */
  def liveHeapBytes(): Long = {
    explicitLatch = new CountDownLatch(1)
    val before = System.currentTimeMillis()
    System.gc()
    if (!explicitLatch.await(10, TimeUnit.SECONDS))
      throw new IllegalStateException("no GC notification after System.gc()")
    events.asScala.filter(g => g.cause == "System.gc()" && g.endMs >= before - 1)
      .map(_.usedAfterBytes).lastOption.getOrElse(0L)
  }

  /** Collections that ended inside `[fromMs, toMs]`, explicit ones excluded. */
  def within(fromMs: Long, toMs: Long): Seq[Gc] =
    events.asScala.filter(g => g.endMs >= fromMs && g.endMs <= toMs && g.cause != "System.gc()").toSeq
}

object GcWatch {
  final case class Gc(endMs: Long, durationMs: Long, cause: String, usedAfterBytes: Long)
}
