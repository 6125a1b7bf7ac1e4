package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Two readings of the heap over the measured steps.
  *
  *  - Retained: the old generation in use after the full collections
  *    [[collect]] forces once a step has finished, from the old memory
  *    pool's collection usage. This is the heap a step leaves behind; it
  *    repeats closely from run to run.
  *  - Peak after collection: the heap left after every collection, young or
  *    full, that starts inside a [[during]] window, from the collectors'
  *    notifications, and the retained heap. This catches memory a step holds
  *    while it runs, but when a young collection falls in a step, and so its
  *    live set, varies from run to run.
  */
final class Heap {
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && Seq("Old", "Tenured").exists(p.getName.contains))
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (collection start in ms since the JVM started, heap bytes after it) */
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      afterGc.add(gc.getStartTime -> gc.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var retained = 0L

  /** Run a measured step, counting the collections that start inside it. */
  def during[A](body: => A): A = {
    val t0 = uptime.getUptime
    try body finally windows += (t0 -> uptime.getUptime)
  }

  /** Force a full collection and record the old generation left after it.
    * The first collection hands Spark's ContextCleaner the cached blocks and
    * shuffles whose owners died; the second, after it had time to drop them,
    * measures what the step really left behind. */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    if (windows.nonEmpty)
      oldPool.foreach(p => Option(p.getCollectionUsage).foreach(u => retained = math.max(retained, u.getUsed)))
  }

  /** Collections that started inside a measured step. */
  def inStep: Seq[Long] = afterGc.asScala.toSeq
    .collect { case (t, used) if windows.exists { case (a, b) => t >= a && t <= b } => used }

  def retainedMb: Double = retained / 1048576.0

  def peakAfterGcMb: Double = (retained +: inStep).max / 1048576.0

  def close(): Unit = emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
}
