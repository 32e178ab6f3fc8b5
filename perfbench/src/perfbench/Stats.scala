package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def secs(ns: Long): Double = ns / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(System.nanoTime() - t0))
  }
}

/** Peak heap retained after garbage collection while armed: the largest
  * heap occupancy any collector left behind, read from the JVM's GC
  * notifications. `arm` forces no collection: a full collection before the
  * timed part slowed the next operations (README, "Run budget"). */
final class HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def arm(): Unit = {
    synchronized { peak = 0L }
    armed = true
  }

  def disarm(): Unit = armed = false

  def peakMb: Double = peak / (1024.0 * 1024.0)

  def close(): Unit =
    beans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
}
