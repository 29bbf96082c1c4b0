package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Host contention over a timed window, read from /proc: the 1-minute
  * load average at its end, and the CPU time that other processes and
  * the hypervisor (steal) took while it ran. A contended run names
  * itself in its own record.
  */
final class HostWindow {
  private def cpuLine: Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  private def selfTicks: Long = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val after = f.substring(f.lastIndexOf(')') + 2).split(" ")
    after(11).toLong + after(12).toLong // utime, stime
  }
  private val tick = 100.0 // USER_HZ on Linux
  private val cpu0 = cpuLine
  private val self0 = selfTicks

  /** (load1, other processes' CPU seconds, steal seconds) since construction. */
  def close(): (Double, Double, Double) = {
    val cpu1 = cpuLine
    val d = cpu1.zip(cpu0).map { case (a, b) => a - b }
    // user nice system idle iowait irq softirq steal
    val busy = d(0) + d(1) + d(2) + d(5) + d(6)
    val steal = if (d.length > 7) d(7) else 0L
    val load1 = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    (load1, math.max(0L, busy - (selfTicks - self0)) / tick, steal / tick)
  }
}

/** Peak heap occupancy right after a collection, over a window: the live
  * set the driver (and, in local mode, the executors and block manager)
  * actually holds, not garbage awaiting collection.
  */
final class HeapPeak extends NotificationListener {
  @volatile private var peak = 0L
  @volatile private var open = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (open && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }

  def start(): Unit = { peak = 0L; open = true }

  /** Peak after-GC heap in MB; a final collection closes the window so a
    * window without any collection still reports its live set.
    */
  def stopMb(): Double = {
    System.gc()
    Thread.sleep(50)
    open = false
    peak / (1024.0 * 1024.0)
  }
}
