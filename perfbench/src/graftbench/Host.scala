package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and host counters read around a pass. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Restarts the heap-pool and resident-set peaks (Linux resets VmHWM on "5"). */
  def resetPeaks(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes))
  }

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set since the last [[resetPeaks]] (VmHWM). */
  def rssPeakMb: Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
  }.getOrElse(Double.NaN)

  private val threadMx = ManagementFactory.getThreadMXBean

  /** Starts timing how long threads wait to enter `synchronized` blocks. */
  def monitorContention(): Unit =
    if (threadMx.isThreadContentionMonitoringSupported) threadMx.setThreadContentionMonitoringEnabled(true)

  /** Milliseconds the calling thread has waited to enter monitors since
    * [[monitorContention]] (0 without it).
    */
  def blockedMs: Long = math.max(0L, threadMx.getThreadInfo(Thread.currentThread().getId).getBlockedTime)

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuTicks: (Long, Long) = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }.getOrElse((0L, 0L))

  def stealFrac(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total > 0) (after._1 - before._1).toDouble / total else 0.0
  }
}
