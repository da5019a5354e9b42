package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM telemetry for the run record: CPU shares from
  * `/proc/stat` jiffies, the load average, peak heap and GC time. A
  * reader can tell host contention (steal, iowait, load above the cores
  * the run uses) from a code change using the record alone. */
object Host {

  /** Aggregate (total, idle, iowait, steal) jiffies; None off Linux. */
  def jiffies(): Option[(Long, Long, Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // fields: user nice system idle iowait irq softirq steal ...
      (f.sum, f(3), f.lift(4).getOrElse(0L), f.lift(7).getOrElse(0L))
    } finally src.close()
  } catch { case _: Exception => None }

  /** steal, cpu (busy) and iowait percentages over a jiffies window, plus
    * the current one-minute load average. Busy excludes iowait: counting
    * it busy would hide the disk-contention signal it exists to show. */
  def window(start: Option[(Long, Long, Long, Long)],
      end: Option[(Long, Long, Long, Long)]): Map[String, Double] = {
    val load1 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val pct = for {
      (t0, i0, w0, s0) <- start; (t1, i1, w1, s1) <- end
      dt = t1 - t0 if dt > 0
    } yield Map(
      "steal_pct" -> 100.0 * (s1 - s0) / dt,
      "cpu_pct" -> 100.0 * (dt - (i1 - i0) - (w1 - w0)) / dt,
      "iowait_pct" -> 100.0 * (w1 - w0) / dt)
    pct.getOrElse(Map.empty) + ("load1" -> load1)
  }

  /** Σ over heap pools of each pool's peak usage since the last reset. */
  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: what the run retains.
    * Spark releases shuffle and broadcast blocks only once a collection
    * has found their owners unreachable, so collect, let the cleaner run,
    * and collect again. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def resetPeakHeap(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Cumulative GC time of this JVM, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
