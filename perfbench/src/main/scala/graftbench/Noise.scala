package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host-noise markers recorded next to every run's numbers: a fixed
  * single-core spin (effective per-core speed), hypervisor steal% from
  * /proc/stat over each timed phase, and the 1-minute load average. */
object Noise {

  /** Wall ms of a fixed single-thread ALU loop (~0.1 s on a healthy
    * core). Throttling or memory-bandwidth pressure from co-tenants
    * inflates it 1:1, which steal accounting misses. */
  def calibMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 60000000) {
      x = java.lang.Long.rotateLeft(x * 0x100000001b3L, 31) ^ i
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("calib sentinel") // keeps the loop live
    dt
  }

  /** (busy incl. steal, steal) jiffies from /proc/stat's aggregate line;
    * (0, 0) where it is absent. */
  def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // user nice system idle iowait irq softirq steal ...
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val idle = f.lift(3).getOrElse(0L) + f.lift(4).getOrElse(0L)
        (f.sum - idle, f.lift(7).getOrElse(0L))
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Run `body`; return its result and the steal% of the CPU time the
    * VM demanded meanwhile (idle excluded, so a 1-busy-core phase that
    * was stolen half the time reads ~50, not ~12). */
  def stealOver[A](body: => A): (A, Double) = {
    val (b0, s0) = cpuStat()
    val a = body
    val (b1, s1) = cpuStat()
    (a, if (b1 - b0 <= 0) 0.0 else 100.0 * (s1 - s0) / (b1 - b0))
  }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+").head.toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}

/** Largest old-generation occupancy after a full collection, sampled at
  * phase boundaries. (The after-any-GC peak from GC notifications varied
  * about 10% run to run; this varies under 1%.) */
final class HeapPeak {
  private var peak = 0L

  def start(): Unit = peak = 0L

  /** Old generation after a full collection, MB; also raises the peak. */
  def sampleMb(): Double = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peak = math.max(peak, used)
    used / (1024.0 * 1024.0)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
