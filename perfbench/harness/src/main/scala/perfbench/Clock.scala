package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** The clocks an operation is measured with: wall time; the CPU time of
  * every thread of this JVM (driver, executors, JIT compiler and
  * collector share it in local mode); and the CPU time the hypervisor
  * gave to other guests while this machine's CPUs wanted to run (steal,
  * from /proc/stat; 0 where it cannot be read). Steal lengthens wall
  * time but not this process's CPU time. */
object Clock {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Reading(wallNs: Long, cpuNs: Long, steal: Long, all: Long)

  /** What one or more operations took; `steal` and `all` are jiffies of
    * every CPU of the machine. */
  final case class Elapsed(wallS: Double, cpuS: Double, steal: Long, all: Long) {
    def +(o: Elapsed): Elapsed =
      Elapsed(wallS + o.wallS, cpuS + o.cpuS, steal + o.steal, all + o.all)
    def stealPct: Double = if (all > 0) 100.0 * steal / all else 0.0
  }

  val zero: Elapsed = Elapsed(0, 0, 0, 0)

  def now(): Reading = {
    val (steal, all) = jiffies()
    Reading(System.nanoTime(), os.getProcessCpuTime, steal, all)
  }

  def since(r: Reading): Elapsed = {
    val n = now()
    Elapsed((n.wallNs - r.wallNs) / 1e9, (n.cpuNs - r.cpuNs) / 1e9,
      n.steal - r.steal, n.all - r.all)
  }

  private val jit = ManagementFactory.getCompilationMXBean

  /** Waits until the JIT compiler has finished no compilation for
    * 0.5 s, at most 10 s, so that compilations queued by earlier work
    * do not run inside the next timed operation. Returns the wall
    * seconds waited. */
  def settle(): Double = {
    val quietMs = 500L
    val t0 = System.nanoTime()
    val end = System.currentTimeMillis() + 10000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < end &&
        System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(50)
      val t = jit.getTotalCompilationTime
      if (t != last) { last = t; quietSince = System.currentTimeMillis() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Steal and all jiffies from the first line of /proc/stat:
    * `cpu user nice system idle iowait irq softirq steal ...`. */
  private def jiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").slice(1, 9).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }
}
