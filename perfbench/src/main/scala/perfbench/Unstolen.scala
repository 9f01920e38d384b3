package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** A named unit of timed work: its wall seconds, and the same seconds
  * with the hypervisor's stolen CPU time taken out ([[Unstolen]]). */
final case class Timed(name: String, wallS: Double, unstolenS: Double)

/** Wall time with the hypervisor's stolen CPU time taken out.
  *
  * On a shared host the hypervisor takes CPU time from the guest's
  * runnable vCPUs (steal, `/proc/stat`), and that time stretches every
  * wall clock in the process. The guest's CPU accounting excludes it. Over
  * an interval of `wall` seconds in which the process ran `c` CPU-seconds
  * while `s` CPU-seconds were stolen, its threads were runnable for
  * `c + s` and ran for `c`. So, with steal spread evenly over them, the
  * interval would have taken `wall * c / (c + s)` without steal. The
  * benchmark is the only busy process of its host while it measures, so
  * the guest's steal is its own. With no steal the value is the wall time,
  * and anything that adds CPU or waiting raises it as it raises the wall.
  *
  * A sampler thread records process CPU and steal every 50 ms; [[mark]]
  * adds a sample at a point the caller times. */
object Unstolen {
  private final case class Sample(ns: Long, cpuNs: Long, stealS: Double)
  private val proc = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Records a sample now; returns its `System.nanoTime`. */
  def mark(): Long = {
    val cpu = proc.getProcessCpuTime
    val steal = graft.util.HostMetrics.stealSec()
    val ns = System.nanoTime()
    synchronized { samples += Sample(ns, cpu, steal) }
    ns
  }

  def start(): Unit = {
    val t = new Thread(() => while (true) { mark(); Thread.sleep(50) }, "perfbench-unstolen")
    t.setDaemon(true)
    t.start()
  }

  /** The `System.nanoTime` of an epoch time in milliseconds. */
  def nanosOfEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  /** Share of the process's runnable CPU time not stolen in `[a, b]`. */
  def share(a: Long, b: Long): Double = {
    val s = synchronized(samples.toVector).sortBy(_.ns)
    def at(ns: Long): (Double, Double) = {
      val i = s.indexWhere(_.ns >= ns)
      if (i < 0) (s.last.cpuNs.toDouble, s.last.stealS)
      else if (i == 0 || s(i).ns == ns) (s(i).cpuNs.toDouble, s(i).stealS)
      else {
        val (p, q) = (s(i - 1), s(i))
        val f = (ns - p.ns).toDouble / (q.ns - p.ns)
        (p.cpuNs + f * (q.cpuNs - p.cpuNs), p.stealS + f * (q.stealS - p.stealS))
      }
    }
    if (s.isEmpty) 1.0 else {
      val (c0, s0) = at(a); val (c1, s1) = at(b)
      val cpu = (c1 - c0) / 1e9
      // HostMetrics reads -1 throughout when the kernel has no steal field
      val stolen = math.max(0.0, s1 - s0)
      if (cpu <= 0) 1.0 else cpu / (cpu + stolen)
    }
  }

  /** A unit timed from `a` to `b` (`System.nanoTime`, the ends marked). */
  def timed(name: String, a: Long, b: Long): Timed =
    Timed(name, (b - a) / 1e9, (b - a) / 1e9 * share(a, b))
}
