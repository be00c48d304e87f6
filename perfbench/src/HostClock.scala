package perfbench

import scala.util.control.NonFatal

/** A clock that leaves out the time the host took from this machine.
  *
  * On a virtual machine whose host is shared, a vCPU that wants to run
  * may wait while the host runs someone else; Linux counts that wait as
  * `steal` in /proc/stat. Measured on 4-vCPU VMs, a host that took a
  * third of the machine's time made every call of the benchmark about
  * twice as slow, so wall time measured the neighbours, not graft.
  *
  * [[HostClock.since]] returns the wall time of an interval times the
  * share of it the machine's vCPUs ran when they wanted to run:
  * `wall * busy / (busy + steal)`, from the machine-wide jiffy counters
  * (`busy` = user + nice + system + irq + softirq). That is the time the
  * interval would have taken had the host stolen nothing, if the steal
  * fell evenly over the work. Without steal it is the wall time. Where
  * /proc/stat is missing (not Linux) it is the wall time too.
  */
object HostClock {
  final case class Mark(ns: Long, busy: Long, steal: Long)

  /** (busy, steal) jiffies of the whole machine, or (0, 0). */
  def jiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  } catch { case NonFatal(_) => (0L, 0L) }

  def mark(): Mark = { val (b, s) = jiffies(); Mark(System.nanoTime(), b, s) }

  /** Share of the machine's wanted CPU time the host took between two
    * marks (0 when nothing ran or nothing is known).
    */
  def stealFrac(a: Mark, b: Mark): Double = {
    val busy = b.busy - a.busy; val steal = b.steal - a.steal
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }

  /** (steal-free seconds, wall seconds) from `a` to `b`. */
  def between(a: Mark, b: Mark): (Double, Double) = {
    val wall = (b.ns - a.ns) / 1e9
    (wall * (1 - stealFrac(a, b)), wall)
  }

  /** (steal-free seconds, wall seconds) since `m`. */
  def since(m: Mark): (Double, Double) = between(m, mark())
}
