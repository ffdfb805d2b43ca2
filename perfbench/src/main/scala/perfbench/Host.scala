package perfbench

/** Host CPU accounting from /proc/stat. On a shared VM the hypervisor runs
  * other guests on our virtual CPUs ("steal"); a job that wanted the CPU
  * for that time simply takes longer, by a share that changes from minute
  * to minute. The benchmark measures it per job and takes it out of the
  * job's wall time.
  */
object Host {
  /** Jiffies summed over all CPUs so far: (busy, steal). Busy is user,
    * nice, system, irq and softirq time. Zeros when /proc/stat is absent.
    */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map { line =>
          val f = line.trim.split("\\s+").drop(1).map(_.toLong)
          def at(i: Int) = if (f.length > i) f(i) else 0L
          (at(0) + at(1) + at(2) + at(5) + at(6), at(7))
        }.getOrElse((0L, 0L))
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the CPU time wanted between two readings that was stolen. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val steal = to._2 - from._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }
}
