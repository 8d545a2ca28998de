package perfbench

/** Order statistics over measured samples (linear interpolation between
  * closest ranks, as numpy's default `percentile`). */
object Stats {
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  def sec(nanos: Long): Double = nanos / 1e9

  /** CPU seconds this process has used so far, all threads. */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** CPU seconds the live Java threads have used so far: the process's
    * CPU time without the JIT compiler and GC threads, which the JVM does
    * not list among them. */
  def threadCpuS(): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(mx.getThreadCpuTime).filter(_ > 0).sum / 1e9
  }

  /** Wall time of `f` in seconds, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, sec(System.nanoTime() - t0))
  }

  /** Host CPU seconds since boot from `/proc/stat`, all CPUs: (busy, stolen),
    * busy being user, nice, system, irq and softirq time; zeros where
    * unreadable. */
  def hostCpuS(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toDouble))
        .filter(_.length > 7)
        .map(f => ((f(0) + f(1) + f(2) + f(5) + f(6)) / 100.0, f(7) / 100.0))
        .getOrElse((0.0, 0.0))
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0.0, 0.0) }

  /** `f` with its [[Lap]]. */
  def lap[T](f: => T): (T, Lap) = {
    val a = Clocks.now()
    val r = f
    (r, Clocks.now().since(a))
  }
}

/** One interval on three clocks: wall seconds, the CPU seconds of this
  * process's Java threads, and the wall seconds the hypervisor did not
  * steal. JIT compilation is left out of the CPU time because it is
  * warm-up whose share of a lap shrinks lap by lap, and GC with it, as
  * neither runs on a Java thread. */
final case class Lap(wall: Double, cpu: Double, unstolen: Double) {
  def json: String = s"[${Json.num(wall)},${Json.num(cpu)},${Json.num(unstolen)}]"
}

object Lap {
  /** Laps for a run's artifact: [[wall, cpu, unstolen], ...]. */
  def json(laps: Iterable[Lap]): String = laps.map(_.json).mkString("[", ",", "]")
}

/** A reading of the wall clock, this process's Java-thread CPU clock and
  * the host's busy and stolen CPU time. */
final case class Clocks(wallNs: Long, cpuS: Double, busyS: Double, stealS: Double) {
  /** The lap from `a` to this reading. Its `unstolen` time is the wall time
    * scaled by the share of the host's runnable CPU time that ran rather
    * than being stolen, busy / (busy + stolen): the stolen share of a vCPU's
    * runnable time stretches the work on it by that share, however many
    * vCPUs are busy. */
  def since(a: Clocks): Lap = {
    val wall = Stats.sec(wallNs - a.wallNs)
    val busy = busyS - a.busyS
    val steal = stealS - a.stealS
    Lap(wall, cpuS - a.cpuS, if (busy + steal > 0) wall * busy / (busy + steal) else wall)
  }
}

object Clocks {
  def now(): Clocks = {
    val (busy, steal) = Stats.hostCpuS()
    Clocks(System.nanoTime(), Stats.threadCpuS(), busy, steal)
  }
}
