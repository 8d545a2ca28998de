package graft

/** Machine-checkable bench provenance. Three rounds of benchmark
  * artifacts needed out-of-band prose adjudication against hypervisor
  * steal (identical binaries dilating 3-4× with zero guest processes);
  * the signal that settles those disputes is the kernel's own cumulative
  * steal counter — field 8 of `/proc/stat`'s aggregate `cpu` line, the
  * jiffies this guest was runnable but the hypervisor ran someone else.
  * Recording its delta INSIDE every artifact (alongside the 1-min
  * loadavg already there) turns "was this run contaminated?" into a
  * field comparison instead of a PLANS.md narrative.
  *
  * Steal alone is blind to SAME-GUEST contention: a run dilated 2× by
  * another process on this machine reads steal ≈ 0 and flagged clean
  * (r15: a 257 s driver run vs 131.6 s clean-host, steal 0.69%). The
  * second signal closes that hole: the kernel's CPU pressure-stall
  * accounting (`/proc/pressure/cpu`, the PSI `some total=` counter —
  * cumulative microseconds at least one runnable task waited for a
  * CPU). External load makes OUR tasks stall, and PSI counts exactly
  * those stalls regardless of who caused them; a healthy 32-core
  * battery on 32 CPUs stalls only on its own brief over-subscription
  * bursts (measured r16: 0.3% of wall across the full 174-query sf0.1
  * battery, 1.2% on a cold warmup burst), while a co-tenant doubling
  * the runnable set reads an order of magnitude higher (measured
  * 14.6% under a deliberate 32-spinner load that dilated the same
  * queries 1.9×, with steal at 1.2% — under its own flag's threshold:
  * the exact case the steal signal misses).
  *
  * Units: the `cpu` line aggregates over all CPUs at USER_HZ = 100
  * (fixed kernel ABI for /proc/stat regardless of CONFIG_HZ), so the
  * delta is stolen CPU-seconds across the whole machine. `steal_pct`
  * normalizes by wall × nCpu — the percent of total machine capacity
  * the hypervisor took during the run; nCpu comes from counting
  * `/proc/stat`'s per-cpu lines so numerator and denominator cover the
  * same capacity even when a cgroup quota makes the JVM's
  * availableProcessors smaller than the machine. `psi_some_pct`
  * normalizes by wall alone (it is already a "some task" wall-clock
  * measure). Both are percentages, as perfbench's `host.steal_pct` and
  * `host.psi_some_pct` are. Flag,
  * don't refuse: the driver's per-round run must still produce its
  * artifact, so a contaminated run is marked `"contended":true` (and
  * warned on stderr) for the judge to discount mechanically. */
object HostMeter {

  /** Fraction of machine capacity stolen above which a timing run is
    * flagged contaminated. 2% of 32 cores over a 123 s sf0.1 battery is
    * ~79 stolen CPU-seconds — far above scheduler noise (clean-host
    * runs measure < 0.1%), far below the 3-4× dilation episodes (r14's
    * logged incident: ~5,070 stolen CPU-seconds across the session). */
  val ContendedStealFrac = 0.02

  /** Fraction of wall spent with ≥1 runnable task stalled on CPU above
    * which a run is flagged contaminated by SAME-GUEST load. Calibrated
    * on this host (r16): the idle-host full 174-query sf0.1 battery
    * measures 0.32% (own over-subscription only; a cold warmup burst
    * peaks ~1.2%), while the same queries under a deliberate 32-spinner
    * co-tenant measure 14.6% (and dilate 1.9×, steal 1.2%). 5% splits
    * the regimes with ≥4× margin on the clean side, ~3× on the loaded
    * side. */
  val ContendedPsiFrac = 0.05

  private val UserHz = 100.0

  /** Cumulative steal CPU-seconds since boot, or -1 where unreadable
    * (non-Linux, or a kernel without the steal column). */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+"))
        .filter(_.length > 8)
        .map(f => f(8).toDouble / UserHz)
        .getOrElse(-1.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Cumulative CPU pressure-stall seconds since boot — the `some`
    * line's `total=` (microseconds ≥1 runnable task waited for CPU)
    * from `/proc/pressure/cpu` — or -1 where unreadable (pre-4.20
    * kernel, CONFIG_PSI off, or non-Linux). */
  def psiSomeSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/pressure/cpu")
      try src.getLines().find(_.startsWith("some"))
        .flatMap(_.split("\\s+").find(_.startsWith("total=")))
        .map(_.stripPrefix("total=").toDouble / 1e6)
        .getOrElse(-1.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Machine CPU count from `/proc/stat`'s per-cpu lines, so steal (a
    * machine-wide counter) normalizes by machine capacity even when a
    * cgroup quota caps the JVM's availableProcessors below it. Falls
    * back to availableProcessors where /proc/stat is unreadable. */
  def nCpus(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val n = src.getLines().count(l =>
          l.startsWith("cpu") && l.length > 3 && l.charAt(3).isDigit)
        if (n > 0) n else Runtime.getRuntime.availableProcessors()
      } finally src.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        Runtime.getRuntime.availableProcessors()
    }

  /** 1-min system loadavg, or -1 where the JVM can't read it. */
  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  final case class Mark(steal: Double, load1: Double, wallNanos: Long,
                        psiSome: Double = -1.0)

  def mark(): Mark = Mark(stealSec(), load1(), System.nanoTime(), psiSomeSec())

  /** The provenance fields for one timed region, as a brace-less JSON
    * fragment callers splice into their artifact:
    * `"steal_sec":…,"steal_pct":…,"psi_some_sec":…,"psi_some_pct":…,
    * "ncpu":…,"load1_start":…,"load1_end":…,"contended":…`.
    * `contended` is true when EITHER signal exceeds its threshold —
    * steal for hypervisor pressure, PSI for same-guest load. Counters
    * that are unreadable report -1 and contribute nothing to the flag
    * (absence of evidence is recorded as absence, not as a verdict). */
  def provenanceJson(start: Mark, end: Mark): String = {
    val nCpu = nCpus()
    val wall = (end.wallNanos - start.wallNanos) / 1e9
    val steal =
      if (start.steal < 0 || end.steal < 0) -1.0 else end.steal - start.steal
    val pct =
      if (steal < 0 || wall <= 0) -1.0 else 100 * steal / (wall * nCpu)
    val psi =
      if (start.psiSome < 0 || end.psiSome < 0) -1.0
      else end.psiSome - start.psiSome
    val psiPct =
      if (psi < 0 || wall <= 0) -1.0 else 100 * psi / wall
    val contended = pct > 100 * ContendedStealFrac || psiPct > 100 * ContendedPsiFrac
    if (contended)
      System.err.println(
        f"[bench] CONTENDED RUN over $wall%.1f s wall: " +
          f"$steal%.1f stolen CPU-seconds ($pct%.1f%% of $nCpu cores), " +
          f"$psi%.1f CPU-stall seconds ($psiPct%.1f%% of wall). " +
          "Timings are not comparable; re-measure on a quiet host")
    s""""steal_sec":${r3(steal)},"steal_pct":${r2(pct)},""" +
      s""""psi_some_sec":${r3(psi)},"psi_some_pct":${r2(psiPct)},""" +
      s""""ncpu":$nCpu,""" +
      s""""load1_start":${start.load1},"load1_end":${end.load1},""" +
      s""""contended":$contended"""
  }

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  private def r2(v: Double): String =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
}
