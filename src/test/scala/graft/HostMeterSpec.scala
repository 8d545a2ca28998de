package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench provenance: the steal counter must read on this host and the
  * provenance fragment must flag contamination mechanically. */
class HostMeterSpec extends AnyFunSuite {

  test("steal counter reads and is monotone on Linux") {
    val a = HostMeter.stealSec()
    assume(a >= 0, "/proc/stat steal column unavailable on this host")
    val b = HostMeter.stealSec()
    assert(b >= a, s"cumulative steal went backwards: $a -> $b")
  }

  test("PSI stall counter reads and is monotone on Linux") {
    val a = HostMeter.psiSomeSec()
    assume(a >= 0, "/proc/pressure/cpu unavailable on this host")
    val b = HostMeter.psiSomeSec()
    assert(b >= a, s"cumulative PSI stall went backwards: $a -> $b")
  }

  test("nCpus counts /proc/stat cpuN lines, not the JVM's cgroup view") {
    val n = HostMeter.nCpus()
    assert(n >= 1, s"nCpus must be positive: $n")
    // on this (uncapped) host the two views agree; under a cgroup quota
    // only nCpus() would still report machine capacity
    assert(n >= Runtime.getRuntime.availableProcessors())
  }

  test("provenance fragment carries steal/load/contended and flags only real steal") {
    val nCpu = HostMeter.nCpus()
    // a quiet 10-second window with zero recorded steal -> not contended
    val start = HostMeter.Mark(steal = 100.0, load1 = 0.2, wallNanos = 0L)
    val quiet = HostMeter.Mark(steal = 100.0, load1 = 0.3,
      wallNanos = 10L * 1000 * 1000 * 1000)
    val qj = HostMeter.provenanceJson(start, quiet)
    assert(qj.contains("\"steal_sec\":0.000"), qj)
    assert(qj.contains("\"contended\":false"), qj)
    assert(qj.contains(s""""ncpu":$nCpu"""), qj)
    assert(qj.contains("\"load1_start\":0.2"), qj)
    // steal above the capacity threshold over the same window -> flagged
    val stolen = 10.0 * nCpu * (HostMeter.ContendedStealFrac * 2)
    val noisy = HostMeter.Mark(steal = 100.0 + stolen, load1 = 9.0,
      wallNanos = quiet.wallNanos)
    val nj = HostMeter.provenanceJson(start, noisy)
    assert(nj.contains("\"steal_pct\":4.00"), nj)
    assert(nj.contains("\"contended\":true"), nj)
    // unreadable counter -> -1 markers, never a contended verdict
    val blind = HostMeter.provenanceJson(
      HostMeter.Mark(-1.0, 0.2, 0L), noisy)
    assert(blind.contains("\"steal_sec\":-1.000"), blind)
    assert(blind.contains("\"contended\":false"), blind)
  }

  test("PSI stall flags same-guest load that steal is blind to") {
    val tenSec = 10L * 1000 * 1000 * 1000
    // steal == 0 but 14.6% of wall stalled (the r16-measured 32-spinner
    // co-tenant signature) -> contended, with both pct fields present
    val start = HostMeter.Mark(steal = 100.0, load1 = 0.2, wallNanos = 0L,
      psiSome = 50.0)
    val loaded = HostMeter.Mark(steal = 100.0, load1 = 35.0,
      wallNanos = tenSec, psiSome = 50.0 + 1.46)
    val lj = HostMeter.provenanceJson(start, loaded)
    assert(lj.contains("\"steal_sec\":0.000"), lj)
    assert(lj.contains("\"psi_some_sec\":1.460"), lj)
    assert(lj.contains("\"psi_some_pct\":14.60"), lj)
    assert(lj.contains("\"contended\":true"), lj)
    // a healthy battery's own over-subscription bursts (r16 idle
    // measurements: 0.3% full battery, 1.2% warmup burst) stay clean
    val busy = HostMeter.Mark(steal = 100.0, load1 = 30.0,
      wallNanos = tenSec, psiSome = 50.0 + 0.12)
    val bj = HostMeter.provenanceJson(start, busy)
    assert(bj.contains("\"psi_some_pct\":1.20"), bj)
    assert(bj.contains("\"contended\":false"), bj)
    // unreadable PSI -> -1 markers, no verdict from that signal
    val blind = HostMeter.provenanceJson(
      HostMeter.Mark(100.0, 0.2, 0L, psiSome = -1.0), loaded)
    assert(blind.contains("\"psi_some_sec\":-1.000"), blind)
    assert(blind.contains("\"contended\":false"), blind)
  }
}
