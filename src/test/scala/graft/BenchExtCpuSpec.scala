package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the /proc/stat-delta external-CPU check that decides the bench
  * artifact's `contaminated` flag (round 18 — the loadavg>1 trigger it
  * replaces fired on this box at 100 % idle because loadavg here counts
  * non-CPU kernel states).
  */
class BenchExtCpuSpec extends AnyFunSuite {

  test("parseMachine: busy excludes idle+iowait, total sums all fields") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val stat = "cpu  100 20 30 800 50 5 5 0 0 0\ncpu0 10 2 3 80 5 0 0 0 0 0\n"
    val (busy, total) = Bench.ExtCpu.parseMachine(stat)
    assert(total === 1010L)
    assert(busy === 160L) // 1010 - idle(800) - iowait(50)
  }

  test("parseMachine: guest and guest_nice are not counted twice") {
    // guest (40) and guest_nice (10) are already inside user (100) and
    // nice (20); only user .. steal may be summed
    val stat = "cpu  100 20 30 800 50 5 5 0 40 10\n"
    val (busy, total) = Bench.ExtCpu.parseMachine(stat)
    assert(total === 1010L)
    assert(busy === 160L)
  }

  test("parseSelf: utime+stime+cutime+cstime, comm with spaces and parens") {
    val stat = "1234 (java (x) y) S 1 1 1 0 -1 4194560 9999 0 0 0 " +
      "700 300 11 9 20 0 64 0 123456 0 0"
    assert(Bench.ExtCpu.parseSelf(stat) === 700L + 300 + 11 + 9)
  }

  test("externalFrac: subtracts own CPU, clamps at 0, -1 on bad samples") {
    // machine burned 600 busy jiffies over a 1000-jiffy capacity window,
    // 400 of them ours -> 20% external
    assert(Bench.ExtCpu.externalFrac((100L, 1000L), (700L, 2000L), 100L, 500L)
      === 0.2)
    // own CPU accounts for everything -> clamp at 0 (scheduler rounding)
    assert(Bench.ExtCpu.externalFrac((100L, 1000L), (400L, 2000L), 100L, 500L)
      === 0.0)
    // failed first sample -> sentinel
    assert(Bench.ExtCpu.externalFrac((-1L, -1L), (400L, 2000L), 100L, 500L)
      === -1.0)
    // no capacity elapsed -> sentinel, not a division by zero
    assert(Bench.ExtCpu.externalFrac((100L, 1000L), (400L, 1000L), 100L, 500L)
      === -1.0)
  }

  test("live /proc sampling works on this box") {
    val m = Bench.ExtCpu.sampleMachine()
    assert(m._2 > 0 && m._1 >= 0 && m._1 <= m._2)
    assert(Bench.ExtCpu.sampleSelf() > 0)
  }
}
