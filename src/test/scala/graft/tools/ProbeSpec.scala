package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  // query window [100, 200): wall 100 ms
  private val lo = 100L
  private val hi = 200L

  private def check(jobs: Seq[(Long, Long)], busy: Long, gap: Long): Unit = {
    val (b, g) = Probe.busyAndGap(jobs, lo, hi)
    assert((b, g) == ((busy, gap)))
    assert(0 <= b && b <= hi - lo)
    assert(g >= 0)
    assert(b + g == hi - lo)
  }

  test("overlapping (AQE-concurrent) jobs count once, not summed") {
    check(Seq((100L, 150L), (120L, 170L)), busy = 70, gap = 30)
    check(Seq((110L, 190L), (100L, 200L), (105L, 195L)), busy = 100, gap = 0)
  }

  test("nested jobs add nothing to their outer job") {
    check(Seq((110L, 190L), (120L, 130L), (150L, 160L)), busy = 80, gap = 20)
  }

  test("touching jobs leave no gap between them") {
    check(Seq((130L, 160L), (100L, 130L)), busy = 60, gap = 40)
  }

  test("disjoint jobs: the gaps between them are driver time") {
    check(Seq((150L, 170L), (110L, 120L)), busy = 30, gap = 70)
    check(Nil, busy = 0, gap = 100)
  }

  test("jobs are clipped to the query window, open ones included") {
    check(Seq((180L, Long.MaxValue)), busy = 20, gap = 80)
    check(Seq((90L, 120L), (190L, 250L), (300L, 400L), (10L, 20L)), busy = 30, gap = 70)
    check(Seq((90L, 120L), (110L, 130L), (112L, 118L), (130L, 140L),
      (150L, 190L), (160L, Long.MaxValue)), busy = 90, gap = 10)
  }
}
