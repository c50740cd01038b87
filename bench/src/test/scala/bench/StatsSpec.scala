package bench

import org.scalatest.funsuite.AnyFunSuite

import Stats._

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks and reports n") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(percentile(xs, 0.5) == Est(2.5, 4))
    assert(percentile(xs, 0.0) == Est(1.0, 4))
    assert(percentile(xs, 1.0) == Est(4.0, 4))
    assert(math.abs(percentile(xs, 0.95).value - 3.85) < 1e-9)
    assert(median(Seq(7.0)) == Est(7.0, 1))
    val empty = percentile(Nil, 0.5)
    assert(empty.value.isNaN && empty.n == 0)
  }

  test("weighted percentile counts every record of a group") {
    // 90 records at 100 ms, 10 at 1000 ms
    val xs = Seq((1000.0, 10L), (100.0, 90L))
    assert(weightedPercentile(xs, 0.5) == Est(100.0, 100))
    assert(weightedPercentile(xs, 0.90) == Est(100.0, 100))
    assert(weightedPercentile(xs, 0.95) == Est(1000.0, 100))
    assert(weightedPercentile(Seq((5.0, 0L)), 0.5).n == 0)
  }

  test("attribution: a record is visible at the first commit covering it") {
    val ticks = Seq(
      Tick(0.0, Map("a" -> (0L, 3L), "b" -> (0L, 1L))),
      Tick(50.0, Map("a" -> (3L, 5L))))
    val commits = Seq(
      Commit(400.0, Map("a" -> 2L, "b" -> 1L)), // a0,a1 and b0
      Commit(900.0, Map("a" -> 5L, "b" -> 1L))) // the rest
    val (groups, uncovered) = attribute(ticks, commits)
    assert(uncovered == 0)
    assert(groups.sortBy(g => (g._1, g._2)) ==
      Seq((400.0, 1L), (400.0, 2L), (850.0, 2L), (900.0, 1L)))
    assert(weightedPercentile(groups, 0.5) == Est(400.0, 6))
    assert(weightedPercentile(groups, 0.9) == Est(900.0, 6))
  }

  test("attribution: commits out of order and records never covered") {
    val ticks = Seq(Tick(0.0, Map("a" -> (0L, 4L))))
    // reported late but ended first; offsets never go backwards
    val commits = Seq(Commit(700.0, Map("a" -> 3L)), Commit(300.0, Map("a" -> 1L)))
    val (groups, uncovered) = attribute(ticks, commits)
    assert(groups.toSet == Set((300.0, 1L), (700.0, 2L)))
    assert(uncovered == 1)
  }

  test("union of intervals and the driver gap") {
    assert(unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0)), 0, 100) == 25.0)
    assert(unionLength(Seq((0.0, 10.0), (2.0, 3.0)), 0, 100) == 10.0)
    assert(unionLength(Seq((-5.0, 5.0), (95.0, 120.0)), 0, 100) == 10.0)
    assert(unionLength(Nil, 0, 100) == 0.0)
    // a 100 ms query whose two jobs overlap for 10 of their 30 ms
    assert(driverGap(0, 100, Seq((10.0, 30.0), (20.0, 40.0))) == 70.0)
    assert(driverGap(0, 100, Nil) == 100.0)
  }

  test("backlog flag: a sawtooth is steady, a ramp grows") {
    val saw = (0 until 40).map(i => (i * 0.5, if (i % 2 == 0) 3000.0 else 500.0))
    assert(!backlogGrows(saw, 6000))
    val ramp = (0 until 40).map(i => (i * 0.5, 1000.0 + i * 1000.0))
    assert(backlogGrows(ramp, 6000))
    // growth only in the first half does not count
    val early = (0 until 40).map(i => (i * 0.5, math.min(i, 20) * 1000.0))
    assert(!backlogGrows(early, 6000))
    assert(!backlogGrows(Seq((0.0, 0.0), (1.0, 1e6)), 6000))
    // one fold at the window's end leaves a spike, not growth
    assert(!backlogGrows(saw :+ ((20.0, 12000.0)), 6000))
  }
}
