package kbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.minSamples(50) == 20)
    assert(Stats.minSamples(90) == 100)
    assert(Stats.minSamples(99) == 1000)
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 90).isEmpty)
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(ys, 90).contains(90.0))
    // exactly ten samples lie beyond the reported value
    assert(ys.count(_ > Stats.percentile(ys, 90).get) == 10)
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
  }

  test("the median takes the mean of the middle pair") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.medianOr0(Nil) == 0.0)
  }

  test("labelMedian weighs every label equally") {
    // one label: the plain median
    assert(Stats.labelMedian(Seq("a" -> 1.0, "a" -> 5.0, "a" -> 3.0)) == 3.0)
    // four variants, one drawn twice: the extra sample does not move it
    val cycle = Seq("h" -> 20.0, "s" -> 28.0, "l" -> 26.0, "t" -> 15.0)
    val balanced = Stats.labelMedian(cycle)
    assert(balanced == 23.0)
    assert(Stats.labelMedian(cycle :+ ("h" -> 21.0)) == 23.5)
    assert(Stats.labelMedian(cycle :+ ("t" -> 15.0)) == balanced)
  }

  test("interval unions merge overlaps and clip to a window") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((5L, 5L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.coveredWithin(10, 20, Seq((0L, 12L), (18L, 40L))) == 4L)
  }
}
