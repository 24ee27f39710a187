package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Interval

class StatsSpec extends AnyFunSuite {

  test("tail is the highest ladder percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 leaves 10 beyond rank 90; p95 would leave only 5.
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    val big = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(big) == ((99.0, 990.0)))
    val mid = (1 to 40).map(_.toDouble)
    assert(Stats.tail(mid) == ((75.0, 30.0)))
  }

  test("tail falls back to the median when no rung leaves 10 samples") {
    val xs = Seq(5.0, 1.0, 3.0)
    assert(Stats.tail(xs) == ((50.0, 3.0)))
  }

  test("tail is independent of sample order") {
    val xs = (1 to 250).map(i => (i * 37 % 250).toDouble)
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
    assert(Stats.tail(xs)._1 == 95.0)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("union length merges overlapping and nested intervals") {
    val xs = Seq(Interval(0, 10), Interval(5, 15), Interval(20, 25), Interval(21, 22))
    assert(Stats.unionLength(xs) == 20.0)
    assert(Stats.unionLength(Nil) == 0.0)
  }

  test("self pieces are the span minus the union of children clipped to it") {
    val span = Interval(0, 100)
    val children = Seq(Interval(10, 30), Interval(20, 40), Interval(90, 120))
    val pieces = Report.selfPieces(span, children)
    assert(pieces == Seq(Interval(0, 10), Interval(40, 90)))
    assert(pieces.map(_.length).sum == 100.0 - 30.0 - 10.0)
  }
}
