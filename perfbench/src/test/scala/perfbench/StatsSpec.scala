package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Iv

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
  }

  test("tail moves up as samples are added") {
    val t = Stats.tail((1 to 200).map(_.toDouble))
    assert(t.value == 190.0 && t.percentile == 95.0)
    val small = Stats.tail((1 to 25).map(_.toDouble))
    assert(small.value == 15.0 && small.percentile == 60.0)
  }

  test("with 10 samples or fewer no percentile qualifies and the maximum is reported") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 3))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == Stats.Tail(10.0, 100.0, 10))
    val eleven = Stats.tail((1 to 11).map(_.toDouble))
    assert(eleven.value == 1.0 && eleven.samples == 11)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time counts time that overlapping children cover once") {
    val parent = Iv(0, 100)
    // children overlap each other on [20, 30) and one sticks out of the parent
    val children = Seq(Iv(10, 30), Iv(20, 40), Iv(90, 120))
    assert(Stats.selfTime(parent, children) == 100 - 30 - 10)
    assert(Stats.selfTime(parent, Seq(Iv(10, 20), Iv(10, 20))) == 90)
    assert(Stats.selfTime(parent, Nil) == 100)
    assert(Stats.selfTime(parent, Seq(Iv(-10, 200))) == 0)
  }

  test("interval difference keeps the uncovered parts") {
    val rest = Stats.minus(Seq(Iv(0, 100)), Seq(Iv(10, 20), Iv(15, 30), Iv(90, 95)))
    assert(rest == Seq(Iv(0, 10), Iv(30, 90), Iv(95, 100)))
    assert(Stats.minus(Seq(Iv(0, 10)), Seq(Iv(0, 10))).isEmpty)
    assert(Stats.covered(Seq(Iv(0, 10), Iv(5, 15), Iv(20, 25))) == 20)
  }
}
