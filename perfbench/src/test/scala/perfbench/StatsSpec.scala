package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(ramp(100), 90) == 90.0)
    assert(Stats.percentile(ramp(10), 75) == 8.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("tail: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tail(Nil).isEmpty)
    // 39 samples: p75 sits at rank 30 with 9 beyond it — too few.
    assert(Stats.tail(ramp(39)).isEmpty)
    assert(Stats.tail(ramp(40)) == Some((75.0, 30.0)))
    assert(Stats.tail(ramp(99)).map(_._1) == Some(75.0))
    assert(Stats.tail(ramp(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(ramp(999)).map(_._1) == Some(90.0))
    assert(Stats.tail(ramp(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(ramp(10000)) == Some((99.9, 9990.0)))
  }

  test("interval union counts overlapping jobs once") {
    val jobs = Seq((0.0, 4.0), (2.0, 6.0), (8.0, 9.0))
    assert(Stats.unionLength(jobs, 0, 10) == 7.0)
    assert(math.abs(Stats.gapShare(jobs, 0, 10) - 0.3) < 1e-12)
    // Jobs overlapping under Par: a plain sum (4 + 4 + 4 = 12 > 10)
    // would make the gap negative; the union never does.
    val par = Seq((0.0, 4.0), (0.0, 4.0), (3.0, 10.0))
    assert(Stats.unionLength(par, 0, 10) == 10.0)
    assert(Stats.gapShare(par, 0, 10) == 0.0)
  }

  test("interval union clips to the span's window") {
    val jobs = Seq((-5.0, 2.0), (9.0, 20.0), (30.0, 40.0))
    assert(Stats.unionLength(jobs, 0, 10) == 3.0)
    assert(Stats.gapShare(Nil, 0, 10) == 1.0)
    assert(Stats.gapShare(jobs, 5, 5) == 0.0)
  }
}
