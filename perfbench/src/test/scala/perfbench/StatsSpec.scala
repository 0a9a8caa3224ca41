package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.median(Seq(7.0)) === 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(Stats.percentile(xs, 99.9) === 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 50) === 1.0)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 leaves exactly 10 samples above rank 90; p95 would leave 5
    assert(Stats.tail(xs) === Some((90.0, 90.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) === Some((75.0, 30.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) === Some((50.0, 10.0)))
    // 19 samples: even the median has only 9 beyond it
    assert(Stats.tail((1 to 19).map(_.toDouble)) === None)
    assert(Stats.tail((1 to 1000).map(_.toDouble)) === Some((99.0, 990.0)))
  }

  test("self time subtracts the union of children clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) === 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) === 70)
    // overlapping children are counted once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 50L))) === 60)
    // a child sticking out of the parent only covers its inside part
    assert(Stats.selfTime(0, 100, Seq((-20L, 10L), (90L, 130L))) === 80)
    // a child outside the parent changes nothing; one covering it all leaves 0
    assert(Stats.selfTime(0, 100, Seq((200L, 300L))) === 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (30L, 40L))) === 0)
  }
}
