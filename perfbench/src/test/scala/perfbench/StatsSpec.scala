package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99.0)) // 10 beyond p99
    assert(Stats.tailPercentile(999).contains(95.0)) // p99 would leave 9
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
    // the chosen rank really leaves >= 10 samples after it
    for (n <- Seq(20, 57, 100, 101, 999, 1000, 1131, 25000)) {
      val p = Stats.tailPercentile(n).get
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
    }
  }

  test("a sample too small for any percentile reports its maximum as p100") {
    assert(Stats.tail(Seq(5.0, 9.0, 7.0)) == ((100.0, 9.0)))
    val big = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(big) == ((99.0, 990.0)))
  }

  test("the union of overlapping job intervals counts shared time once") {
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0) // nested
    assert(Stats.unionLength(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0) // touching
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.merge(Seq((5.0, 6.0), (0.0, 2.0), (1.0, 3.0))) == Seq((0.0, 3.0), (5.0, 6.0)))
  }

  test("the driver gap is the window time no job covers") {
    // a 100 ms span with jobs at 10-40 and 30-50 (overlapping) and 60-70
    val jobs = Seq((10.0, 40.0), (30.0, 50.0), (60.0, 70.0))
    assert(Stats.uncovered((0.0, 100.0), jobs) == 50.0)
    // jobs reaching outside the window are clipped to it
    assert(Stats.uncovered((20.0, 65.0), jobs) == 10.0)
    assert(Stats.uncovered((0.0, 100.0), Nil) == 100.0)
  }

  test("overlap of two interval sets") {
    val docs = Seq((0.0, 10.0))
    val others = Seq((2.0, 4.0), (3.0, 6.0), (8.0, 20.0))
    assert(Stats.overlap(docs, others) == 6.0)
    assert(Stats.overlap(docs, Nil) == 0.0)
  }
}
