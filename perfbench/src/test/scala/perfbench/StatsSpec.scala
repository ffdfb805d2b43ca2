package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles equal Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([5, 1, 3], n=4) == [1.0, 3.0, 5.0]
    assert(Stats.quartiles(Seq(5.0, 1.0, 3.0)) == ((1.0, 3.0, 5.0)))
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.percentileSorted(xs, 50) == 50.0)
    assert(Stats.percentileSorted(xs, 99) == 99.0)
    assert(Stats.percentileSorted(xs, 100) == 100.0)
    assert(Stats.percentileSorted(Array(4.0), 99) == 4.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- Seq(20, 57, 100, 1234, 10000); p <- Stats.tailPercentile(n)) {
      val rank = math.ceil(p / 100 * n - 1e-9).toInt
      assert(n - rank >= 10, s"n=$n p=$p leaves ${n - rank} beyond")
    }
  }

  test("summary reports sample count, median and tail") {
    val s = Stats.summarize((1 to 1000).map(_.toDouble))
    assert(s.n == 1000)
    assert(s.p50 == 500.5)
    assert(s.q1 == 250.25 && s.q3 == 750.75) // statistics.quantiles(range(1, 1001), n=4)
    assert(s.tailP.contains(99.0))
    assert(s.tail.contains(990.0))
    val small = Stats.summarize(Seq(2.0, 1.0, 3.0))
    assert(small.n == 3 && small.p50 == 2.0 && small.tail.isEmpty)
    assert(small.render("s") == "median 2.000 (q1 1.000, q3 3.000) s (n=3)")
    assert(Stats.summarize(Seq(5.0)).render("s") == "median 5.000 (q1 5.000, q3 5.000) s (n=1)")
  }

  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, parent, s"s$id", 1, start, end)

  test("self time without children is the duration") {
    assert(Trace.selfTimes(Seq(span(1, 0, 10, 50)))(1) == 40)
  }

  test("self time subtracts disjoint children") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 20), span(3, 1, 50, 80))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 60)
    assert(self(2) == 10)
    assert(self(3) == 30)
  }

  test("self time counts overlapping children once") {
    // children cover [10, 60] and [90, 100] of the parent: 60 of 100
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
      span(4, 1, 20, 35), span(5, 1, 90, 120))
    assert(Trace.selfTimes(spans)(1) == 40)
  }

  test("self time ignores grandchildren and children outside the parent") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20),
      span(4, 1, 200, 300))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 50)
    assert(self(2) == 40)
  }
}
