package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailLevel(5) == 0.5)
    assert(Stats.tailLevel(99) == 0.5)
    assert(Stats.tailLevel(100) == 0.9)
    assert(Stats.tailLevel(999) == 0.9)
    assert(Stats.tailLevel(1000) == 0.99)
    assert(Stats.tailLevel(10000) == 0.999)
    val s = Stats.summary((1 to 1000).map(_.toDouble))
    assert(s.tailName == "p99" && s.tail == 990.0 && s.n == 1000)
    // ten samples lie beyond the tail value
    assert((1 to 1000).count(_ > s.tail) == 10)
    assert(Stats.summary(Seq(5.0, 1.0, 3.0)).tail == 3.0)
  }

  test("a batch's records get latency from their due time to its commit") {
    // records (p, o) are due at 100 * o + p ms; the batch read offsets
    // [2, 4) of partition 0 and [0, 1) of partition 1, committed at 1000
    val lat = Stats.attribute(Map(0 -> 2L), Map(0 -> 4L, 1 -> 1L), 1000.0, (p, o) => 100.0 * o + p)
    assert(lat.sorted == Seq(700.0, 800.0, 999.0))
    // records outside the window are left out
    val kept = Stats.attribute(Map(0 -> 2L), Map(0 -> 4L, 1 -> 1L), 1000.0,
      (p, o) => 100.0 * o + p, d => d >= 250)
    assert(kept.sorted == Seq(700.0))
  }

  test("backlog growth is detected, a flat or shrinking backlog is not") {
    val flat = Seq(900.0, 1100, 1000, 950, 1050, 1000, 980, 1020, 1000)
    assert(!Stats.backlogGrowing(flat, 500))
    val shrinking = (1 to 12).map(i => 3000.0 - 200 * i)
    assert(!Stats.backlogGrowing(shrinking, 500))
    val growing = (1 to 12).map(i => 1000.0 + 300 * i)
    assert(Stats.backlogGrowing(growing, 500))
    // a small rise within the tolerance is not growth
    assert(!Stats.backlogGrowing((1 to 12).map(i => 1000.0 + 10 * i), 500))
    // too few samples to show a trend count as growing
    assert(Stats.backlogGrowing(Seq(1.0, 1.0, 1.0), 500))
  }
}
