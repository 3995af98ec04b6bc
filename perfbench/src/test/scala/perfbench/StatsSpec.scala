package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val xs = (1 to 100).map(_.toDouble)

  test("percentiles are nearest-rank") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.p90(xs).contains(90.0))
    assert(Stats.p90(xs.take(99)).isEmpty)
    assert(Stats.beyond(10000, 99.9) == 10)
    assert(Stats.beyond(1000, 99.9) == 1)
  }

  test("self time subtracts the union of overlapping child intervals") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Tracer.union(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Tracer.union(Nil) == 0L)
  }
}
