package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest rank is ceil(n*p/100), clamped to [1, n]") {
    assert(Stats.rank(100, 50) == 50)
    assert(Stats.rank(100, 99) == 99)
    assert(Stats.rank(1000, 99) == 990)
    assert(Stats.rank(3, 50) == 2)
    assert(Stats.rank(1, 99) == 1)
    assert(Stats.rank(10, 0) == 1)
  }

  test("a percentile needs at least 10 samples beyond its rank") {
    val xs = (1 to 1000).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 99).contains(990.0))
    assert(Stats.percentile(xs.take(999), 99).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("median and geometric mean of small sets") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)).contains(2.0))
    assert(Stats.median(Seq(4.0, 1.0)).contains(1.0))
    assert(Stats.median(Nil).isEmpty)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)).get - 2.0) < 1e-12)
    assert(Stats.geomean(Seq(1.0, 0.0)).isEmpty)
  }
}
