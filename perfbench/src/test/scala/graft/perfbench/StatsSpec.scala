package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median: odd count takes the middle, even count the mean of the middles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // reference values printed by CPython's statistics.quantiles
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
    assert(Stats.quartiles(Seq.fill(4)(10.0)) == ((10.0, 10.0, 10.0)))
    assertThrows[IllegalArgumentException](Stats.quartiles(Seq(1.0)))
  }

  test("coveredLength: union of overlapping, nested and disjoint intervals") {
    assert(Stats.coveredLength(Nil, 0, 100) == 0)
    assert(Stats.coveredLength(Seq((10L, 20L)), 0, 100) == 10)
    // overlap and nesting count once
    assert(Stats.coveredLength(Seq((10L, 30L), (20L, 40L), (25L, 35L)), 0, 100) == 30)
    // disjoint intervals add; order does not matter
    assert(Stats.coveredLength(Seq((50L, 60L), (10L, 20L)), 0, 100) == 20)
    // touching intervals merge without double counting
    assert(Stats.coveredLength(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
  }

  test("coveredLength clips to the window and runs open intervals to its end") {
    assert(Stats.coveredLength(Seq((-10L, 10L), (90L, 120L)), 0, 100) == 20)
    assert(Stats.coveredLength(Seq((150L, 160L)), 0, 100) == 0)
    assert(Stats.coveredLength(Seq((80L, -1L)), 0, 100) == 20)
    // the driver gap of a span is its wall minus this cover
    val wall = 100L
    assert(wall - Stats.coveredLength(Seq((0L, 30L), (20L, 50L), (70L, 80L)), 0, wall) == 40)
  }
}
