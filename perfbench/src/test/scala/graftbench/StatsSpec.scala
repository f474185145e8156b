package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("supported percentile: the highest with at least ten samples beyond it") {
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(0.5))
    assert(Stats.supportedPercentile(99).contains(0.5))
    assert(Stats.supportedPercentile(100).contains(0.9))
    assert(Stats.supportedPercentile(199).contains(0.9))
    assert(Stats.supportedPercentile(200).contains(0.95))
    assert(Stats.supportedPercentile(1000).contains(0.99))
    assert(Stats.supportedPercentile(10000).contains(0.999))
    assert(Stats.supportedPercentile(50, beyond = 5).contains(0.9))
  }

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("geometric mean weighs every value's ratio alike") {
    assert(math.abs(Stats.geometricMean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geometricMean(Seq(0.1, 10.0, 3.0)) - math.cbrt(3.0)) < 1e-12)
    // doubling one of four values moves the mean by 2^(1/4)
    val base = Seq(0.2, 0.5, 1.0, 4.0)
    val ratio = Stats.geometricMean(base.updated(0, 0.4)) / Stats.geometricMean(base)
    assert(math.abs(ratio - math.pow(2, 0.25)) < 1e-12)
    intercept[IllegalArgumentException](Stats.geometricMean(Seq(1.0, 0.0)))
  }

  test("amplification is physical bytes over logical bytes") {
    assert(Stats.amplification(300, 100) == 3.0)
    assert(Stats.amplification(50, 100) == 0.5)
    assert(Stats.amplification(100, 0).isNaN)
  }

  test("logical row size counts each value once, before any encoding") {
    assert(Stats.logicalBytes(Seq(1L, 2.0, "héllo", null, 3, true)) ==
      8 + 8 + 6 + 0 + 4 + 1)
    val row = LakeRow(1L, "2024-01-01", 7L, 1.5, "paid", "n1")
    assert(row.logicalBytes == 8 + 10 + 8 + 8 + 4 + 2)
    intercept[IllegalArgumentException](Stats.logicalBytes(Seq(Seq(1))))
  }

  test("write amplification of a copy-on-write rewrite") {
    // a DELETE of 10 rows that rewrites the 1000-row file holding them
    // writes 990 rows to change 10
    val row = LakeRow(1L, "2024-01-01", 7L, 1.5, "paid", "n1").logicalBytes
    assert(Stats.amplification(990 * row, 10 * row) == 99.0)
  }

  test("wall time net of steal removes the stolen share of busy CPU time") {
    // three threads busy for 10 s, a tenth of their time stolen
    assert(math.abs(Stats.netOfSteal(10.0, cpu = 27.0, steal = 3.0) - 9.0) < 1e-12)
    assert(Stats.netOfSteal(10.0, cpu = 27.0, steal = 0.0) == 10.0)
    assert(Stats.netOfSteal(10.0, cpu = 0.0, steal = 0.0) == 10.0)
  }
}
