package graftbench

/** Order statistics and ratios the benchmark reports. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of `xs`, the
    * "inclusive" definition: q = 0 is the minimum, q = 1 the maximum.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive values: a change by a factor in any one of
    * `n` values moves it by that factor to the power 1/n.
    */
  def geometricMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Wall time net of CPU steal: `wall` scaled by the share of the busy
    * CPU time (`cpu` run plus `steal` taken by the hypervisor while a CPU
    * had work) that was not stolen. It assumes the steal fell evenly over
    * the busy time, so that every thread lost the same share of its
    * progress. Without steal it is the wall time.
    */
  def netOfSteal(wall: Double, cpu: Double, steal: Double): Double =
    if (steal <= 0 || cpu + steal <= 0) wall else wall * cpu / (cpu + steal)

  /** Candidate tail percentiles, lowest first. */
  val Percentiles: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99, 0.999)

  /** The highest percentile that `n` samples support: the one with at
    * least `beyond` samples above it. A tail read from fewer samples
    * is one or two outliers, not a percentile. None when even the
    * median is unsupported.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Percentiles.filter(p => n * (1 - p) >= beyond - 1e-9).lastOption

  /** Amplification: bytes the store wrote or holds per logical byte.
    * Zero logical bytes leave the ratio undefined (NaN), never infinite.
    */
  def amplification(physicalBytes: Long, logicalBytes: Long): Double =
    if (logicalBytes <= 0) Double.NaN
    else physicalBytes.toDouble / logicalBytes

  /** Logical size of one row: 8 bytes per fixed-width 64-bit value, 4 per
    * 32-bit value, 1 per boolean, the UTF-8 length of a string and 0 for
    * a null. It is the row's size before any encoding, compression,
    * file format or copy, so a store that writes it once, uncompressed,
    * has amplification 1.
    */
  def logicalBytes(values: Seq[Any]): Long = values.iterator.map {
    case null => 0L
    case _: Long | _: Double | _: java.sql.Timestamp => 8L
    case _: Int | _: Float | _: java.sql.Date => 4L
    case _: Short => 2L
    case _: Byte | _: Boolean => 1L
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case other => throw new IllegalArgumentException(
      s"no logical size for ${other.getClass.getName}")
  }.sum
}
