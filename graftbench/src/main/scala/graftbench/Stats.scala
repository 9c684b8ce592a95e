package graftbench

/** Order statistics over one run's samples. */
object Stats {
  /** A percentile with the number of samples strictly above it. */
  final case class Pct(value: Double, beyond: Int, n: Int)

  /** Linear-interpolation percentile (Hyndman-Fan type 7, as numpy's
    * default) of a non-empty sample, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    val v = s(lo) + (s(hi) - s(lo)) * (pos - lo)
    Pct(v, s.count(_ > v), s.size)
  }

  /** A tail percentile is reported only when at least this many samples lie
    * beyond it; fewer make it a reading of the few slowest operations. */
  val MinBeyond = 10

  def tail(xs: Seq[Double], p: Double): Option[Pct] =
    if (xs.isEmpty) None else Some(percentile(xs, p)).filter(_.beyond >= MinBeyond)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value

  /** Geometric mean of a non-empty sample of positive numbers. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
