package echobench

/** Order statistics used for every reported timing. The quartiles use the
  * same "exclusive" interpolation as Python's `statistics.quantiles`, so a
  * spread computed here matches one computed over the printed values. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Q1, Q2, Q3 by the exclusive method (needs at least two values). */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val s = xs.sorted.toIndexedSeq
    val ld = s.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Quartile distance over the median. */
  def spread(xs: Seq[Double]): Double = {
    val (q1, q2, q3) = quartiles(xs)
    if (q2 == 0.0) 0.0 else (q3 - q1) / q2
  }
}
