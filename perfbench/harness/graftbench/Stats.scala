package graftbench

/** Order statistics the report uses. `quartiles` is Python's
  * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), so
  * the spreads the harness prints are the ones a reader recomputes from
  * the result file. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3). One sample gives that sample three times. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    val s = xs.sorted.toIndexedSeq
    val ld = s.length
    if (ld == 1) return (s(0), s(0), s(0))
    val n = 4
    val m = ld + 1
    val qs = (1 until n).map { i =>
      val j = math.min(math.max(i * m / n, 1), ld - 1)
      val delta = i * m - j * n
      (s(j - 1) * (n - delta) + s(j) * delta) / n
    }
    (qs(0), qs(1), qs(2))
  }
}
