package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile, by the method of Python's
    * `statistics.quantiles(xs, n=4)` (exclusive); a single sample is its
    * own quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) return (s.head, s.head)
    def q(i: Int): Double = {
      val j = math.min(math.max(i * (n + 1) / 4, 1), n - 1)
      val delta = i * (n + 1) - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(3))
  }
}
