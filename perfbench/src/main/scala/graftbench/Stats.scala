package graftbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample, its percentile and the sample count. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest percentile with at least `beyond` samples above it: the
    * (beyond+1)-th largest sample, at percentile 100·(n − beyond)/n.
    * None when there are too few samples to have one. */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - 1 - beyond), 100.0 * (n - beyond) / n, n))
    }
  }
}
