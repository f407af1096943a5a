package perfbench

/** Sample statistics used for every reported latency. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are less than or equal to it. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = samples.sorted
    sorted(math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1))
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  def mean(samples: Seq[Double]): Double = samples.sum / samples.size
}
