package graft.perfbench

/** Summary statistics over per-operation samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean: each operation weighs the same whatever its size,
    * as in the TPC-H power metric, so a mix of short and long queries
    * gives a smooth figure where a median jumps between them. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size / 100.0).toInt - 1))
  }

  /** Samples ranked strictly above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(p * n / 100.0).toInt

  /** The percentile rule: the highest whole percentile, at most
    * `wanted`, that still has `minBeyond` or more samples beyond it. A
    * tail read from fewer samples is one or two outliers, not a tail.
    * Never below the median, which is reported for any sample size. */
  def supportedPercentile(n: Int, wanted: Int, minBeyond: Int = 10): Int =
    (wanted to 50 by -1).find(p => beyond(n, p) >= minBeyond).getOrElse(50)

  /** (percentile used, value) for the tail of `xs` under the rule. */
  def tail(xs: Seq[Double], wanted: Int): (Int, Double) = {
    val p = supportedPercentile(xs.size, wanted)
    p -> (if (p == 50) median(xs) else percentile(xs, p))
  }
}
