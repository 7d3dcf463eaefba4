package graftbench

/** Order statistics for reported timings: every workload reports medians. */
object Stats {
  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
