package graftbench

/** The summary statistics the benchmark reports. Pure functions, so the
  * self-test can pin their definitions on hand-made samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A pass in a long-lived session: each op's median over the warm
    * passes, summed over the ops. */
  def sumOfMedians(samplesByOp: Map[String, Seq[Double]]): Double =
    samplesByOp.values.map(median).sum

  /** The highest whole percentile of `xs` (nearest-rank) that still has
    * at least `beyond` samples above its rank, as (percentile, value).
    * With n samples that is p = floor(100 * (n - beyond) / n); the value
    * is the sample at rank ceil(p * n / 100). Fewer than `beyond + 1`
    * samples leave no such percentile; the maximum is returned as p100
    * so the caller can see it. */
  def pooledTail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) (100, s.last)
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1L, (p.toLong * n + 99) / 100).toInt
      (p, s(rank - 1))
    }
  }

  /** Ops that failed or returned a wrong result, over ops attempted. */
  def failFrac(failed: Int, attempted: Int): Double = {
    require(attempted > 0, "no ops attempted")
    failed.toDouble / attempted
  }
}
