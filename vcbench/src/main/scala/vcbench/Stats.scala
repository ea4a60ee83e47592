package vcbench

/** Order statistics and answer-quality measures the benchmark reports. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val s = xs.sorted
    s(math.max(0, rank(p, s.length) - 1))
  }

  /** ceil(p% of n), immune to the float error in p / 100 * n. */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Percentiles a tail is reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99, 90, 75, 50)

  /** The highest candidate percentile with at least `beyond` samples above
    * it among `n`, or None when even the median lacks that many. Fewer
    * samples than that make a tail reading a single observation. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailCandidates.find(p => n - rank(p, n) >= beyond)

  /** Share of the exact top-k ids the answer returned (|got ∩ exact| / k
    * with k = |exact|). An empty exact answer is recall 1. */
  def recallAtK(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0
    else got.toSet.intersect(exact.toSet).size.toDouble / exact.distinct.size

  /** Share of unordered planted pairs that the answer put in one group. */
  def pairRecall(planted: Seq[Array[Int]], groupOf: Long => Long): Double = {
    var found = 0L
    var total = 0L
    planted.foreach { members =>
      for (i <- members.indices; j <- (i + 1) until members.length) {
        total += 1
        if (groupOf(members(i).toLong) == groupOf(members(j).toLong)) found += 1
      }
    }
    if (total == 0) 1.0 else found.toDouble / total
  }
}
