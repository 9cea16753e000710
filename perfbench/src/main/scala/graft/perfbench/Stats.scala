package graft.perfbench

/** Order statistics for the benchmark's samples.
  *
  * Percentiles use linear interpolation between closest ranks (the
  * "exclusive-free" R-7 definition numpy uses by default), so p50 of an
  * even-sized sample is the mean of the two middle values. Every summary
  * carries its sample count; an empty sample is an error, never a 0.
  */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of an empty sample")
    require(xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** How many samples lie strictly above the p-th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val cut = percentile(xs, p)
    xs.count(_ > cut)
  }
}

/** Pass/fail tally of one run. A failure is counted against an attempt;
  * it is never dropped from the sample. */
final class Outcomes {
  private var attemptedN = 0L
  private var failedN = 0L
  private val reasons = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  def attempt(n: Long = 1): Unit = synchronized { attemptedN += n }

  def fail(reason: String, n: Long = 1): Unit = synchronized {
    if (n > 0) {
      failedN += n
      reasons(reason) = reasons.getOrElse(reason, 0L) + n
    }
  }

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def failRatio: Double = synchronized {
    require(attemptedN > 0, "no attempts recorded")
    failedN.toDouble / attemptedN
  }
  def failureReasons: Map[String, Long] = synchronized(reasons.toMap)
}
