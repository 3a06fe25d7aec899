package graft

/** One shared definition of the order statistics Bench and BenchAB report
  * (ADVICE r13: two tools once printed different medians for the same
  * even-length sample).
  *
  *  - [[median]]: interpolating median (mean of the two middle values for
  *    even n) — Bench's long-standing definition, now the only one.
  *  - [[percentile]]: nearest-rank (ceil) percentile — for p99 the value at
  *    rank ceil(0.99·n), the conventional conservative tail estimate.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of empty sample")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def medianMs(ms: Seq[Long]): Double = median(ms.map(_.toDouble))
  def percentileMs(ms: Seq[Long], p: Double): Double =
    percentile(ms.map(_.toDouble), p)
}
