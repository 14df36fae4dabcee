package perfbench

/** The metric math, kept pure so [[SelfTest]] can pin it down. */
object Stats {

  /** Median by linear interpolation between the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100), reported only when at
    * least `minBeyond` samples lie above the chosen rank: a p95 over
    * 40 samples is the third-largest sample, which is noise, not a
    * tail. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val s = xs.sorted
    val n = s.size
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      if (n - rank < minBeyond) None else Some(s(rank - 1))
    }
  }

  /** For each append, the index of the FIRST batch whose committed end
    * offsets cover every partition the append wrote, or None when no
    * batch does. An append is a map partition → its end offset
    * (exclusive); a batch is a map partition → committed end offset
    * (exclusive), batches in commit order. */
  def attribute(appends: Seq[Map[Int, Long]],
      batches: Seq[Map[Int, Long]]): Seq[Option[Int]] =
    appends.map { a =>
      val i = batches.indexWhere(b =>
        a.forall { case (p, end) => b.getOrElse(p, 0L) >= end })
      if (i < 0) None else Some(i)
    }

  /** Wall time of `window` that no interval covers: the driver's idle
    * time when the intervals are the Spark jobs that ran inside it.
    * Intervals are clipped to the window and may overlap. */
  def uncovered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (w0, w1) = window
    val clipped = intervals
      .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    (w1 - w0) - covered
  }

  /** Max-over-median task time of one stage: how much the slowest task
    * holds the stage back. */
  def skew(taskMs: Seq[Long]): Double = {
    val m = median(taskMs.map(_.toDouble))
    if (m <= 0) 1.0 else taskMs.max / m
  }
}
