package graftbench

/** Summary statistics and small helpers shared by every workload. */
object Stats {

  /** A tail value: the sample value, the percentile it sits at, and the
    * number of samples it was taken from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** Samples that must lie beyond a reported tail value. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The mean of the middle half: the fastest and the slowest quarter of
    * the samples (rounded down) are dropped. Steadier than the median on
    * few samples, and still blind to a rare pause. */
  def trimmedMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    val cut = xs.length / 4
    val mid = xs.sorted.slice(cut, xs.length - cut)
    mid.sum / mid.length
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: the (beyond + 1)-th largest value, at nearest-rank
    * percentile 100 * (n - beyond) / n. None when there are too few
    * samples for any value to have `beyond` samples above it. */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - 1 - beyond), 100.0 * (n - beyond) / n, n))
    }
  }

  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children are clipped to the span). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - unionLength(children.map { case (s, e) =>
      (math.max(s, span._1), math.min(e, span._2))
    })

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: a letter or digit, then letters, digits, `_`, `.` and
    * `-`, at most 64 characters. */
  def validName(s: String): Boolean = NameRe.matches(s)

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString
}
