package perfbench

/** Order statistics, the tail rule, latency attribution and the
  * backlog-growth detector. Pure functions, unit-tested. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"p=$p outside (0,1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length - 1e-9).toInt - 1))
  }

  /** The tail percentiles tried, highest first. */
  val tailLevels: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.5)

  /** The highest percentile in [[tailLevels]] with at least ten samples
    * beyond it, i.e. `n * (1 - p) >= 10`; the median below 20 samples. */
  def tailLevel(n: Int): Double =
    tailLevels.find(p => math.floor(n * (1 - p) + 1e-9) >= 10).getOrElse(0.5)

  final case class Summary(n: Int, p50: Double, tailP: Double, tail: Double) {
    def tailName: String = {
      val s = BigDecimal(tailP * 100).bigDecimal.stripTrailingZeros.toPlainString
      s"p$s"
    }
  }

  def summary(xs: Seq[Double]): Summary = {
    val p = tailLevel(xs.length)
    Summary(xs.length, median(xs), p, if (p == 0.5) median(xs) else percentile(xs, p))
  }

  /** Latency of every record a micro-batch consumed: the batch read
    * offsets `[start(p), end(p))` of each partition p and committed at
    * `commitMs`; `due(p, o)` is when record (p, o) was due. Records
    * for which `keep` is false (ramp-up, after the window) are left
    * out. */
  def attribute(start: Map[Int, Long], end: Map[Int, Long], commitMs: Double,
      due: (Int, Long) => Double, keep: Double => Boolean = _ => true): Seq[Double] =
    end.toSeq.sortBy(_._1).flatMap { case (p, hi) =>
      (start.getOrElse(p, 0L) until hi).iterator.map(o => due(p, o))
        .filter(keep).map(commitMs - _)
    }

  /** True when the queue of unread records grew over the run: the
    * median backlog of the last third of the samples exceeds that of
    * the first third by more than `tolRecords`. Samples are the
    * backlog seen at successive batch commits. Fewer than 6 samples
    * cannot show a trend and count as growing. */
  def backlogGrowing(backlog: Seq[Double], tolRecords: Double): Boolean = {
    val n = backlog.length
    if (n < 6) true
    else {
      val k = n / 3
      median(backlog.takeRight(k)) - median(backlog.take(k)) > tolRecords
    }
  }
}
