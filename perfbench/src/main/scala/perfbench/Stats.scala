package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  /** Percentile levels a tail may be reported at, lowest first. */
  val TailLevels: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9, 99.99)

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank quantile of an ascending sample, q in [0, 1]. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    val rank = math.ceil(q * sorted.size).toInt
    sorted(math.min(sorted.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)

  /** The highest level in [[TailLevels]] that leaves at least
    * [[MinBeyond]] samples above it, or None when the sample is too
    * small for even the median to qualify. */
  def tailLevel(n: Int): Option[Double] =
    TailLevels.filter(l => n * (1.0 - l / 100.0) >= MinBeyond - 1e-9).lastOption

  /** A timing summary: median, the tail at [[tailLevel]], and the count. */
  final case class Summary(n: Int, p50: Double, tailLevel: Option[Double], tail: Option[Double]) {
    def tailName: String = tailLevel.fold("tail")(l => "p" + fmtLevel(l))
  }

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Summary(0, Double.NaN, None, None)
    else {
      val level = tailLevel(s.size)
      Summary(s.size, quantile(s, 0.5), level, level.map(l => quantile(s, l / 100.0)))
    }
  }

  def fmtLevel(l: Double): String =
    if (l == math.rint(l)) l.toInt.toString else l.toString

  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Row-to-batch latency join: each row carries the micro-batch that
    * committed it and the time its generator created it; a batch's
    * commit time is its trigger start plus its trigger execution time.
    * Returns one latency (ms) per row and the number of rows whose batch
    * has no recorded commit. */
  def rowLatencies(rows: Iterable[(Long, Long)], commitMs: Map[Long, Long]): (IndexedSeq[Double], Int) = {
    val out = IndexedSeq.newBuilder[Double]
    var missing = 0
    rows.foreach { case (batchId, stampMs) =>
      commitMs.get(batchId) match {
        case Some(c) => out += (c - stampMs).toDouble
        case None => missing += 1
      }
    }
    (out.result(), missing)
  }
}
