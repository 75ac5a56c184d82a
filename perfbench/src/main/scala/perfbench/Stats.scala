package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) of the samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size - 1e-9).toInt - 1))
  }

  private val ladder = Seq(99.9, 99.0, 95.0, 90.0, 50.0)

  /** The tail a sample count supports: the highest percentile on the ladder
    * that still has at least ten samples beyond it, as (label, value). With
    * fewer than 20 samples no ladder percentile qualifies and the tail is
    * the maximum.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    ladder.find(p => xs.size * (100.0 - p) / 100.0 >= 10.0 - 1e-9) match {
      case Some(p) => (s"p${if (p == p.floor) p.toInt.toString else p.toString}", percentile(xs, p))
      case None => ("max", xs.max)
    }

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Geometric mean over keys of each key's median, for samples tagged by
    * key (such as latencies by query). Unlike the median of all samples, it
    * does not sit between two keys' latencies when the pool's queries split
    * evenly around it, where a few samples more or less of one query move
    * it by the gap between the two.
    */
  def keyedMedianGeomean(xs: Seq[(Int, Double)]): Double =
    geomean(xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)

  /** [[tail]] of each of `windows` consecutive slices of the samples (in
    * arrival order), and the median of those. One stall, such as a
    * collector pause, then moves one slice's tail instead of the run's.
    */
  def windowedTail(xs: Seq[Double], windows: Int): (String, Double) = {
    val size = math.max(1, xs.size / windows)
    val tails = xs.grouped(size).filter(_.size == size).map(tail).toSeq
    (s"${tails.head._1} median of ${tails.size} windows", median(tails.map(_._2)))
  }
}
