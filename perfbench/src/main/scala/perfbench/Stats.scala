package perfbench

/** Order statistics used for every reported timing. Quartiles follow
  * Python's `statistics.quantiles(values, n=4)` (its default "exclusive"
  * method), so the spread the harness reports is the spread a reader
  * recomputes from the printed values.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First, second and third quartile, as `statistics.quantiles(xs, n=4)`. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val ld = s.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }

  /** Nearest-rank percentile of sorted samples: the value at rank
    * ceil(p/100 * n).
    */
  def percentileSorted(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(rankOf(sorted.length, p) - 1)
  }

  private def rankOf(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Percentiles the tail is chosen from, lowest first. */
  val Ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9, 99.99, 99.999)

  /** The highest ladder percentile that still has at least ten samples
    * above its rank, or None below twenty samples.
    */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n - rankOf(n, p) >= 10).lastOption

  /** A timing as the harness reports it: sample count, median, quartiles
    * and the highest percentile with at least ten samples beyond it.
    */
  final case class Summary(n: Int, p50: Double, q1: Double, q3: Double,
                           tailP: Option[Double], tail: Option[Double]) {
    def render(unit: String): String = {
      val t = tailP.zip(tail).map { case (p, v) => f", p${fmtP(p)} $v%.3f" }.getOrElse("")
      f"median $p50%.3f (q1 $q1%.3f, q3 $q3%.3f)$t $unit (n=$n)"
    }
  }

  private def fmtP(p: Double): String =
    if (p == math.rint(p)) p.toLong.toString else p.toString

  def summarize(xs: Seq[Double]): Summary = summarize(xs.toArray)

  def summarize(xs: Array[Double]): Summary = {
    require(xs.nonEmpty, "summary of no samples")
    val s = xs.clone()
    java.util.Arrays.sort(s)
    val p = tailPercentile(s.length)
    val (q1, q2, q3) = if (s.length >= 2) quartiles(s.toSeq) else (s(0), s(0), s(0))
    Summary(s.length, q2, q1, q3, p, p.map(percentileSorted(s, _)))
  }
}
