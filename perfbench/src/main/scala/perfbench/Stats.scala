package perfbench

/** Order statistics and interval arithmetic the benchmark reports with.
  * Pure functions, no Spark: the math is unit-tested on its own
  * (StatsSpec). */
object Stats {

  /** Percentiles the tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  /** Nearest-rank percentile of a sample: the value at 1-based rank
    * ceil(p/100 * n) of the sorted sample. Samples strictly after that
    * rank number n - rank. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(1, rank(s.size, p)) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.ceil(p / 100.0 * n - 1e-9).toInt

  /** The middle value; the mean of the two middle values when the
    * sample is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest ladder percentile that leaves at least `beyond` samples
    * after it in a sample of `n`; None when even the median leaves fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n - rank(n, p) >= beyond).lastOption

  /** (percentile, value) of the tail: the highest percentile the sample
    * supports, or the maximum (reported as p100) when it supports none. */
  def tail(xs: Seq[Double]): (Double, Double) =
    tailPercentile(xs.size) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(ivs: Seq[(Double, Double)]): Double =
    merge(ivs).map { case (a, b) => b - a }.sum

  /** Disjoint, sorted intervals covering exactly the union of `ivs`. */
  def merge(ivs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** Length of `ivs`' union clipped to `window`. */
  def coveredWithin(window: (Double, Double), ivs: Seq[(Double, Double)]): Double =
    unionLength(ivs.map { case (a, b) =>
      (math.max(a, window._1), math.min(b, window._2)) })

  /** Time inside `window` that no interval covers: the driver gap when the
    * intervals are the Spark jobs run inside the window. */
  def uncovered(window: (Double, Double), ivs: Seq[(Double, Double)]): Double =
    (window._2 - window._1) - coveredWithin(window, ivs)

  /** Length of the intersection of two interval unions. */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double = {
    val mb = merge(b)
    merge(a).map { case (x, y) => coveredWithin((x, y), mb) }.sum
  }
}
