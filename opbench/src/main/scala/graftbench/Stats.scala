package graftbench

/** Timing summaries. A tail is the highest percentile of [[TailLadder]]
  * that still has at least [[MinBeyond]] samples above it (nearest-rank),
  * so a tail never rests on a handful of samples; a series too short for
  * the lowest rung has no tail and fails the run.
  */
object Stats {
  val MinBeyond = 10
  val TailLadder: Seq[Double] =
    Seq(99.9, 99.5, 99.0, 98.0, 97.5, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 66.7, 60.0)

  final case class Dist(n: Int, p50: Double, tailPct: Double, tail: Double,
                        beyond: Int)

  final class TooFewSamples(msg: String) extends RuntimeException(msg)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank index of percentile `p` in a sorted series of `n`. */
  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def dist(name: String, xs: Seq[Double]): Dist = {
    val n = xs.length
    val rung = TailLadder.find(p => n - rank(p, n) >= MinBeyond).getOrElse(
      throw new TooFewSamples(s"$name: $n samples cannot support a tail " +
        s"(p${TailLadder.last} needs ${MinBeyond} samples beyond it)"))
    val s = xs.sorted
    val r = rank(rung, n)
    Dist(n, median(xs), rung, s(r - 1), n - r)
  }
}
