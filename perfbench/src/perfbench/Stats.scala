package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** True median: the middle value, or the mean of the two middle values
    * on an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it (rank ceil(p/100 * n), 1-based). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** A tail latency with the sample count that supports it. */
  case class Tail(value: Double, percentile: Double, n: Int, beyond: Int)

  /** The highest nearest-rank percentile that still has at least `beyond`
    * samples above it: rank n - beyond. With too few samples for that, the
    * maximum is returned with the number of samples actually beyond it
    * (zero), so a caller can see the tail is unsupported. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = n - beyond
    if (rank < 1) Tail(s(n - 1), 100.0, n, 0)
    else Tail(s(rank - 1), 100.0 * rank / n, n, beyond)
  }

  /** Consecutive windows of `window` samples, in the order taken; the
    * remainder joins the last window, and fewer samples make one window. */
  def windows[A](xs: Seq[A], window: Int): Seq[Seq[A]] = {
    val k = math.max(1, xs.length / window)
    (0 until k).map(i => xs.slice(i * window, if (i == k - 1) xs.length else (i + 1) * window))
  }

  /** The median over [[windows]] of each window's median. A disturbance
    * that slows a minority of windows leaves it unchanged. */
  def windowedMedian(xs: Seq[Double], window: Int): Double =
    median(windows(xs, window).map(median))

  /** A tail over consecutive windows: `value` is the median over windows
    * of each window's [[tail]]; `percentile`, `n` and `beyond` describe one
    * window. */
  case class WindowedTail(value: Double, percentile: Double, n: Int, beyond: Int, windows: Int)

  /** The median over [[windows]] of each window's [[tail]]. One stall
    * raises the tail of its own window only, so the figure reflects how
    * often the slow cases recur rather than the single worst one. */
  def windowedTail(xs: Seq[Double], window: Int, beyond: Int = 10): WindowedTail = {
    require(xs.nonEmpty, "tail of no samples")
    val tails = windows(xs, window).map(tail(_, beyond))
    WindowedTail(median(tails.map(_.value)), tails.head.percentile, tails.head.n,
      tails.head.beyond, tails.length)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
