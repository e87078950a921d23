package perfbench

object Stats {
  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Single-thread integer loop whose time depends only on the host's
  * available CPU: sampled at the start and end of every run, so a slow run
  * on a contended host can be told apart from slow code (the same idea as
  * the engine bench's calibration sentinel). */
object HostCalib {
  def sample(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) System.err.println("") // keeps the loop from being eliminated
    (System.nanoTime() - t0) / 1e9
  }
}
