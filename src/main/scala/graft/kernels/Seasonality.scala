package graft.kernels

import scala.util.control.NonFatal

/** Seasonality detection kernels.
  * detectSeasonality matches reference seasonality.rs:323-377: ACF local
  * peaks above 0.1, sorted by ACF strength, top 5.
  */
object Seasonality {

  /** Autocorrelation at lags 1..maxLag, normalized by total variance (the
    * reference divides by the full-series sum of squared deviations). */
  def acf(values: Array[Double], maxLag: Int): Array[Double] = {
    val n = values.length
    var mean = 0.0
    var i = 0
    while (i < n) { mean += values(i); i += 1 }
    mean /= n
    var variance = 0.0
    i = 0
    while (i < n) { val d = values(i) - mean; variance += d * d; i += 1 }
    val out = new Array[Double](maxLag)
    if (variance.abs < Double.MinPositiveValue) return out
    var lag = 1
    while (lag <= maxLag) {
      var s = 0.0
      i = 0
      while (i < n - lag) { s += (values(i) - mean) * (values(i + lag) - mean); i += 1 }
      out(lag - 1) = s / variance
      lag += 1
    }
    out
  }

  /** The strongest detected period, or 1 (non-seasonal) when none is found
    * or the series is too short to test — the models' auto-period default. */
  def primaryPeriodOr1(values: Array[Double]): Int =
    try detectSeasonality(values, None).headOption.getOrElse(1)
    catch { case NonFatal(_) => 1 }

  /** Candidate seasonal periods, strongest first (seasonality.rs:323-377).
    * Returns empty for constant or too-short series. */
  def detectSeasonality(values: Array[Double], maxPeriod: Option[Int] = None): Array[Int] = {
    val n = values.length
    if (n < 4) throw new IllegalArgumentException(s"insufficient data: need 4, got $n")
    val maxLag = math.min(maxPeriod.getOrElse(n / 2), n / 2)
    if (maxLag < 2) return Array.empty
    val a = acf(values, maxLag)
    if (a.forall(_ == 0.0)) {
      // constant-series short-circuit mirrors variance≈0 branch
      var mean = 0.0
      values.foreach(mean += _)
      mean /= n
      var variance = 0.0
      values.foreach(v => variance += (v - mean) * (v - mean))
      if (variance.abs < 2.22e-16) return Array.empty
    }
    val threshold = 0.1
    val peaks = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 1
    while (i < a.length - 1) {
      if (a(i) > a(i - 1) && a(i) > a(i + 1) && a(i) > threshold) peaks += (i + 1)
      i += 1
    }
    peaks.sortBy(p => -a(p - 1)).take(5).toArray
  }

  /** Primary period: strongest detected, else 1. */
  def primaryPeriod(values: Array[Double]): Int = {
    if (values.length < 4) return 1
    val ps = detectSeasonality(values, None)
    if (ps.isEmpty) 1 else ps(0)
  }
}
