package graft.kernels

import scala.collection.mutable.ArrayBuffer

/** Period detection kernels — the reference's 13-method suite
  * (src/table_functions/ts_periods.cpp, crates .../periods.rs:17-68 enum,
  * detect_periods :1478 with confidence thresholds 5.0 for FFT's
  * peak/mean-power ratio and 0.3 for ACF-scale confidences). Heavy methods
  * (SSA, matrix profile, SAZED) are behavioral implementations of the
  * published algorithms sized for per-series arrays.
  */
object Periods {

  final case class DetectedPeriod(period: Double, confidence: Double, strength: Double,
                                  amplitude: Double, phase: Double, iteration: Int)
  final case class MultiPeriodResult(periods: Seq[DetectedPeriod], primaryPeriod: Double,
                                     method: String)

  val DefaultMaxPeriod = 365
  val MinConfidenceFft = 5.0
  val MinConfidenceAcf = 0.3

  def parseMethod(s: String): String = s.toLowerCase match {
    case "fft" | "periodogram" => "fft"
    case "acf" | "autocorrelation" => "acf"
    case "regression" | "fourier" => "regression"
    case "multi" | "multiple" => "multi"
    case "auto" => "auto"
    case "autoperiod" | "ap" => "autoperiod"
    case "cfd" | "cfdautoperiod" | "cfd_autoperiod" => "cfd_autoperiod"
    case "lombscargle" | "lomb_scargle" | "lomb-scargle" | "ls" => "lomb_scargle"
    case "aic" | "aic_comparison" => "aic"
    case "ssa" | "singular_spectrum" => "ssa"
    case "stl" | "stl_period" | "seasonal_trend" => "stl"
    case "matrix_profile" | "matrixprofile" | "mp" => "matrix_profile"
    case "sazed" | "zero_padded" | "enhanced_dft" => "sazed"
    case _ => "fft"
  }

  /** Fewest points the (parsed) method accepts; shorter series are a data
    * error, not a query error (the estimators' length `require`s). */
  def minLength(method: String): Int = parseMethod(method) match {
    case "cfd_autoperiod" => 5
    case "aic" => 8
    case "ssa" | "stl" | "sazed" => 16
    case "matrix_profile" => 32
    case _ => 4
  }

  // ------------------------------------------------------------ single estimators

  /** Periodogram peak: (period, frequency, power, confidence = peak/mean power). */
  def estimatePeriodFft(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    require(values.length >= 4, s"insufficient data: need 4, got ${values.length}")
    val (freqs, power) = Fft.periodogram(values)
    val meanPower = power.sum / power.length
    var bestIdx = -1
    var bestPower = 0.0
    var i = 0
    while (i < freqs.length) {
      val period = 1.0 / freqs(i)
      if (period >= 2.0 && period <= maxPeriod && power(i) > bestPower) {
        bestPower = power(i); bestIdx = i
      }
      i += 1
    }
    if (bestIdx < 0) DetectedPeriod(0.0, 0.0, 0.0, 0.0, 0.0, 1)
    else {
      val period = 1.0 / freqs(bestIdx)
      val conf = if (meanPower > 0) bestPower / meanPower else 0.0
      DetectedPeriod(period, conf, 0.0, math.sqrt(bestPower) / values.length, 0.0, 1)
    }
  }

  /** First dominant ACF local maximum; confidence = ACF value at the peak. */
  def estimatePeriodAcf(values: Array[Double], maxLag: Option[Int] = None): DetectedPeriod = {
    require(values.length >= 4, s"insufficient data: need 4, got ${values.length}")
    val lagMax = math.min(maxLag.getOrElse(values.length / 2), values.length - 1)
    val a = Seasonality.acf(values, lagMax)
    var best = -1
    var i = 1
    while (i < a.length - 1) {
      if (a(i) > a(i - 1) && a(i) > a(i + 1) && (best < 0 || a(i) > a(best))) best = i
      i += 1
    }
    if (best < 0) DetectedPeriod(0.0, 0.0, 0.0, 0.0, 0.0, 1)
    else DetectedPeriod(best + 1.0, a(best), 0.0, 0.0, 0.0, 1)
  }

  /** Fourier regression grid search: candidate period minimizing SSE of a
    * 3-harmonic fit; confidence = R². */
  def estimatePeriodRegression(values: Array[Double], periodMin: Int = 2,
                               periodMaxOpt: Option[Int] = None, nCandidates: Int = 50,
                               nHarmonics: Int = 3): DetectedPeriod = {
    val n = values.length
    val periodMax = periodMaxOpt.getOrElse(n / 2)
    if (periodMax <= periodMin) return DetectedPeriod(0, 0, 0, 0, 0, 1)
    val mean = values.sum / n
    val ssTot = values.map(v => (v - mean) * (v - mean)).sum
    val candidates = (0 until nCandidates).map(i =>
      periodMin + (periodMax - periodMin) * i.toDouble / math.max(nCandidates - 1, 1)).distinct
    def r2Of(p: Double): Double = {
      val sse = fourierSse(values, p, nHarmonics)
      if (ssTot > 0) 1.0 - sse / ssTot else 0.0
    }
    var bestPeriod = 0.0
    var bestR2 = -1.0
    candidates.foreach { p =>
      val r2 = r2Of(p)
      if (r2 > bestR2) { bestR2 = r2; bestPeriod = p }
    }
    // refine around a candidate on a fine local grid (the coarse grid rarely
    // lands on the true period exactly)
    val step = (periodMax - periodMin).toDouble / math.max(nCandidates - 1, 1)
    def refine(center: Double): (Double, Double) = {
      var p = center; var r2 = r2Of(center)
      var lo = math.max(periodMin.toDouble, center - step)
      val hi = math.min(periodMax.toDouble, center + step)
      var i = 0
      while (i <= 40) {
        val cand = lo + (hi - lo) * i / 40.0
        val r = r2Of(cand)
        if (r > r2) { r2 = r; p = cand }
        i += 1
      }
      (p, r2)
    }
    // an h-harmonic fit at period m·p contains period p for m ≤ h, so the
    // grid winner can be a harmonic MULTIPLE of the true period; prefer the
    // smallest subharmonic that explains (nearly) as much variance
    val (refP, refR2) = refine(bestPeriod)
    var outP = refP
    var outR2 = refR2
    var m = nHarmonics
    while (m >= 2) {
      val sub = refP / m
      if (sub >= periodMin) {
        val (p2, r22) = refine(sub)
        if (r22 >= refR2 - 0.01 * math.max(1.0 - refR2, 0.01) && p2 < outP) {
          outP = p2; outR2 = r22
        }
      }
      m -= 1
    }
    DetectedPeriod(outP, math.max(outR2, 0.0), math.max(outR2, 0.0), 0.0, 0.0, 1)
  }

  /** SSE of an OLS fit of sin/cos harmonics at period p (+ intercept). */
  private def fourierSse(values: Array[Double], p: Double, harmonics: Int): Double = {
    val n = values.length
    val k = 2 * harmonics + 1
    // design matrix columns: 1, sin(2πh t/p), cos(2πh t/p)
    val x = Array.ofDim[Double](n, k)
    var t = 0
    while (t < n) {
      x(t)(0) = 1.0
      var h = 1
      while (h <= harmonics) {
        x(t)(2 * h - 1) = math.sin(2 * math.Pi * h * t / p)
        x(t)(2 * h) = math.cos(2 * math.Pi * h * t / p)
        h += 1
      }
      t += 1
    }
    val beta = Linalg.olsSolve(x, values)
    var sse = 0.0
    t = 0
    while (t < n) {
      var pred = 0.0
      var j = 0
      while (j < k) { pred += x(t)(j) * beta(j); j += 1 }
      val e = values(t) - pred
      sse += e * e
      t += 1
    }
    sse
  }

  /** Iterative residual subtraction: find FFT peak, fit & subtract the
    * sinusoid, repeat (periods.rs detect_multiple_periods_ts:369). */
  def detectMultiplePeriods(values: Array[Double], maxIterations: Int = 5,
                            maxPeriod: Int = DefaultMaxPeriod,
                            minConfidence: Double = 2.0): Seq[DetectedPeriod] = {
    val out = ArrayBuffer[DetectedPeriod]()
    var residual = values.clone()
    val totalVar = {
      val m = values.sum / values.length
      values.map(v => (v - m) * (v - m)).sum
    }
    var iter = 1
    var done = false
    while (iter <= maxIterations && !done) {
      val est = estimatePeriodFft(residual, maxPeriod)
      if (est.period < 2.0 || est.confidence < minConfidence) done = true
      else {
        // fit a + b·sin + c·cos at this period, subtract
        val n = residual.length
        val x = Array.ofDim[Double](n, 3)
        var t = 0
        while (t < n) {
          x(t)(0) = 1.0
          x(t)(1) = math.sin(2 * math.Pi * t / est.period)
          x(t)(2) = math.cos(2 * math.Pi * t / est.period)
          t += 1
        }
        val beta = Linalg.olsSolve(x, residual)
        val amplitude = math.sqrt(beta(1) * beta(1) + beta(2) * beta(2))
        val phase = math.atan2(beta(2), beta(1))
        var explained = 0.0
        t = 0
        while (t < n) {
          val seasonal = beta(1) * x(t)(1) + beta(2) * x(t)(2)
          explained += seasonal * seasonal
          residual(t) -= seasonal
          t += 1
        }
        val strength = if (totalVar > 0) math.min(1.0, explained / totalVar) else 0.0
        out += DetectedPeriod(est.period, est.confidence, strength, amplitude, phase, iter)
        iter += 1
      }
    }
    out.toSeq
  }

  /** Autoperiod (Vlachos et al.): FFT candidate peaks validated by an ACF
    * local maximum within ±1 lag of the candidate. */
  def autoperiod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    require(values.length >= 4, s"insufficient data: need 4, got ${values.length}")
    val (freqs, power) = Fft.periodogram(values)
    val meanPower = power.sum / power.length
    val candidates = freqs.indices
      .filter { i => val p = 1.0 / freqs(i); p >= 2 && p <= maxPeriod }
      .sortBy(i => -power(i))
      .take(10)
    val a = Seasonality.acf(values, math.min(values.length / 2, maxPeriod + 2))
    def isAcfHill(lag: Int): Boolean =
      lag >= 2 && lag < a.length && a(lag - 1) > 0 &&
        (lag - 2 < 0 || a(lag - 1) >= a(lag - 2)) &&
        (lag >= a.length || a(lag - 1) >= a(math.min(lag, a.length - 1)))
    val validated = candidates.flatMap { i =>
      val p = math.round(1.0 / freqs(i)).toInt
      (p - 1 to p + 1).find(isAcfHill).map(hill =>
        DetectedPeriod(hill.toDouble, if (meanPower > 0) power(i) / meanPower else 0.0,
          a(hill - 1), 0.0, 0.0, 1))
    }
    validated.sortBy(-_.confidence).headOption
      .getOrElse(DetectedPeriod(0.0, 0.0, 0.0, 0.0, 0.0, 1))
  }

  /** CFD-Autoperiod: autoperiod on the first-differenced series (removes
    * trend-induced low-frequency leakage). */
  def cfdAutoperiod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    require(values.length >= 5, s"insufficient data: need 5, got ${values.length}")
    val diffed = Array.tabulate(values.length - 1)(i => values(i + 1) - values(i))
    autoperiod(diffed, maxPeriod)
  }

  /** Lomb-Scargle periodogram (irregular sampling OK). times default 0..n-1. */
  def lombScargle(values: Array[Double], timesOpt: Option[Array[Double]] = None,
                  maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    val n = values.length
    require(n >= 4, s"insufficient data: need 4, got $n")
    val times = timesOpt.getOrElse(Array.tabulate(n)(_.toDouble))
    val mean = values.sum / n
    val y = values.map(_ - mean)
    val span = times.last - times.head
    val maxP = math.min(maxPeriod.toDouble, span / 2)
    if (maxP < 2) return DetectedPeriod(0, 0, 0, 0, 0, 1)
    val nFreq = 200
    var bestP = 0.0
    var bestPower = 0.0
    var sumPower = 0.0
    var k = 0
    while (k < nFreq) {
      val period = 2.0 + (maxP - 2.0) * k / (nFreq - 1)
      val omega = 2 * math.Pi / period
      var s2 = 0.0; var c2 = 0.0
      var i = 0
      while (i < n) { s2 += math.sin(2 * omega * times(i)); c2 += math.cos(2 * omega * times(i)); i += 1 }
      val tau = math.atan2(s2, c2) / (2 * omega)
      var cs = 0.0; var cc = 0.0; var ss = 0.0; var sc = 0.0
      i = 0
      while (i < n) {
        val arg = omega * (times(i) - tau)
        val co = math.cos(arg); val si = math.sin(arg)
        cs += y(i) * co; sc += y(i) * si
        cc += co * co; ss += si * si
        i += 1
      }
      val p = 0.5 * ((if (cc > 0) cs * cs / cc else 0.0) + (if (ss > 0) sc * sc / ss else 0.0))
      sumPower += p
      if (p > bestPower) { bestPower = p; bestP = period }
      k += 1
    }
    val conf = if (sumPower > 0) bestPower / (sumPower / nFreq) else 0.0
    DetectedPeriod(bestP, conf, 0.0, 0.0, 0.0, 1)
  }

  /** AIC comparison: seasonal-means model per candidate period vs the flat
    * model; pick min AIC (periods.rs aic_comparison:660). */
  def aicPeriod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    val n = values.length
    require(n >= 8, s"insufficient data: need 8, got $n")
    val mean = values.sum / n
    val sseFlat = values.map(v => (v - mean) * (v - mean)).sum
    val aicFlat = n * math.log(math.max(sseFlat, 1e-300) / n) + 2.0
    var bestP = 0
    var bestAic = aicFlat
    var p = 2
    val cap = math.min(maxPeriod, n / 2)
    while (p <= cap) {
      val sums = new Array[Double](p)
      val counts = new Array[Int](p)
      var i = 0
      while (i < n) { sums(i % p) += values(i); counts(i % p) += 1; i += 1 }
      var sse = 0.0
      i = 0
      while (i < n) {
        val e = values(i) - sums(i % p) / counts(i % p)
        sse += e * e
        i += 1
      }
      // floor the SSE at a scale-aware epsilon: an exact seasonal fit leaves
      // only float noise, and log(noise) would otherwise dominate the 2(p+1)
      // penalty — period multiples (16 for a period-8 signal) also fit
      // exactly and must lose on parameter count, not on noise ulps
      val aic = n * math.log(math.max(sse, math.max(1e-300, 1e-12 * sseFlat)) / n) + 2.0 * (p + 1)
      if (aic < bestAic) { bestAic = aic; bestP = p }
      p += 1
    }
    if (bestP == 0) DetectedPeriod(0, 0, 0, 0, 0, 1)
    else DetectedPeriod(bestP.toDouble, math.max(0.0, (aicFlat - bestAic) / math.abs(aicFlat).max(1.0)), 0, 0, 0, 1)
  }

  /** SSA-style: dominant frequency of the lag-autocovariance sequence —
    * pairs of near-equal singular components show up as a spectral peak. */
  /** Singular-spectrum analysis: eigendecompose the lag-covariance of the
    * trajectory (Hankel) matrix — a periodic component appears as a pair of
    * near-equal leading eigenvalues whose eigenvectors are phase-shifted
    * sinusoids at the season frequency. Period = spectral peak of the top
    * eigenvector; confidence = the leading eigenpair's variance share. */
  def ssaPeriod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    val n = values.length
    require(n >= 16, s"insufficient data: need 16, got $n")
    val mean = values.sum / n
    val x = values.map(_ - mean)
    // window length: long enough to hold two seasons, bounded for O(L²K)
    val cap = math.min(maxPeriod, n / 2)
    val l = math.min(math.min(n / 2, 2 * cap + 1), 128)
    val k = n - l + 1
    // lag-covariance C[i][j] = Σ_t x[t+i]·x[t+j] / K
    val c = Array.ofDim[Double](l, l)
    var i = 0
    while (i < l) {
      var j = i
      while (j < l) {
        var s = 0.0
        var t = 0
        while (t < k) { s += x(t + i) * x(t + j); t += 1 }
        c(i)(j) = s / k
        c(j)(i) = c(i)(j)
        j += 1
      }
      i += 1
    }
    val trace = (0 until l).map(d => c(d)(d)).sum
    if (trace <= 1e-12) return DetectedPeriod(0, 0, 0, 0, 0, 1)
    // power iteration for the leading eigenpair
    def powerIter(deflateV: Option[Array[Double]]): (Array[Double], Double) = {
      // seed with the series' own leading window — it lies in the trajectory
      // row space, so it always overlaps the dominant eigenvector (a fixed
      // synthetic seed can be exactly orthogonal to a pure tone's rank-2
      // spectrum and stall the iteration); perturb per-index for the
      // deflated pass so the second eigenvector is reachable too
      var v = {
        val base = Array.tabulate(l)(d =>
          x(d) + (if (deflateV.isDefined) 1e-3 * math.sin(d * 2.399963) else 0.0))
        val nb = math.sqrt(base.map(q => q * q).sum)
        if (nb > 1e-12) base.map(_ / nb)
        else Array.tabulate(l)(d => math.sin((d + 1) * 2.399963))
      }
      var lam = 0.0
      var it = 0
      while (it < 60) {
        val w = new Array[Double](l)
        var a = 0
        while (a < l) {
          var s = 0.0
          var b = 0
          while (b < l) { s += c(a)(b) * v(b); b += 1 }
          w(a) = s
          a += 1
        }
        // orthogonalize against the leading eigenvector → second eigenpair
        deflateV.foreach { dv =>
          val proj = dv.indices.map(d => dv(d) * w(d)).sum
          var d = 0
          while (d < l) { w(d) -= proj * dv(d); d += 1 }
        }
        val norm = math.sqrt(w.map(q => q * q).sum)
        if (norm <= 1e-15) return (v, lam)
        var d = 0
        while (d < l) { w(d) /= norm; d += 1 }
        lam = norm
        v = w
        it += 1
      }
      (v, lam)
    }
    val (v1, lam1) = powerIter(None)
    val (_, lam2) = powerIter(Some(v1))
    // the paired eigenvalues of a sinusoidal component split the variance
    val share = math.min(1.0, (lam1 + lam2) / trace)
    val est = estimatePeriodFft(v1, cap)
    DetectedPeriod(est.period, share, share, 0.0, 0.0, 1)
  }

  /** STL-style grid search: period maximizing seasonal strength
    * 1 − Var(remainder)/Var(detrended) (periods.rs stl_period:952). */
  def stlPeriod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    val n = values.length
    require(n >= 16, s"insufficient data: need 16, got $n")
    var bestP = 0
    var bestStrength = 0.0
    var p = 2
    val cap = math.min(maxPeriod, n / 3)
    while (p <= cap) {
      val strength = Decomposition.seasonalStrengthAt(values, p)
      if (strength > bestStrength) { bestStrength = strength; bestP = p }
      p += 1
    }
    DetectedPeriod(bestP.toDouble, bestStrength, bestStrength, 0, 0, 1)
  }

  /** Matrix-profile-style: lag minimizing the mean z-normalized distance
    * between subsequences k apart (motif recurrence). */
  /** Matrix-profile period detection: a STOMP-style z-normalized matrix
    * profile (diagonal dot-product recurrence, O(n²)), then the period is the
    * modal spacing between each subsequence and its nearest neighbor —
    * recurring motifs one season apart dominate the profile index (Yeh et al.
    * 2016; period use per the SAZED/MP literature). Confidence = fraction of
    * subsequences whose nearest neighbor sits at the modal spacing (±10%). */
  def matrixProfilePeriod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    val n = values.length
    require(n >= 32, s"insufficient data: need 32, got $n")
    val cap = math.min(maxPeriod, n / 3)
    // subsequence length: short enough to leave ≥ 3 windows, long enough to
    // carry shape; the classic heuristic is ~half the largest period sought
    val m = math.max(4, math.min(cap / 2 + 1, n / 4))
    val nw = n - m + 1
    // rolling means and stds
    val mu = new Array[Double](nw)
    val sig = new Array[Double](nw)
    var s = 0.0
    var s2 = 0.0
    var i = 0
    while (i < n) {
      s += values(i); s2 += values(i) * values(i)
      if (i >= m) { s -= values(i - m); s2 -= values(i - m) * values(i - m) }
      if (i >= m - 1) {
        val w = i - m + 1
        mu(w) = s / m
        sig(w) = math.sqrt(math.max(0.0, s2 / m - mu(w) * mu(w)))
      }
      i += 1
    }
    val nnDist = Array.fill(nw)(Double.PositiveInfinity)
    val nnIdx = Array.fill(nw)(-1)
    // diagonals outside the trivial-match exclusion zone (the standard m/4 —
    // a full-window zone would swallow any period shorter than the window)
    var d = math.max(2, m / 4)
    while (d < nw) {
      // sliding dot product along the diagonal (j = i + d)
      var qt = 0.0
      var k = 0
      while (k < m) { qt += values(k) * values(k + d); k += 1 }
      var ii = 0
      while (ii + d < nw) {
        if (ii > 0) {
          qt += values(ii + m - 1) * values(ii + d + m - 1) -
            values(ii - 1) * values(ii + d - 1)
        }
        val jj = ii + d
        val denom = m * sig(ii) * sig(jj)
        val dist =
          if (denom <= 1e-12) 0.0 // flat-vs-flat: identical shape
          else {
            val corr = (qt - m * mu(ii) * mu(jj)) / denom
            math.sqrt(math.max(0.0, 2.0 * m * (1.0 - math.min(1.0, corr))))
          }
        if (dist < nnDist(ii)) { nnDist(ii) = dist; nnIdx(ii) = jj }
        if (dist < nnDist(jj)) { nnDist(jj) = dist; nnIdx(jj) = ii }
        ii += 1
      }
      d += 1
    }
    // modal nearest-neighbor spacing within the period cap
    val spacings = (0 until nw).collect {
      case w if nnIdx(w) >= 0 =>
        math.abs(nnIdx(w) - w)
    }.filter(sp => sp >= 2 && sp <= cap)
    if (spacings.isEmpty) return DetectedPeriod(0, 0, 0, 0, 0, 1)
    val counts = spacings.groupBy(identity).view.mapValues(_.size)
    val (modeSp, _) = counts.maxBy { case (sp, cnt) => (cnt, -sp) }
    val agree = spacings.count(sp => math.abs(sp - modeSp) <= math.max(1.0, 0.1 * modeSp))
    DetectedPeriod(modeSp.toDouble, agree.toDouble / spacings.length,
      agree.toDouble / spacings.length, 0, 0, 1)
  }

  /** SAZED ensemble (Toller, Santos & Kern 2019 — parameter-free season
    * length estimation): the S (spectral argmax), A (ACF argmax), and Z
    * (mean zero-crossing spacing) components are each computed on the
    * series AND on its autocorrelation sequence — six estimates — and the
    * season length with the densest agreement wins; confidence is the
    * agreeing fraction. */
  def sazedPeriod(values: Array[Double], maxPeriod: Int = DefaultMaxPeriod): DetectedPeriod = {
    val n = values.length
    require(n >= 16, s"insufficient data: need 16, got $n")
    val cap = math.min(maxPeriod, n / 2)

    def sComponent(x: Array[Double]): Double = {
      val est = estimatePeriodFft(x, cap)
      est.period
    }
    def aComponent(x: Array[Double]): Double =
      estimatePeriodAcf(x, Some(math.min(x.length - 1, cap))).period
    /** Z: twice the mean spacing between mean-crossings of the centered
      * signal (a full season crosses its mean twice). */
    def zComponent(x: Array[Double]): Double = {
      val m = x.sum / x.length
      val c = x.map(_ - m)
      val crossings = (1 until c.length).filter(i => c(i - 1) * c(i) < 0.0)
      if (crossings.length < 2) 0.0
      else {
        val spacings = crossings.sliding(2).map(w => (w(1) - w(0)).toDouble).toSeq
        2.0 * spacings.sum / spacings.length
      }
    }

    val acfSeq = Seasonality.acf(values, math.min(n - 1, math.max(4, n / 2)))
    val raw = Seq(
      sComponent(values), aComponent(values), zComponent(values),
      sComponent(acfSeq), aComponent(acfSeq), zComponent(acfSeq))
    val ests = raw.filter(p => p >= 2.0 && p <= cap)
    if (ests.isEmpty) return DetectedPeriod(0, 0, 0, 0, 0, 1)

    // densest agreement: for each estimate count peers within max(1, 15%);
    // ties break toward the smaller period (subharmonic preference)
    val support = ests.map { p =>
      (p, ests.count(q => math.abs(q - p) <= math.max(1.0, 0.15 * p)))
    }
    val bestSupport = support.map(_._2).max
    val winners = support.filter(_._2 == bestSupport).map(_._1)
    val winner = winners.min
    // vote with the agreeing cluster's median for stability
    val cluster = ests.filter(q => math.abs(q - winner) <= math.max(1.0, 0.15 * winner)).sorted
    val periodOut = cluster(cluster.length / 2)
    DetectedPeriod(periodOut, bestSupport.toDouble / ests.length, 0, 0, 0, 1)
  }

  // ------------------------------------------------------------ dispatch

  /** detect_periods dispatch with method-specific confidence thresholds. */
  def detectPeriods(values: Array[Double], method: String,
                    maxPeriod: Option[Int] = None,
                    minConfidence: Option[Double] = None): MultiPeriodResult = {
    val m = parseMethod(method)
    val cap = math.min(maxPeriod.getOrElse(DefaultMaxPeriod), values.length / 2)
    val detected: Seq[DetectedPeriod] = m match {
      case "fft" => Seq(estimatePeriodFft(values, cap))
      case "acf" => Seq(estimatePeriodAcf(values, Some(cap)))
      case "regression" => Seq(estimatePeriodRegression(values, 2, Some(cap)))
      case "multi" => detectMultiplePeriods(values, 5, cap)
      case "auto" | "autoperiod" => Seq(autoperiod(values, cap))
      case "cfd_autoperiod" => Seq(cfdAutoperiod(values, cap))
      case "lomb_scargle" => Seq(lombScargle(values, None, cap))
      case "aic" => Seq(aicPeriod(values, cap))
      case "ssa" => Seq(ssaPeriod(values, cap))
      case "stl" => Seq(stlPeriod(values, cap))
      case "matrix_profile" => Seq(matrixProfilePeriod(values, cap))
      case "sazed" => Seq(sazedPeriod(values, cap))
    }
    val threshold = minConfidence.getOrElse(m match {
      case "fft" => MinConfidenceFft
      case _ => MinConfidenceAcf
    })
    val kept =
      if (threshold > 0.0) detected.filter(p => p.confidence >= threshold && p.period >= 2.0)
      else detected.filter(_.period >= 2.0)
    if (kept.isEmpty) MultiPeriodResult(Nil, 0.0, s"$m (no seasonality)")
    else MultiPeriodResult(kept, kept.head.period, m)
  }
}

/** Tiny dense linear algebra: normal-equation OLS with Gaussian elimination
  * (offline build — no BLAS dependency needed at these sizes). */
object Linalg {
  /** Solve min ||X·β − y||² via (XᵀX)β = Xᵀy. */
  def olsSolve(x: Array[Array[Double]], y: Array[Double]): Array[Double] = {
    val n = x.length
    val k = x(0).length
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    var i = 0
    while (i < n) {
      var a = 0
      while (a < k) {
        xty(a) += x(i)(a) * y(i)
        var b = 0
        while (b < k) { xtx(a)(b) += x(i)(a) * x(i)(b); b += 1 }
        a += 1
      }
      i += 1
    }
    solve(xtx, xty)
  }

  /** Gaussian elimination with partial pivoting; singular columns get 0. */
  def solve(aIn: Array[Array[Double]], bIn: Array[Double]): Array[Double] = {
    val k = bIn.length
    val a = aIn.map(_.clone())
    val b = bIn.clone()
    var col = 0
    while (col < k) {
      var piv = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (math.abs(a(piv)(col)) > 1e-12) {
        val tmp = a(col); a(col) = a(piv); a(piv) = tmp
        val tb = b(col); b(col) = b(piv); b(piv) = tb
        r = col + 1
        while (r < k) {
          val f = a(r)(col) / a(col)(col)
          var c = col
          while (c < k) { a(r)(c) -= f * a(col)(c); c += 1 }
          b(r) -= f * b(col)
          r += 1
        }
      }
      col += 1
    }
    val out = new Array[Double](k)
    var row = k - 1
    while (row >= 0) {
      var s = b(row)
      var c = row + 1
      while (c < k) { s -= a(row)(c) * out(c); c += 1 }
      out(row) = if (math.abs(a(row)(row)) > 1e-12) s / a(row)(row) else 0.0
      row -= 1
    }
    out
  }
}
