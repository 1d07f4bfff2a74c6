package graft.kernels

/** Time-series forecasting kernels.
  *
  * Semantics follow the reference's dispatch pipeline
  * (crates/anofox-fcst-core/src/forecast.rs:512-700):
  *  1. nulls → linear interpolation; error if < 3 points,
  *  2. seasonal period: user value, else ACF auto-detection,
  *  3. explicit seasonal_period on a non-seasonal model is an error,
  *  4. model dispatch,
  *  5. confidence intervals always recomputed as point ± z·σ(values)·√step
  *     with σ = population std of the (interpolated) history and a coarse
  *     z lookup (forecast.rs:2558-2592),
  *  6. optional fitted values / residuals (forecast.rs:2593-2646).
  *
  * Heavy models delegate in the reference to public Rust crates; here they
  * are hand-implemented from the published algorithm descriptions (Hyndman
  * ETS/Holt-Winters, Fiorucci et al. 2016 Theta variants, Croston/SBA/TSB/
  * ADIDA/IMAPA per the intermittent-demand literature).
  */
object Forecast {

  // ---------------------------------------------------------------- errors

  /** Error taxonomy matching the reference's isolation contract
    * (ts_forecast_native.cpp:666-672): per-group computation/data errors
    * skip the group; invalid model/input aborts the query. */
  sealed abstract class FcError(msg: String) extends RuntimeException(msg)
  final class InsufficientData(needed: Int, got: Int)
    extends FcError(s"Insufficient data: need $needed, got $got")
  final class ComputationError(msg: String) extends FcError(msg)
  final class InvalidModel(msg: String) extends FcError(msg)
  final class InvalidInput(msg: String) extends FcError(msg)

  // ---------------------------------------------------------------- model names

  /** Model catalog: (model, category) in the reference's canonical order
    * (forecast.rs:2647-2694 `list_models`; categories per
    * docs/API_REFERENCE.md:126-136). */
  val listModels: Seq[(String, String)] = Seq(
    "AutoETS" -> "automatic", "AutoARIMA" -> "automatic", "AutoTheta" -> "automatic",
    "AutoMFLES" -> "automatic", "AutoMSTL" -> "automatic", "AutoTBATS" -> "automatic",
    "Naive" -> "basic", "SMA" -> "basic", "SeasonalNaive" -> "basic",
    "SES" -> "basic", "SESOptimized" -> "basic", "RandomWalkDrift" -> "basic",
    "Holt" -> "exponential_smoothing", "HoltWinters" -> "exponential_smoothing",
    "SeasonalES" -> "exponential_smoothing", "SeasonalESOptimized" -> "exponential_smoothing",
    "SeasonalWindowAverage" -> "exponential_smoothing",
    "Theta" -> "theta", "OptimizedTheta" -> "theta", "DynamicTheta" -> "theta",
    "DynamicOptimizedTheta" -> "theta",
    "ETS" -> "state_space", "ARIMA" -> "state_space",
    "MFLES" -> "multi_seasonal", "MSTL" -> "multi_seasonal", "TBATS" -> "multi_seasonal",
    "CrostonClassic" -> "intermittent", "CrostonOptimized" -> "intermittent",
    "CrostonSBA" -> "intermittent", "ADIDA" -> "intermittent",
    "IMAPA" -> "intermittent", "TSB" -> "intermittent",
    "Laplace" -> "distributional")

  /** Canonical model names + case-insensitive aliases
    * (forecast.rs:202-253, :261-306). */
  def canonicalModel(s: String): String = s.toLowerCase match {
    case "autoets" | "auto_ets" | "auto" => "AutoETS"
    case "autoarima" | "auto_arima" => "AutoARIMA"
    case "autotheta" | "auto_theta" => "AutoTheta"
    case "automfles" | "auto_mfles" => "AutoMFLES"
    case "automstl" | "auto_mstl" => "AutoMSTL"
    case "autotbats" | "auto_tbats" => "AutoTBATS"
    case "naive" => "Naive"
    case "sma" => "SMA"
    case "seasonalnaive" | "seasonal_naive" | "snaive" => "SeasonalNaive"
    case "ses" => "SES"
    case "sesoptimized" | "ses_optimized" => "SESOptimized"
    case "randomwalkdrift" | "random_walk_drift" | "rwd" | "drift" |
         "randomwalkwithdrift" | "random_walk_with_drift" => "RandomWalkDrift"
    case "holt" => "Holt"
    case "holtwinters" | "holt_winters" | "hw" => "HoltWinters"
    case "seasonales" | "seasonal_es" => "SeasonalES"
    case "seasonalesoptimized" | "seasonal_es_optimized" => "SeasonalESOptimized"
    case "seasonalwindowaverage" | "seasonal_window_average" | "swa" => "SeasonalWindowAverage"
    case "theta" => "Theta"
    case "optimizedtheta" | "optimized_theta" | "otm" => "OptimizedTheta"
    case "dynamictheta" | "dynamic_theta" | "dstm" => "DynamicTheta"
    case "dynamicoptimizedtheta" | "dynamic_optimized_theta" => "DynamicOptimizedTheta"
    case "ets" => "ETS"
    case "arima" => "ARIMA"
    case "mfles" => "MFLES"
    case "mstl" => "MSTL"
    case "tbats" => "TBATS"
    case "crostonclassic" | "croston_classic" | "croston" => "CrostonClassic"
    case "crostonoptimized" | "croston_optimized" => "CrostonOptimized"
    case "crostonsba" | "croston_sba" | "sba" => "CrostonSBA"
    case "adida" => "ADIDA"
    case "imapa" => "IMAPA"
    case "tsb" => "TSB"
    case "laplace" => "Laplace"
    case _ => throw new InvalidModel(s"Unknown model: $s")
  }

  /** Models that reject an explicit seasonal_period (forecast.rs:541-565). */
  private val nonSeasonal = Set("Naive", "SES", "SESOptimized", "Holt", "RandomWalkDrift",
    "ARIMA", "CrostonClassic", "CrostonOptimized", "CrostonSBA", "TSB", "ADIDA", "IMAPA")

  // ---------------------------------------------------------------- options/output

  final case class Options(
      model: String = "AutoETS",
      horizon: Int = 12,
      confidenceLevel: Double = 0.95,
      seasonalPeriod: Int = 0,
      autoDetectSeasonality: Boolean = true,
      includeFitted: Boolean = false,
      includeResiduals: Boolean = false,
      window: Int = 0,
      etsSpec: Option[String] = None,
      modelPool: Option[String] = None,
      seasonalPeriods: Seq[Int] = Nil,
      laplaceVariant: String = "auto",
      laplaceBatchInit: Boolean = false)

  final case class Output(
      point: Array[Double],
      lower: Array[Double],
      upper: Array[Double],
      fitted: Option[Array[Double]],
      residuals: Option[Array[Double]],
      modelName: String,
      aic: Option[Double],
      bic: Option[Double],
      mse: Option[Double])

  /** Valid params keys for the MAP-style API (ts_forecast_native.cpp:270-306). */
  val validParamKeys: Set[String] = Set("model", "seasonal_period", "seasonal_periods",
    "confidence_level", "window", "model_pool", "laplace_variant",
    "laplace_seasonal_batch_init", "include_fitted", "include_residuals")

  def optionsFromParams(method: String, horizon: Int, params: Map[String, String]): Options = {
    val unknown = params.keySet -- validParamKeys
    if (unknown.nonEmpty)
      throw new InvalidInput(s"Unknown parameter(s): ${unknown.toSeq.sorted.mkString(", ")}. " +
        s"Valid keys: ${validParamKeys.toSeq.sorted.mkString(", ")}")
    val model = canonicalModel(method)
    val sp = params.get("seasonal_period").map(_.trim.toInt).getOrElse(0)
    val conf = params.get("confidence_level").map(_.trim.toDouble).getOrElse(0.95)
    if (conf <= 0.0 || conf >= 1.0)
      throw new InvalidInput(s"confidence_level must be in (0, 1), got $conf")
    val etsSpec = params.get("model")
    if (etsSpec.isDefined && model != "ETS")
      throw new InvalidInput("'model' (ETS specification) is only valid when method='ETS'")
    val window = params.get("window").map(_.trim.toInt).getOrElse(0)
    if (params.contains("window") && model != "SMA")
      throw new InvalidInput("'window' is only valid with method='SMA'")
    if (params.contains("window") && window <= 0)
      throw new InvalidInput(s"window must be positive, got $window")
    val multiPeriods = params.get("seasonal_periods")
      .map(_.split("[,;]").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq).getOrElse(Nil)
    if (multiPeriods.nonEmpty && !Set("MSTL", "AutoMSTL", "TBATS", "AutoTBATS", "MFLES", "AutoMFLES").contains(model))
      throw new InvalidInput("'seasonal_periods' is only valid for multi-seasonal models " +
        "(MSTL, AutoMSTL, TBATS, AutoTBATS, MFLES, AutoMFLES)")
    // LaplaceVariant::parse aliases (forecast.rs:64-76); validated for every
    // model, applied by Laplace only — mirroring the reference's global
    // ForecastOptions field
    val lapVariant = params.get("laplace_variant").map(_.trim.toLowerCase match {
      case "" | "auto" => "auto"
      case "auto_aid" | "autoaid" | "aid" => "auto_aid"
      case "skaters" | "skater" => "skaters"
      case other => throw new InvalidInput(
        s"Invalid laplace_variant '$other': expected one of: auto, auto_aid, skaters")
    }).getOrElse("auto")
    Options(
      model = model,
      horizon = horizon,
      confidenceLevel = conf,
      seasonalPeriod = sp,
      autoDetectSeasonality = !params.contains("seasonal_period"),
      includeFitted = params.get("include_fitted").exists(_.toBoolean),
      includeResiduals = params.get("include_residuals").exists(_.toBoolean),
      window = window,
      etsSpec = etsSpec,
      modelPool = params.get("model_pool"),
      seasonalPeriods = multiPeriods,
      laplaceVariant = lapVariant,
      laplaceBatchInit = params.get("laplace_seasonal_batch_init").exists(_.trim.toBoolean))
  }

  // ---------------------------------------------------------------- main entry

  /** Forecast a single series. `values`/`valid` represent nullable doubles. */
  def forecast(values: Array[Double], valid: Array[Boolean], opts: Options): Output = {
    val clean = Imputation.fillInterpolate(values, valid)
    if (clean.isEmpty || clean.forall(_.isNaN)) throw new InsufficientData(1, 0)
    if (clean.length < 3) throw new InsufficientData(3, clean.length)

    val period: Int =
      if (opts.autoDetectSeasonality && opts.seasonalPeriod == 0)
        Seasonality.primaryPeriodOr1(clean)
      else if (opts.seasonalPeriod > 0) opts.seasonalPeriod
      else 1

    if (!opts.autoDetectSeasonality && opts.seasonalPeriod > 1 && nonSeasonal(opts.model))
      throw new InvalidInput(
        s"Model '${opts.model}' does not use seasonal_period (got ${opts.seasonalPeriod}). " +
          "For seasonal forecasting, use: SeasonalNaive, HoltWinters, SeasonalES, AutoETS, " +
          "AutoMFLES, AutoMSTL, or AutoTBATS.")

    val h = opts.horizon
    val (point, name, aicO, bicO) = opts.model match {
      case "Naive" => (Array.fill(h)(clean.last), "Naive", None, None)
      case "SeasonalNaive" => (seasonalNaive(clean, h, period), "SeasonalNaive", None, None)
      case "SMA" =>
        val w = if (opts.window > 0) opts.window else math.max(period, 3)
        (sma(clean, h, w), "SMA", None, None)
      case "RandomWalkDrift" => (drift(clean, h), "RandomWalkDrift", None, None)
      case "SES" => (sesForecast(clean, h, 0.3), "SES", None, None)
      case "SESOptimized" => (sesOptimized(clean, h), "SESOptimized", None, None)
      case "Holt" => (holt(clean, h), "Holt", None, None)
      case "HoltWinters" => (holtWinters(clean, h, math.max(period, 2)), "HoltWinters", None, None)
      case "SeasonalES" => (seasonalES(clean, h, math.max(period, 2), optimize = false), "SeasonalES", None, None)
      case "SeasonalESOptimized" =>
        (seasonalES(clean, h, math.max(period, 2), optimize = true), "SeasonalESOptimized", None, None)
      case "SeasonalWindowAverage" =>
        (seasonalWindowAverage(clean, h, math.max(2, math.min(period, clean.length))), "SeasonalWindowAverage", None, None)
      case "Theta" => (theta(clean, h, period, dynamic = false, optimizeTheta = false), "Theta", None, None)
      case "OptimizedTheta" => (theta(clean, h, period, dynamic = false, optimizeTheta = true), "OptimizedTheta", None, None)
      case "DynamicTheta" => (theta(clean, h, period, dynamic = true, optimizeTheta = false), "DynamicTheta", None, None)
      case "DynamicOptimizedTheta" =>
        (theta(clean, h, period, dynamic = true, optimizeTheta = true), "DynamicOptimizedTheta", None, None)
      case "CrostonClassic" => (croston(clean, h, optimize = false, sba = false), "CrostonClassic", None, None)
      case "CrostonOptimized" => (croston(clean, h, optimize = true, sba = false), "CrostonOptimized", None, None)
      case "CrostonSBA" => (croston(clean, h, optimize = false, sba = true), "CrostonSBA", None, None)
      case "TSB" => (tsb(clean, h, 0.2, 0.2), "TSB", None, None)
      case "ADIDA" => (adida(clean, h), "ADIDA", None, None)
      case "IMAPA" => (imapa(clean, h), "IMAPA", None, None)
      case "ETS" => Ets.forecastEts(clean, h, period, opts.etsSpec)
      case "AutoETS" => Ets.autoEts(clean, h, period, opts.modelPool)
      case "ARIMA" => Arima.forecastArima(clean, h)
      case "AutoARIMA" => Arima.autoArima(clean, h, period)
      case "MSTL" | "AutoMSTL" =>
        val ps = if (opts.seasonalPeriods.nonEmpty) opts.seasonalPeriods else Seq(period)
        if (opts.model == "AutoMSTL")
          (MultiSeasonal.autoMstlForecast(clean, h, ps), "AutoMSTL", None, None)
        else (MultiSeasonal.mstlForecast(clean, h, ps), "MSTL", None, None)
      case "MFLES" | "AutoMFLES" =>
        val ps = if (opts.seasonalPeriods.nonEmpty) opts.seasonalPeriods else Seq(period)
        if (opts.model == "AutoMFLES")
          (MultiSeasonal.autoMflesForecast(clean, h, ps), "AutoMFLES", None, None)
        else (MultiSeasonal.mflesForecast(clean, h, ps), "MFLES", None, None)
      case "TBATS" | "AutoTBATS" =>
        val ps = if (opts.seasonalPeriods.nonEmpty) opts.seasonalPeriods else Seq(period)
        if (opts.model == "AutoTBATS")
          (MultiSeasonal.autoTbatsForecast(clean, h, ps), "AutoTBATS", None, None)
        else (MultiSeasonal.tbatsForecast(clean, h, ps), "TBATS", None, None)
      case "AutoTheta" =>
        (theta(clean, h, period, dynamic = true, optimizeTheta = true), "AutoTheta", None, None)
      case "Laplace" =>
        // model_name tags the variant + seasonal state (forecast.rs:1699-1703)
        val lapSeasonal = period > 1
        val name = (lapSeasonal, opts.laplaceBatchInit && lapSeasonal) match {
          case (true, true) => s"Laplace(${opts.laplaceVariant},seasonal=$period,batch_init)"
          case (true, false) => s"Laplace(${opts.laplaceVariant},seasonal=$period)"
          case _ => s"Laplace(${opts.laplaceVariant})"
        }
        (MultiSeasonal.laplaceForecast(clean, h, period,
          opts.laplaceVariant, opts.laplaceBatchInit), name, None, None)
      case other =>
        throw new InvalidModel(s"Model '$other' is not implemented yet")
    }

    // CI always recomputed from the history's population σ (forecast.rs:2558)
    val (lower, upper) = confidenceIntervals(point, clean, opts.confidenceLevel)

    val (fitted, residuals) =
      if (opts.includeFitted || opts.includeResiduals) {
        val f = fittedValues(clean, opts.model, period)
        val r = if (opts.includeResiduals)
          Some(clean.zip(f).map { case (a, p) => a - p }) else None
        (Some(f), r)
      } else (None, None)

    val mse = fitted.map { f =>
      var s = 0.0
      var i = 0
      while (i < clean.length) { val d = clean(i) - f(i); s += d * d; i += 1 }
      s / clean.length
    }
    Output(point, lower, upper, if (opts.includeFitted) fitted else None,
      residuals, name, aicO, bicO, mse)
  }

  /** point ± z·σ_pop(history)·√step; coarse z lookup (forecast.rs:2558-2592). */
  def confidenceIntervals(point: Array[Double], history: Array[Double],
                          confidence: Double): (Array[Double], Array[Double]) = {
    val n = history.length
    var mean = 0.0
    history.foreach(mean += _)
    mean /= n
    var variance = 0.0
    history.foreach(v => variance += (v - mean) * (v - mean))
    variance /= n
    val se = math.sqrt(variance)
    val z =
      if (confidence >= 0.99) 2.576
      else if (confidence >= 0.95) 1.96
      else if (confidence >= 0.90) 1.645
      else if (confidence >= 0.80) 1.28
      else 1.0
    val lower = point.zipWithIndex.map { case (f, i) => f - z * se * math.sqrt(i + 1.0) }
    val upper = point.zipWithIndex.map { case (f, i) => f + z * se * math.sqrt(i + 1.0) }
    (lower, upper)
  }

  /** In-sample fitted values (forecast.rs:2593-2646): model-specific for
    * Naive/SeasonalNaive/SWA, SES(0.3) for everything else. */
  def fittedValues(values: Array[Double], model: String, period: Int): Array[Double] = {
    val n = values.length
    model match {
      case "Naive" =>
        Array.tabulate(n)(i => if (i == 0) values(0) else values(i - 1))
      case "SeasonalNaive" =>
        val p = math.min(math.max(period, 1), n)
        Array.tabulate(n)(i => if (i < p) values(0) else values(i - p))
      case "SeasonalWindowAverage" =>
        val p = math.min(math.max(period, 1), n)
        val sums = new Array[Double](p)
        val counts = new Array[Int](p)
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          val pos = i % p
          out(i) = if (counts(pos) > 0) sums(pos) / counts(pos) else values(i)
          sums(pos) += values(i)
          counts(pos) += 1
          i += 1
        }
        out
      case _ =>
        val alpha = 0.3
        val out = new Array[Double](n)
        var level = values(0)
        out(0) = level
        var i = 1
        while (i < n) { out(i) = level; level = alpha * values(i) + (1 - alpha) * level; i += 1 }
        out
    }
  }

  // ---------------------------------------------------------------- baseline models

  /** Repeat last season (forecast.rs:1041-1062). */
  def seasonalNaive(values: Array[Double], horizon: Int, period: Int): Array[Double] = {
    val p = math.min(math.max(period, 1), values.length)
    val lastSeason = values.takeRight(p)
    Array.tabulate(horizon)(i => lastSeason(i % p))
  }

  /** Mean of the trailing window, repeated (forecast.rs:1064-1079). */
  def sma(values: Array[Double], horizon: Int, window: Int): Array[Double] = {
    val w = math.min(window, values.length)
    val v = values.takeRight(w).sum / w
    Array.fill(horizon)(v)
  }

  /** Random walk with drift (forecast.rs:1081-1099). */
  def drift(values: Array[Double], horizon: Int): Array[Double] = {
    val n = values.length
    val d = (values(n - 1) - values(0)) / (n - 1)
    Array.tabulate(horizon)(h => values(n - 1) + d * (h + 1))
  }

  /** SES level after running the recursion; flat forecast. */
  def sesLevel(values: Array[Double], alpha: Double): Double = {
    var level = values(0)
    var i = 1
    while (i < values.length) { level = alpha * values(i) + (1 - alpha) * level; i += 1 }
    level
  }

  def sesForecast(values: Array[Double], horizon: Int, alpha: Double): Array[Double] =
    Array.fill(horizon)(sesLevel(values, alpha))

  /** One-step-ahead SSE of SES(alpha). */
  private def sesSse(values: Array[Double], alpha: Double): Double = {
    var level = values(0)
    var sse = 0.0
    var i = 1
    while (i < values.length) {
      val e = values(i) - level
      sse += e * e
      level = alpha * values(i) + (1 - alpha) * level
      i += 1
    }
    sse
  }

  def sesOptimized(values: Array[Double], horizon: Int): Array[Double] = {
    val alpha = Optim.goldenSection(a => sesSse(values, a), 0.01, 0.99)
    sesForecast(values, horizon, alpha)
  }

  /** Holt linear trend, (alpha, beta) optimized by one-step SSE. */
  def holt(values: Array[Double], horizon: Int): Array[Double] = {
    val n = values.length
    def sse(p: Array[Double]): Double = {
      val a = p(0); val b = p(1)
      var l = values(0)
      var t = if (n > 1) values(1) - values(0) else 0.0
      var s = 0.0
      var i = 1
      while (i < n) {
        val f = l + t
        val e = values(i) - f
        s += e * e
        val lNew = a * values(i) + (1 - a) * (l + t)
        t = b * (lNew - l) + (1 - b) * t
        l = lNew
        i += 1
      }
      s
    }
    val best = Optim.nelderMead(sse, Array(0.3, 0.1), Array(1e-4, 1e-4), Array(0.9999, 0.9999))
    val a = best(0); val b = best(1)
    var l = values(0)
    var t = if (n > 1) values(1) - values(0) else 0.0
    var i = 1
    while (i < n) {
      val lNew = a * values(i) + (1 - a) * (l + t)
      t = b * (lNew - l) + (1 - b) * t
      l = lNew
      i += 1
    }
    Array.tabulate(horizon)(h => l + t * (h + 1))
  }

  /** Additive Holt-Winters, (alpha, beta, gamma) optimized by one-step SSE. */
  def holtWinters(values: Array[Double], horizon: Int, period: Int): Array[Double] = {
    val n = values.length
    val p = math.max(period, 2)
    if (n < p + 2) return holt(values, horizon) // graceful degradation, too short for seasonal init

    def init(): (Double, Double, Array[Double]) = {
      val firstSeason = values.take(p)
      val l0 = firstSeason.sum / p
      val t0 =
        if (n >= 2 * p) {
          val second = values.slice(p, 2 * p)
          (second.sum / p - l0) / p
        } else 0.0
      val s0 = firstSeason.map(_ - l0)
      (l0, t0, s0)
    }

    def run(a: Double, b: Double, g: Double, collectSse: Boolean): (Double, Double, Array[Double], Double) = {
      var (l, t, sArr0) = init()
      val s = sArr0.clone()
      var sse = 0.0
      var i = 0
      while (i < n) {
        val si = s(i % p)
        val f = l + t + si
        val e = values(i) - f
        if (collectSse) sse += e * e
        val lNew = a * (values(i) - si) + (1 - a) * (l + t)
        t = b * (lNew - l) + (1 - b) * t
        s(i % p) = g * (values(i) - lNew) + (1 - g) * si
        l = lNew
        i += 1
      }
      (l, t, s, sse)
    }

    val best = Optim.nelderMead(pArr => run(pArr(0), pArr(1), pArr(2), collectSse = true)._4,
      Array(0.3, 0.1, 0.1), Array(1e-4, 1e-4, 1e-4), Array(0.9999, 0.9999, 0.9999))
    val (l, t, s, _) = run(best(0), best(1), best(2), collectSse = false)
    Array.tabulate(horizon)(h => l + t * (h + 1) + s((n + h) % p))
  }

  /** Seasonal exponential smoothing (level + seasonal, no trend). */
  def seasonalES(values: Array[Double], horizon: Int, period: Int, optimize: Boolean): Array[Double] = {
    val n = values.length
    val p = math.max(period, 2)
    if (n < p) return sesForecast(values, horizon, 0.3)

    def run(a: Double, g: Double, collectSse: Boolean): (Double, Array[Double], Double) = {
      var l = values.take(p).sum / p
      val s = values.take(p).map(_ - l)
      var sse = 0.0
      var i = 0
      while (i < n) {
        val si = s(i % p)
        val f = l + si
        val e = values(i) - f
        if (collectSse) sse += e * e
        val lNew = a * (values(i) - si) + (1 - a) * l
        s(i % p) = g * (values(i) - lNew) + (1 - g) * si
        l = lNew
        i += 1
      }
      (l, s, sse)
    }

    val (a, g) =
      if (optimize) {
        val best = Optim.nelderMead(pa => run(pa(0), pa(1), collectSse = true)._3,
          Array(0.3, 0.1), Array(1e-4, 1e-4), Array(0.9999, 0.9999))
        (best(0), best(1))
      } else (0.3, 0.1)
    val (l, s, _) = run(a, g, collectSse = false)
    Array.tabulate(horizon)(h => l + s((n + h) % p))
  }

  /** Average of the last (len/p) observations at each seasonal position
    * (forecast.rs:1234-1253). */
  def seasonalWindowAverage(values: Array[Double], horizon: Int, period: Int): Array[Double] = {
    val n = values.length
    val p = math.min(math.max(period, 2), n)
    val nSeasons = math.max(n / p, 1)
    val point = new Array[Double](horizon)
    var h = 0
    while (h < horizon) {
      val pos = (n + h) % p
      // last nSeasons values at this seasonal position
      var sum = 0.0
      var cnt = 0
      var i = n - 1 - ((n - 1 - pos) % p) // largest index ≡ pos (mod p)
      while (i >= 0 && cnt < nSeasons) {
        sum += values(i)
        cnt += 1
        i -= p
      }
      point(h) = if (cnt > 0) sum / cnt else values(n - 1)
      h += 1
    }
    point
  }

  // ---------------------------------------------------------------- Theta family

  /** Classical decomposition seasonal indices by position (0-based).
    * Multiplicative when all values positive, else additive. Returns
    * (indices, multiplicative). */
  def seasonalIndices(values: Array[Double], period: Int): (Array[Double], Boolean) = {
    val n = values.length
    val p = period
    val multiplicative = values.forall(_ > 0.0)
    // centered moving average trend
    val half = p / 2
    val trend = Array.fill(n)(Double.NaN)
    var i = half
    while (i < n - half) {
      var s = 0.0
      if (p % 2 == 0) {
        s += values(i - half) * 0.5
        s += values(i + half) * 0.5
        var j = i - half + 1
        while (j <= i + half - 1) { s += values(j); j += 1 }
        trend(i) = s / p
      } else {
        var j = i - half
        while (j <= i + half) { s += values(j); j += 1 }
        trend(i) = s / p
      }
      i += 1
    }
    val sums = new Array[Double](p)
    val counts = new Array[Int](p)
    i = 0
    while (i < n) {
      if (!trend(i).isNaN && trend(i) != 0.0) {
        val d = if (multiplicative) values(i) / trend(i) else values(i) - trend(i)
        sums(i % p) += d
        counts(i % p) += 1
      }
      i += 1
    }
    val idx = Array.tabulate(p)(k =>
      if (counts(k) > 0) sums(k) / counts(k) else (if (multiplicative) 1.0 else 0.0))
    // normalize
    val mean = idx.sum / p
    val out =
      if (multiplicative) { if (mean != 0.0) idx.map(_ / mean) else idx }
      else idx.map(_ - mean)
    (out, multiplicative)
  }

  /** Theta family (Fiorucci et al. 2016: STM/OTM/DSTM/DOTM).
    * Z_t(θ) = θ·y_t + (1−θ)·(A + B·t); forecast combines the SES level of
    * Z(θ) with the linear-trend extrapolation: ŷ = (1/θ)·ses + (1−1/θ)·line.
    * Dynamic variants recompute (A_t, B_t) on the data seen so far.
    * Seasonal series are deseasonalized first (classical decomposition) and
    * re-seasonalized after, as in the reference's Theta::seasonal. */
  def theta(raw: Array[Double], horizon: Int, period: Int,
            dynamic: Boolean, optimizeTheta: Boolean): Array[Double] = {
    val n = raw.length
    val seasonal = period > 1 && n >= 2 * period
    val (sIdx, mult) = if (seasonal) seasonalIndices(raw, period) else (Array.empty[Double], true)
    val y =
      if (!seasonal) raw
      else if (mult) Array.tabulate(n)(i => if (sIdx(i % period) != 0.0) raw(i) / sIdx(i % period) else raw(i))
      else Array.tabulate(n)(i => raw(i) - sIdx(i % period))

    // OLS of y on t = 1..n (full sample)
    def ols(upTo: Int): (Double, Double) = {
      val m = upTo
      var st = 0.0; var sy = 0.0; var stt = 0.0; var sty = 0.0
      var i = 0
      while (i < m) {
        val t = (i + 1).toDouble
        st += t; sy += y(i); stt += t * t; sty += t * y(i)
        i += 1
      }
      val denom = m * stt - st * st
      if (denom == 0.0) (sy / m, 0.0)
      else {
        val b = (m * sty - st * sy) / denom
        val a = (sy - b * st) / m
        (a, b)
      }
    }

    /** One-step SSE of the combined forecast for (alpha, theta). */
    def sse(alpha: Double, th: Double): Double = {
      var l = y(0) // SES level of Z(θ) series
      var aB: (Double, Double) = if (dynamic) ols(1) else ols(n)
      var s = 0.0
      var i = 1
      while (i < n) {
        val (aC, bC) = aB
        val line = aC + bC * (i + 1.0)
        val mu = (1.0 / th) * l + (1.0 - 1.0 / th) * line
        val e = y(i) - mu
        s += e * e
        val z = th * y(i) + (1.0 - th) * line
        l = alpha * z + (1 - alpha) * l
        if (dynamic) aB = ols(i + 1)
        i += 1
      }
      s
    }

    val (alpha, th) =
      if (optimizeTheta) {
        val best = Optim.nelderMead(p => sse(p(0), p(1)),
          Array(0.3, 2.0), Array(1e-4, 1.0), Array(0.9999, 10.0))
        (best(0), best(1))
      } else {
        val a = Optim.goldenSection(a => sse(a, 2.0), 1e-4, 0.9999)
        (a, 2.0)
      }

    // final pass with chosen params
    val (aF, bF) = ols(n)
    var l = y(0)
    var aB: (Double, Double) = if (dynamic) ols(1) else (aF, bF)
    var i = 1
    while (i < n) {
      val (aC, bC) = aB
      val line = aC + bC * (i + 1.0)
      val z = th * y(i) + (1.0 - th) * line
      l = alpha * z + (1 - alpha) * l
      if (dynamic) aB = ols(i + 1)
      i += 1
    }
    val point = Array.tabulate(horizon) { hh =>
      val t = n + hh + 1.0
      val line = aF + bF * t
      (1.0 / th) * l + (1.0 - 1.0 / th) * line
    }
    if (!seasonal) point
    else if (mult) Array.tabulate(horizon)(hh => point(hh) * sIdx((n + hh) % period))
    else Array.tabulate(horizon)(hh => point(hh) + sIdx((n + hh) % period))
  }

  // ---------------------------------------------------------------- intermittent demand

  /** Croston's method: SES on demand sizes and inter-demand intervals.
    * sba applies the 1−α/2 bias correction. */
  def croston(values: Array[Double], horizon: Int, optimize: Boolean, sba: Boolean): Array[Double] = {
    val demandIdx = values.indices.filter(i => values(i) != 0.0)
    if (demandIdx.isEmpty) return Array.fill(horizon)(0.0)
    val sizes = demandIdx.map(values).toArray
    val intervals = new Array[Double](demandIdx.length)
    var prev = -1
    var k = 0
    while (k < demandIdx.length) {
      intervals(k) = if (prev < 0) (demandIdx(k) + 1).toDouble else (demandIdx(k) - prev).toDouble
      prev = demandIdx(k)
      k += 1
    }
    val alphaZ = if (optimize && sizes.length > 1) Optim.goldenSection(a => sesSse(sizes, a), 0.01, 0.99) else 0.1
    val alphaP = if (optimize && intervals.length > 1) Optim.goldenSection(a => sesSse(intervals, a), 0.01, 0.99) else 0.1
    val zHat = sesLevel(sizes, alphaZ)
    val pHat = sesLevel(intervals, alphaP)
    val base = if (pHat == 0.0) 0.0 else zHat / pHat
    val corrected = if (sba) base * (1.0 - alphaP / 2.0) else base
    Array.fill(horizon)(corrected)
  }

  /** Teunter-Syntetos-Babai: probability & size smoothing, flat forecast. */
  def tsb(values: Array[Double], horizon: Int, alphaD: Double, alphaP: Double): Array[Double] = {
    val n = values.length
    val firstDemand = values.indexWhere(_ != 0.0)
    if (firstDemand < 0) return Array.fill(horizon)(0.0)
    var p = values.count(_ != 0.0).toDouble / n // demand probability init
    var z = values(firstDemand) // demand size init
    var i = 0
    while (i < n) {
      if (values(i) != 0.0) {
        p = alphaP * 1.0 + (1 - alphaP) * p
        z = alphaD * values(i) + (1 - alphaD) * z
      } else {
        p = alphaP * 0.0 + (1 - alphaP) * p
      }
      i += 1
    }
    Array.fill(horizon)(p * z)
  }

  /** ADIDA: aggregate-disaggregate with bucket = round(mean inter-demand
    * interval), SES-optimized on the aggregated series. */
  def adida(values: Array[Double], horizon: Int): Array[Double] = {
    val demandIdx = values.indices.filter(i => values(i) != 0.0)
    if (demandIdx.isEmpty) return Array.fill(horizon)(0.0)
    val meanInterval = values.length.toDouble / demandIdx.length
    val bucket = math.max(1, math.round(meanInterval).toInt)
    val nBuckets = values.length / bucket
    if (nBuckets < 1) return Array.fill(horizon)(values.sum / values.length)
    // aggregate trailing-aligned buckets
    val agg = new Array[Double](nBuckets)
    val offset = values.length - nBuckets * bucket
    var b = 0
    while (b < nBuckets) {
      var s = 0.0
      var j = offset + b * bucket
      while (j < offset + (b + 1) * bucket) { s += values(j); j += 1 }
      agg(b) = s
      b += 1
    }
    val f =
      if (agg.length > 1) {
        val alpha = Optim.goldenSection(a => sesSse(agg, a), 0.01, 0.99)
        sesLevel(agg, alpha)
      } else agg(0)
    Array.fill(horizon)(f / bucket)
  }

  /** IMAPA: average ADIDA-style forecasts across aggregation levels
    * 1..ceil(mean inter-demand interval). */
  def imapa(values: Array[Double], horizon: Int): Array[Double] = {
    val demandIdx = values.indices.filter(i => values(i) != 0.0)
    if (demandIdx.isEmpty) return Array.fill(horizon)(0.0)
    val meanInterval = values.length.toDouble / demandIdx.length
    val maxLevel = math.max(1, math.ceil(meanInterval).toInt)
    var sum = 0.0
    var cnt = 0
    var level = 1
    while (level <= maxLevel) {
      val nBuckets = values.length / level
      if (nBuckets >= 1) {
        val agg = new Array[Double](nBuckets)
        val offset = values.length - nBuckets * level
        var b = 0
        while (b < nBuckets) {
          var s = 0.0
          var j = offset + b * level
          while (j < offset + (b + 1) * level) { s += values(j); j += 1 }
          agg(b) = s
          b += 1
        }
        val f =
          if (agg.length > 1) {
            val alpha = Optim.goldenSection(a => sesSse(agg, a), 0.01, 0.99)
            sesLevel(agg, alpha)
          } else agg(0)
        sum += f / level
        cnt += 1
      }
      level += 1
    }
    Array.fill(horizon)(if (cnt > 0) sum / cnt else 0.0)
  }
}
