package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Decomposition, Detrend, Peaks, Periods, SeasonalityExt}

/** Decomposition / detrend / period / peak operators (reference
  * ts_macros.cpp:419-538, :1890-2015; ts_decomposition.cpp; ts_detrend.cpp;
  * ts_periods.cpp; ts_peaks.cpp). */
object TsDecompositionOp {

  final case class DecompRow(t: Long, y: Double, trend: Double, seasonal: Double,
                             remainder: Double)

  /** ts_mstl_decomposition_by: per-row (group, ds, y, trend, seasonal_total,
    * remainder); `insufficient_data` mode ∈ fail | nan | skip
    * (decomposition.rs:8-41). */
  def mstlDecompositionBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          periods: Seq[Int], insufficientData: String = "skip"): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val minLen = 2 * periods.max
    Series.flatMapSeries(df, groupCol, dsCol, yCol) { s =>
      s.clean(minLen) match {
        case Some(clean) =>
          val r = Decomposition.mstl(clean, periods)
          val totalSeasonal = Array.tabulate(clean.length)(i => r.seasonals.map(_._2(i)).sum)
          s.ts.indices.map(i =>
            DecompRow(s.ts(i), clean(i), r.trend(i), totalSeasonal(i), r.remainder(i)))
        case None => insufficientData match {
          case "skip" => Nil
          case "nan" => s.ts.indices.map(i =>
            DecompRow(s.ts(i), s.vs(i), Double.NaN, Double.NaN, Double.NaN))
          case _ => throw new IllegalArgumentException(
            s"mstl: series too short (need $minLen, got ${s.interpolated.length})")
        }
      }
    }.select(col(groupCol), Series.fromMicros(col("_o.t"), dsType).as(dsCol),
        col("_o.y").as(yCol), col("_o.trend").as("trend"),
        col("_o.seasonal").as("seasonal"), col("_o.remainder").as("remainder"))
  }

  /** ts_decompose_seasonal (classical additive/multiplicative, reference
    * ts_detrend.cpp:145-157 → STRUCT(trend[], seasonal[], remainder[],
    * period, method)), as a per-row `_by` table transformer: (group, ds, y,
    * trend, seasonal, remainder, period, method). Edge positions where the
    * centered moving average is undefined carry NaN trend/remainder, exactly
    * like the kernel. */
  def decomposeSeasonalBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          period: Int, method: String = "additive"): DataFrame = {
    require(Set("additive", "multiplicative").contains(method),
      s"method must be additive|multiplicative, got '$method'")
    val dsType = df.schema(dsCol).dataType
    val mult = method == "multiplicative"
    Series.flatMapSeries(df, groupCol, dsCol, yCol) { s =>
      s.clean(2 * math.max(period, 2)).toSeq.flatMap { clean =>
        val r = Decomposition.classical(clean, period, mult)
        s.ts.indices.map(i =>
          DecompRow(s.ts(i), clean(i), r.trend(i), r.seasonal(i), r.remainder(i)))
      }
    }.select(col(groupCol), Series.fromMicros(col("_o.t"), dsType).as(dsCol),
        col("_o.y").as(yCol), col("_o.trend").as("trend"),
        col("_o.seasonal").as("seasonal"), col("_o.remainder").as("remainder"),
        lit(period).as("period"), lit(method).as("method"))
  }

  final case class DetrendRow(t: Long, y: Double, trend: Double, detrended: Double)

  /** ts_detrend_by: per-row (group, ds, y, trend, detrended) + per-group
    * method/rss via a companion summary if needed. */
  def detrendBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                method: String = "auto"): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.mapSeries(df, groupCol, dsCol, yCol)(s => s.clean(4).map { clean =>
      val r = Detrend.detrend(clean, method)
      (r.method, s.ts.indices.map(i => DetrendRow(s.ts(i), clean(i), r.trend(i), r.detrended(i))))
    }).select(col(groupCol), col("_o._1").as("method"), explode(col("_o._2")).as("_r"))
      .select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.y").as(yCol), col("_r.trend").as("trend"),
        col("_r.detrended").as("detrended"), col("method"))
  }

  /** ts_detect_periods_by: one row per detected period per group. */
  def detectPeriodsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                      method: String = "fft", maxPeriod: Option[Int] = None,
                      minConfidence: Option[Double] = None): DataFrame = {
    val minLen = Periods.minLength(method)
    Series.mapSeries(df, groupCol, dsCol, yCol)(s =>
      s.clean(minLen).map(Periods.detectPeriods(_, method, maxPeriod, minConfidence)))
      .select(col(groupCol), col("_o.primaryPeriod").as("primary_period"),
        col("_o.method").as("method"), explode_outer(col("_o.periods")).as("_p"))
      .select(col(groupCol), col("primary_period"), col("method"),
        col("_p.period").as("period"), col("_p.confidence").as("confidence"),
        col("_p.strength").as("strength"), col("_p.iteration").as("iteration"))
  }

  final case class PeakRow(index: Int, t: Long, value: Double, prominence: Double)

  /** ts_detect_peaks_by: one row per detected peak per group. */
  def detectPeaksBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                    minDistance: Option[Double] = None,
                    minProminence: Option[Double] = None): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.flatMapSeries(df, groupCol, dsCol, yCol)(s =>
      s.clean(3).toSeq.flatMap(Peaks.detectPeaks(_, minDistance, minProminence)
        .map(p => PeakRow(p.index, s.ts(p.index), p.value, p.prominence))))
      .select(col(groupCol), col("_o.index").as("peak_index"),
        Series.fromMicros(col("_o.t"), dsType).as(dsCol),
        col("_o.value").as("peak_value"), col("_o.prominence").as("prominence"))
  }

  /** ts_analyze_peak_timing_by. */
  def analyzePeakTimingBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          period: Double): DataFrame = {
    Series.mapSeries(df, groupCol, dsCol, yCol)(s =>
      s.clean(3).map(Peaks.analyzePeakTiming(_, period)))
      .select(col(groupCol), col("_o.meanInterval").as("mean_interval"),
        col("_o.intervalStd").as("interval_std"),
        col("_o.timingVariability").as("timing_variability"),
        col("_o.isRegular").as("is_regular"), col("_o.nPeaks").as("n_peaks"))
  }

  /** ts_analyze_seasonality_by (seasonality.rs:380-440): per-group detected
    * periods with clamped-ACF strengths, primary period and trend/seasonal
    * strength. Groups shorter than 4 clean points are skipped. */
  def analyzeSeasonalityBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                           maxPeriod: Option[Int] = None): DataFrame = {
    Series.mapSeries(df, groupCol, dsCol, yCol)(s =>
      s.clean(4).map(SeasonalityExt.analyze(_, maxPeriod)))
      .select(col(groupCol), col("_o.periods").as("periods"),
        col("_o.strengths").as("strengths"),
        col("_o.primary_period").as("primary_period"),
        col("_o.trend_strength").as("trend_strength"),
        col("_o.seasonal_strength").as("seasonal_strength"),
        col("_o.is_seasonal").as("is_seasonal"))
  }

  /** ts_classify_seasonality_by (ts_macros.cpp:461; seasonality_ext timing
    * classification): per-group stability/modulation classification at a
    * fixed period. Groups shorter than two full cycles are skipped. */
  def classifySeasonalityBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                            period: Int): DataFrame = {
    Series.mapSeries(df, groupCol, dsCol, yCol)(s =>
      s.clean(2 * period).map(SeasonalityExt.classify(_, period)))
      .select(col(groupCol), col("_o.timing_classification").as("timing_classification"),
        col("_o.modulation_type").as("modulation_type"),
        col("_o.has_stable_timing").as("has_stable_timing"),
        col("_o.timing_variability").as("timing_variability"),
        col("_o.seasonal_strength").as("seasonal_strength"),
        col("_o.is_seasonal").as("is_seasonal"),
        col("_o.cycle_strengths").as("cycle_strengths"),
        col("_o.weak_seasons").as("weak_seasons"))
  }
}
