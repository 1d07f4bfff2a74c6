package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Changepoint

/** Changepoint operators (reference ts_macros.cpp:489-538,
  * ts_changepoints.cpp, ts_cv wiring in changepoint.rs). */
object TsChangepointOp {

  final case class CpRow(t: Long, y: Double, is_changepoint: Boolean,
                         changepoint_probability: Double)

  /** ts_detect_changepoints_by (BOCPD): row-level output
    * (group, ds, y, is_changepoint, changepoint_probability). */
  def detectChangepointsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                           hazardLambda: Double = 250.0,
                           includeProbabilities: Boolean = true): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.flatMapSeries(df, groupCol, dsCol, yCol) { s =>
      val r = Changepoint.bocpd(s.interpolated, hazardLambda, includeProbabilities)
      s.ts.indices.map(i => CpRow(s.ts(i), s.vs(i), r.isChangepoint(i), r.probability(i)))
    }.select(col(groupCol),
        Series.fromMicros(col("_o.t"), dsType).as(dsCol),
        when(!isnan(col("_o.y")), col("_o.y")).as(yCol),
        col("_o.is_changepoint").as("is_changepoint"),
        col("_o.changepoint_probability").as("changepoint_probability"))
  }

  /** detect_changepoints_bayesian (changepoint.rs:360): legacy Bayesian API —
    * BOCPD with hazard λ = 1 / max(hazard_rate, 0.001), changepoint indices
    * only. Output: (group, changepoint_index, ds at index). */
  def bayesianBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                 hazardRate: Double = 0.004): DataFrame =
    indicesBy(df, groupCol, dsCol, yCol)(s =>
      Changepoint.bocpd(s.interpolated, 1.0 / math.max(hazardRate, 0.001),
        includeProbabilities = false).changepoints.toSeq)

  /** PELT changepoints per group: (group, changepoint_index, ds at index). */
  def peltBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
             costFn: String = "l2", minSize: Int = 2,
             penalty: Option[Double] = None): DataFrame = {
    val cost = Changepoint.Cost.parse(costFn)
    indicesBy(df, groupCol, dsCol, yCol)(s =>
      s.clean().toSeq.flatMap(c => Changepoint.pelt(c, minSize, penalty, cost).toSeq))
  }

  /** (group, changepoint_index, ds at index) for the indices `k` returns. */
  private def indicesBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String)(
      k: Series.Arrays => Seq[Int]): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.flatMapSeries(df, groupCol, dsCol, yCol)(s => k(s).map(i => (i, s.ts(i))))
      .select(col(groupCol), col("_o._1").as("changepoint_index"),
        Series.fromMicros(col("_o._2"), dsType).as(dsCol))
  }
}
