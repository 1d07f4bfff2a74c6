package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.{Forecast, Imputation}

/** Series gathering and date-type plumbing shared by the grouped operators.
  *
  * The reference materializes each group into dense arrays via
  * `LIST(value ORDER BY date)` inside a GROUP BY (ts_macros.cpp:37-42); the
  * Spark shape is `groupBy(g).agg(sort_array(collect_list(struct(ds, y))))` —
  * Catalyst plans partial + final hash aggregation around a shuffle on the
  * group key, so per-task memory stays O(series length), matching the
  * reference's O(group) contract (ts_forecast_native.cpp:23-26).
  *
  * Date columns may be DATE, TIMESTAMP, INTEGER or BIGINT and are normalized
  * to epoch micros (raw value for integer columns), with the original type
  * restored in outputs (DateColumnType contract, ts_fill_gaps_native.hpp:12-17,
  * ts_forecast_native.cpp:406-424).
  *
  * Per-series operators run through ONE runner ([[mapSeries]] /
  * [[flatMapSeries]]), the reference `_by` lifecycle (ts_macros.cpp:575-602):
  * gather → one kernel call per group → unnest. The runner owns the gather,
  * the single UDF, the explode and the per-group error contract
  * ([[skipOnDataError]]); an op supplies only its kernel and its output
  * projection.
  */
object Series {

  /** Column that converts a ds column to epoch micros (or raw long). */
  def toMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_micros(c.cast(TimestampType)) // UTC session TZ
    case IntegerType | LongType | ShortType => c.cast(LongType)
    case other => throw new IllegalArgumentException(
      s"Unsupported date column type $other: expected DATE, TIMESTAMP, INTEGER or BIGINT")
  }

  /** Restore a micros/raw long column to the original ds type. */
  def fromMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => timestamp_micros(c).cast(dt)
    case DateType => timestamp_micros(c).cast(DateType)
    case IntegerType => c.cast(IntegerType)
    case ShortType => c.cast(ShortType)
    case LongType => c
    case other => throw new IllegalArgumentException(s"Unsupported date column type $other")
  }

  /** True if the ds column carries raw integer time steps. */
  def isIntegerDs(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType => true
    case _ => false
  }

  /** Gather each group into parallel arrays `(_ts, _vs, _nu)` sorted by time:
    * epoch-micros timestamps, values (NaN where null), null mask.
    *
    * Partitioning (r11): the gather output feeds PER-SERIES KERNELS
    * (forecast optimizers, stats, changepoints) whose downstream cost is
    * CPU per row, not bytes — exactly the case AQE's byte-based partition
    * coalescing cannot see. At bench scale the gathered table is ~1 MB, so
    * AQE collapsed the agg exchange to ONE partition and the whole AutoETS
    * pass ran on a single core (measured: 2.2 s kernel stage ≈ the 2.3 s
    * single-thread kernel CPU of all 1,500 series). The fix keys the ONE
    * exchange with an EXPLICIT partition count (`repartition(n, g)` before
    * the groupBy — the aggregate reuses that partitioning, so no second
    * exchange, same bytes on the wire): a REPARTITION_BY_NUM shuffle is
    * never coalesced by AQE, and `n` comes from spark.sql.shuffle.partitions
    * — the standard cluster-sized knob (the bench sets it to
    * SPARK_GRAFT_CPUS), never a local constant. */
  def gather(df: DataFrame, groupCol: String, dsCol: String, yCol: String): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.filter(col(dsCol).isNotNull)
      .repartition(n, col(groupCol))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        toMicros(col(dsCol), dsType).as("t"),
        coalesce(col(yCol).cast(DoubleType), lit(Double.NaN)).as("v"),
        col(yCol).isNull.as("nu")))).as("_s"))
      .select(col(groupCol), col("_s.t").as("_ts"), col("_s.v").as("_vs"), col("_s.nu").as("_nu"))
  }

  /** One gathered series as a kernel sees it, built once per group:
    * epoch-micros timestamps, values (NaN where null) and the validity mask. */
  final case class Arrays(ts: Array[Long], vs: Array[Double], valid: Array[Boolean]) {
    /** The values with interior gaps linearly interpolated. */
    def interpolated: Array[Double] = Imputation.fillInterpolate(vs, valid)

    /** The shared kernel guard: the interpolated values, or None (skip the
      * group) when NaN remains or fewer than `minLen` points are left. */
    def clean(minLen: Int = 0): Option[Array[Double]] = {
      val c = interpolated
      if (c.length < minLen || c.exists(_.isNaN)) None else Some(c)
    }
  }

  /** The per-group error contract (ts_forecast_native.cpp:666-672): a data
    * error (insufficient data, computation failure) skips the group; any
    * other exception — invalid input or model, a bug — propagates and fails
    * the query. The one place this contract is written. */
  def skipOnDataError[A](body: => A): Option[A] =
    try Some(body)
    catch { case _: Forecast.InsufficientData | _: Forecast.ComputationError => None }

  /** One output row `(g, _o)` per group; groups whose kernel returns None
    * or raises a data error are dropped. */
  def mapSeries[O: TypeTag](df: DataFrame, g: String, ds: String, y: String)(
      k: Arrays => Option[O]): DataFrame =
    flatMapSeries(df, g, ds, y)(s => k(s).toSeq)

  /** Fan-out: one output row `(g, _o)` per element the kernel returns; a
    * group raising a data error contributes no rows. Drops are an explode of
    * an empty array, never a null filter: Catalyst pushes `isNotNull(_o)`
    * below the projection that computes `_o` and so runs the kernel twice
    * per group. */
  def flatMapSeries[O: TypeTag](df: DataFrame, g: String, ds: String, y: String)(
      k: Arrays => Seq[O]): DataFrame = {
    val kernel = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) =>
      skipOnDataError(k(Arrays(ts.toArray, vs.toArray, nu.map(!_).toArray))).getOrElse(Nil))
    gather(df, g, ds, y)
      .select(col(g), explode(kernel(col("_ts"), col("_vs"), col("_nu"))).as("_o"))
  }
}
