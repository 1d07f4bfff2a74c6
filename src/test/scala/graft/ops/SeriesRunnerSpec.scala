package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.Forecast

/** The per-group contract of the per-series runner (`Series.mapSeries` /
  * `flatMapSeries`), table-driven over its consumers: a data error skips
  * only its own group, any other exception fails the query, and the ds
  * column type survives the gather → kernel → fan-out round trip. */
class SeriesRunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-series-runner")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Group `long`: 60 steps of a weekly sinusoid on a trend; group `short`:
    * its first `shortLen` steps. */
  private def input(dsType: String = "date", shortLen: Int = 2): DataFrame = {
    val sp = spark
    import sp.implicits._
    def y(i: Int) = 10.0 + 3.0 * math.sin(2 * math.Pi * i / 7) + 0.05 * i
    val rows = (0 until 60).map(i => ("long", i, y(i))) ++
      (0 until shortLen).map(i => ("short", i, y(i)))
    val base = rows.toDF("g", "i", "y")
    val ds = dsType match {
      case "date" => date_add(lit("2024-01-01").cast(DateType), col("i"))
      case "timestamp" => timestamp_seconds(lit(1704067200L) + col("i") * 86400L)
      case "integer" => col("i")
    }
    base.select(col("g"), ds.as("ds"), col("y"))
  }

  private val seasonal = Map("seasonal_period" -> "7")

  private def groups(df: DataFrame): Set[String] =
    df.select("g").distinct().collect().map(_.getString(0)).toSet

  test("a group too short for its kernel is dropped, the other groups survive") {
    // (consumer, its minimum series length, op): the short group is one
    // step below the minimum
    val consumers: Seq[(String, Int, DataFrame => DataFrame)] = Seq(
      ("forecastBy", 3, TsForecastOp.forecastBy(_, "g", "ds", "y", "SeasonalNaive", 7, "1d",
        seasonal)),
      ("forecastInspectBy", 3, TsForecastOp.forecastInspectBy(_, "g", "ds", "y", "AutoETS",
        seasonal)),
      ("forecastExplainBy", 3, TsForecastOp.forecastExplainBy(_, "g", "ds", "y", "ETS", 7,
        seasonal)),
      ("detectChangepointsBy", 3, TsChangepointOp.detectChangepointsBy(_, "g", "ds", "y")),
      ("mstlDecompositionBy", 14, TsDecompositionOp.mstlDecompositionBy(_, "g", "ds", "y",
        Seq(7))),
      ("decomposeSeasonalBy", 14, TsDecompositionOp.decomposeSeasonalBy(_, "g", "ds", "y", 7)),
      ("detrendBy", 4, TsDecompositionOp.detrendBy(_, "g", "ds", "y")),
      ("detectPeriodsBy", 4, TsDecompositionOp.detectPeriodsBy(_, "g", "ds", "y")),
      ("detectPeriodsBy(ssa)", 16, TsDecompositionOp.detectPeriodsBy(_, "g", "ds", "y", "ssa")),
      ("detectPeaksBy", 3, TsDecompositionOp.detectPeaksBy(_, "g", "ds", "y")),
      ("analyzePeakTimingBy", 3, TsDecompositionOp.analyzePeakTimingBy(_, "g", "ds", "y", 7.0)),
      ("analyzeSeasonalityBy", 4, TsDecompositionOp.analyzeSeasonalityBy(_, "g", "ds", "y")),
      ("classifySeasonalityBy", 14, TsDecompositionOp.classifySeasonalityBy(_, "g", "ds", "y",
        7)),
      ("runner: InsufficientData", 3, Series.mapSeries(_, "g", "ds", "y") { s =>
        if (s.vs.length < 3) throw new Forecast.InsufficientData(3, s.vs.length)
        Some(s.vs.length)
      }),
      ("runner: ComputationError", 3, Series.flatMapSeries(_, "g", "ds", "y") { s =>
        if (s.vs.length < 3) throw new Forecast.ComputationError("no feasible fit")
        s.ts.toSeq
      }))
    consumers.foreach { case (name, minLen, op) =>
      assert(groups(op(input(shortLen = minLen - 1))) == Set("long"), name)
    }
  }

  test("an exception outside the skip set fails the query instead of emptying a group") {
    val failing: Seq[(String, DataFrame => DataFrame, String)] = Seq(
      ("runner: a bug", Series.mapSeries(_, "g", "ds", "y")(s =>
        if (s.vs.length < 3) throw new IllegalStateException("kernel bug") else Some(1)),
        "kernel bug"),
      ("runner: InvalidInput", Series.flatMapSeries(_, "g", "ds", "y")(s =>
        if (s.vs.length < 3) throw new Forecast.InvalidInput("bad params") else Seq(1)),
        "bad params"),
      ("forecastBy: seasonal_period on a non-seasonal model",
        TsForecastOp.forecastBy(_, "g", "ds", "y", "Naive", 7, "1d", seasonal),
        "does not use seasonal_period"),
      ("forecastInspectBy: a model without fit state",
        TsForecastOp.forecastInspectBy(_, "g", "ds", "y", "SES"), "Inspectable"),
      ("mstlDecompositionBy: insufficient_data = fail",
        TsDecompositionOp.mstlDecompositionBy(_, "g", "ds", "y", Seq(7), "fail"),
        "series too short"))
    val df = input()
    failing.foreach { case (name, op, msg) =>
      val e = intercept[Exception](op(df).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(chain.contains(msg), s"$name: $chain")
    }
  }

  test("DATE, TIMESTAMP and INTEGER ds columns round-trip through a fan-out op") {
    Seq("date" -> DateType, "timestamp" -> TimestampType, "integer" -> IntegerType).foreach {
      case (name, dt) =>
        val df = input(name).filter(col("g") === "long")
        val out = TsChangepointOp.detectChangepointsBy(df, "g", "ds", "y")
        assert(out.schema("ds").dataType == dt, name)
        val in = df.select("g", "ds").collect().toSet
        assert(in.size == 60 && out.select("g", "ds").collect().toSet == in, name)
    }
  }
}
