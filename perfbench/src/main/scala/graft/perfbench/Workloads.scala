package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.kernels.{Forecast, Metrics}
import graft.llm.{RetrievalOps, TextOps}
import graft.ops.{Series, TsCvOp, TsForecastOp, TsPrep, TsStatsOp}

final class Ctx(val spark: SparkSession, val dir: String, val seed: Long, val size: Size,
                val cores: Int, val tracer: Tracer)

/** What a run produced, in the form its checks compare: exact counts and
  * digests, and values compared to a relative 1e-9. `detail` carries what
  * the workload's reference check needs. */
final case class RunOut(counts: Map[String, Long], values: Map[String, Double], digest: String,
                        detail: AnyRef = null)

abstract class Workload {
  def name: String
  /** What `units_per_s` counts. */
  def unit: String
  def units(size: Size): Long
  /** Writes the seeded inputs under `ctx.dir`. */
  def prepare(ctx: Ctx): Unit
  /** One full run: the unit the timed loop repeats. */
  def run(ctx: Ctx): RunOut
  /** Failures of `out` against an independent reference computation. */
  def reference(ctx: Ctx, out: RunOut): Seq[String]
  /** Standalone, traced calls into each layer: per-layer metrics and the
    * failures of any output checks made on the way. */
  def layers(ctx: Ctx): (Map[String, Double], Seq[String])

  protected def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Single-thread driver loop of `model` over `series`: ms per series. */
  protected def kernelLoop(series: Seq[(Array[Double], Array[Boolean])], model: String,
                           horizon: Int): Array[Double] = {
    val opts = Forecast.optionsFromParams(model, horizon, Map("seasonal_period" -> "7"))
    series.map { case (v, ok) =>
      val t0 = System.nanoTime()
      try Forecast.forecast(v, ok, opts)
      catch { case _: Forecast.InsufficientData | _: Forecast.ComputationError => () }
      (System.nanoTime() - t0) / 1e6
    }.toArray
  }

  /** Gathered (values, valid) arrays of every series, as the ops see them. */
  protected def gatheredArrays(df: DataFrame, g: String): Seq[(Array[Double], Array[Boolean])] =
    Series.gather(df, g, "ds", "y").select("_vs", "_nu").collect().toSeq.map { r =>
      (r.getSeq[Double](0).toArray, r.getSeq[Boolean](1).map(!_).toArray)
    }

  protected def span[T](ctx: Ctx, name: String)(body: => T): T = ctx.tracer.span(name)(body)
}

object Workload {
  val all: Seq[Workload] = Seq(M4Long, UsersPipeline)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (${all.map(_.name).mkString("|")})"))

  /** Reference per-series rates (ms/series) from BASELINE.md: M4 Daily,
    * 4,227 series, h=14, wall seconds / series on the reference's machine. */
  val RefMsPerSeries = Map("AutoETS" -> 63.6, "HoltWinters" -> 14.4, "OptimizedTheta" -> 81.1)

  def kernelMetrics(prefix: String, ms: Array[Double], ref: Option[Double]): Map[String, Double] = {
    val xs = ms.toSeq
    val p50 = Stats.median(xs)
    Map(s"$prefix.ms_per_series_1t_p50" -> p50,
      s"$prefix.ms_per_series_1t_p99" -> Stats.quantile(xs, 0.99)) ++
      ref.map(r => s"$prefix.ratio_vs_ref" -> xs.sum / xs.length / r)
  }
}

/** M4-Daily-shaped long series forecast with AutoETS at h=14; holdout MASE
  * on the last 14 observations. Nearly all CPU is in the kernel. */
object M4Long extends Workload {
  val name = "m4_long"
  val unit = "series"
  val Model = "AutoETS"
  val Params = Map("seasonal_period" -> "7")
  def units(size: Size): Long = size.m4Series

  private var series: Array[Array[Double]] = Array.empty

  def prepare(ctx: Ctx): Unit = {
    series = Array.tabulate(ctx.size.m4Series)(i => Fixtures.m4Series(ctx.seed, i, ctx.size.m4Len))
    Fixtures.m4Train(ctx.spark, ctx.seed, ctx.size, ctx.cores)
      .write.mode("overwrite").parquet(s"${ctx.dir}/m4_train.parquet")
  }

  private def input(ctx: Ctx) = Tables.table(ctx.spark, ctx.dir, "m4_train")

  def run(ctx: Ctx): RunOut = {
    val rows = span(ctx, "ops.TsForecastOp.forecastBy") {
      TsForecastOp.forecastBy(input(ctx), "id", "ds", "y", Model, Fixtures.Horizon, "1d", Params)
        .select("id", "forecast_step", "yhat").collect()
    }
    val fc = rows.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    val mase = span(ctx, "kernels.Metrics.mase") {
      val len = ctx.size.m4Len
      val per = fc.toSeq.map { case (id, pred) =>
        val s = series(id.toInt)
        Metrics.mase(s.slice(len, len + Fixtures.Horizon), pred, s.take(len), 1)
      }
      per.sum / per.length
    }
    RunOut(Map("forecast_rows" -> rows.length.toLong, "series" -> fc.size.toLong),
      Map("mase" -> mase),
      Stats.digest(fc.toSeq.sortBy(_._1).map { case (id, p) => id + ":" + p.mkString(",") }), fc)
  }

  def reference(ctx: Ctx, out: RunOut): Seq[String] = {
    val fc = out.detail.asInstanceOf[Map[Long, Array[Double]]]
    val len = ctx.size.m4Len
    val opts = Forecast.optionsFromParams(Model, Fixtures.Horizon, Params)
    val r = Fixtures.rng(ctx.seed, 9, 0)
    val sample = Seq.fill(math.min(8, series.length))(r.nextInt(series.length)).distinct
    val bad = sample.flatMap { i =>
      val want = Forecast.forecast(series(i).take(len), Array.fill(len)(true), opts).point
      val got = fc.getOrElse(i.toLong, Array.empty[Double])
      if (got.length == want.length && got.zip(want).forall { case (a, b) => Stats.close(a, b, 1e-9) }) None
      else Some(s"series $i: op forecast ${got.take(3).mkString(",")}.. != kernel ${want.take(3).mkString(",")}..")
    }
    val rows = out.counts("forecast_rows")
    val expRows = ctx.size.m4Series.toLong * Fixtures.Horizon
    bad ++ (if (rows == expRows) Nil else Seq(s"forecast rows $rows != $expRows"))
  }

  def layers(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val t = ctx.tracer
    span(ctx, "Tables.table")(noop(input(ctx)))
    val scan = t.last("Tables.table").get
    val train = input(ctx).cache()
    train.count()
    span(ctx, "ops.Series.gather")(noop(Series.gather(train, "id", "ds", "y")))
    val gather = t.last("ops.Series.gather").get
    val arrays = span(ctx, "driver.collect")(gatheredArrays(train, "id"))
    val rates = span(ctx, "kernels.Forecast") {
      Seq(Model, "HoltWinters", "OptimizedTheta").map(m =>
        m -> span(ctx, s"kernels.Forecast.$m")(kernelLoop(arrays, m, Fixtures.Horizon))).toMap
    }
    span(ctx, "ops.TsForecastOp.forecastBy")(noop(
      TsForecastOp.forecastBy(train, "id", "ds", "y", Model, Fixtures.Horizon, "1d", Params)))
    val op = t.last("ops.TsForecastOp.forecastBy").get
    train.unpersist(true)
    val g = t.ledgerOf(Seq(gather.id))
    val kernelS = rates(Model).sum / 1e3
    (Map(
      "Tables.scan_s" -> scan.seconds,
      "Tables.bytes_read" -> t.ledgerOf(Seq(scan.id)).inputBytes.toDouble,
      "ops.Series.gather_s" -> gather.seconds,
      "ops.Series.gather_shuffle_bytes" -> g.shuffleWriteBytes.toDouble,
      "ops.Series.gather_tasks" -> g.tasks.toDouble,
      "ops.Series.gather_task_skew" -> g.taskSkew,
      "ops.TsForecastOp.op_s" -> op.seconds,
      "ops.TsForecastOp.plumbing_s" -> (op.seconds - gather.seconds - kernelS / ctx.cores)) ++
      Workload.kernelMetrics("kernels.Forecast", rates(Model), Workload.RefMsPerSeries.get(Model)) ++
      rates.flatMap { case (m, ms) =>
        Workload.kernelMetrics(s"kernels.Forecast.$m", ms, Workload.RefMsPerSeries.get(m)) }, Nil)
  }
}

/** Many short series: daily aggregation of the events table, gap filling,
  * stats, two forecasts, a backtest and its MASE. The kernels cost
  * microseconds per series, so the time is in scan, exchanges, UDF boxing
  * and fan-out. */
object UsersPipeline extends Workload {
  val name = "users_pipeline"
  val unit = "series"
  val Models = Seq("SeasonalNaive", "Theta")
  val Params = Map("seasonal_period" -> "7")
  val BtHorizon = 7
  val BtFolds = 2
  def units(size: Size): Long = size.users.toLong * size.userReplicas

  def prepare(ctx: Ctx): Unit =
    Fixtures.events(ctx.spark, ctx.seed, ctx.size, ctx.cores)
      .write.mode("overwrite").parquet(s"${ctx.dir}/events.parquet")

  private def daily(ctx: Ctx): DataFrame =
    Tables.table(ctx.spark, ctx.dir, "events")
      .groupBy(col("user_id").as("g"), to_date(col("ts")).as("ds"))
      .agg(sum(col("value")).as("y"))

  private def backtest(filled: DataFrame): DataFrame =
    TsCvOp.backtestAutoBy(filled, "g", "ds", "y", BtHorizon, BtFolds, "1d",
      Params + ("method" -> "SeasonalNaive"))

  /** Mean over (series, fold) of the fold's MAE scaled by the series'
    * in-sample seasonal-naive MAE (period 7) before the first test window. */
  private def mase(filled: DataFrame, bt: DataFrame): Row = {
    val w = Window.partitionBy("g").orderBy("ds")
    val scale = filled
      .withColumn("_d", abs(col("y") - lag(col("y"), 7).over(w)))
      .withColumn("_last", max(col("ds")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("ds") <= date_sub(col("_last"), BtHorizon * BtFolds))
      .groupBy("g").agg(avg("_d").as("_scale"))
    bt.groupBy("g", "fold_id").agg(avg("abs_error").as("_mae"), count(lit(1)).as("_n"))
      .join(scale, Seq("g"), "left")
      .agg(avg(when(col("_scale") > 0, col("_mae") / col("_scale"))).as("mase"),
        sum("_n").as("rows"))
      .head()
  }

  def run(ctx: Ctx): RunOut = {
    val filled = span(ctx, "ops.TsPrep.fillGapsBy") {
      val f = TsPrep.fillGapsBy(daily(ctx), "g", "ds", "y", "1d").persist()
      f.count()
      f
    }
    try {
      val st = span(ctx, "ops.TsStatsOp.statsBy") {
        TsStatsOp.statsBy(filled, "g", "ds", "y", "1d")
          .agg(count(lit(1)), sum(col("length"))).head()
      }
      val fcs = Models.map { m =>
        m -> span(ctx, "ops.TsForecastOp.forecastBy") {
          TsForecastOp.forecastBy(filled, "g", "ds", "y", m, Fixtures.Horizon, "1d", Params)
            .agg(count(lit(1)), sum(col("yhat"))).head()
        }
      }
      val m = span(ctx, "ops.TsCvOp.backtestAutoBy")(mase(filled, backtest(filled)))
      RunOut(
        Map("stats_rows" -> st.getLong(0), "filled_rows" -> st.getLong(1),
          "backtest_rows" -> m.getLong(1)) ++
          fcs.map { case (k, r) => s"forecast_rows_$k" -> r.getLong(0) },
        Map("mase" -> m.getDouble(0)) ++ fcs.map { case (k, r) => s"yhat_sum_$k" -> r.getDouble(1) },
        "")
    } finally filled.unpersist(true)
  }

  /** The whole pipeline recomputed on the driver from the generator, with
    * the kernels called directly: daily sums, gap filling, both forecasts,
    * the two backtest folds and the MASE. Replicas repeat their base user. */
  def reference(ctx: Ctx, out: RunOut): Seq[String] = {
    val reps = ctx.size.userReplicas.toLong
    val fcOpts = Models.map(m => m -> Forecast.optionsFromParams(m, Fixtures.Horizon, Params))
    val btOpts = Forecast.optionsFromParams("SeasonalNaive", BtHorizon, Params)
    var filledRows = 0L
    val yhatSum = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val mases = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until ctx.size.users).foreach { u =>
      val evs = Fixtures.userEvents(ctx.seed, u, ctx.size.days)
      val first = evs.map(_._1).min
      val byDay = evs.groupMapReduce(_._1)(_._4)(_ + _)
      val n = evs.map(_._1).max - first + 1
      val v = Array.tabulate(n)(i => byDay.getOrElse(first + i, Double.NaN))
      val ok = v.map(!_.isNaN)
      filledRows += n
      fcOpts.foreach { case (m, o) => yhatSum(m) += Forecast.forecast(v, ok, o).point.sum }
      val trainEnd0 = n - 1 - BtHorizon * BtFolds
      val diffs = (7 to trainEnd0).filter(i => ok(i) && ok(i - 7)).map(i => math.abs(v(i) - v(i - 7)))
      val scale = if (diffs.isEmpty) Double.NaN else diffs.sum / diffs.length
      (0 until BtFolds).foreach { f =>
        val trainEnd = trainEnd0 + f * BtHorizon
        val p = Forecast.forecast(v.take(trainEnd + 1), ok.take(trainEnd + 1), btOpts).point
        val errs = (0 until BtHorizon).filter(j => ok(trainEnd + 1 + j))
          .map(j => math.abs(v(trainEnd + 1 + j) - p(j)))
        if (errs.nonEmpty && scale > 0) mases += errs.sum / errs.length / scale
      }
    }
    val nSeries = ctx.size.users * reps
    val wantCounts = Map("stats_rows" -> nSeries, "filled_rows" -> filledRows * reps,
      "backtest_rows" -> nSeries * BtHorizon * BtFolds) ++
      Models.map(m => s"forecast_rows_$m" -> nSeries * Fixtures.Horizon)
    val wantValues = Map("mase" -> mases.sum / mases.length) ++
      Models.map(m => s"yhat_sum_$m" -> yhatSum(m) * reps)
    wantCounts.toSeq.sorted.flatMap { case (k, want) =>
      val got = out.counts.getOrElse(k, -1L)
      if (got == want) None else Some(s"$k $got != $want")
    } ++ wantValues.toSeq.sorted.flatMap { case (k, want) =>
      val got = out.values.getOrElse(k, Double.NaN)
      if (Stats.close(got, want, 1e-9)) None else Some(s"$k $got != $want")
    }
  }

  def layers(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val t = ctx.tracer
    span(ctx, "Tables.table")(noop(Tables.table(ctx.spark, ctx.dir, "events")))
    val scan = t.last("Tables.table").get
    val d = daily(ctx).persist()
    d.count()
    val filled = span(ctx, "ops.TsPrep.fillGapsBy") {
      val f = TsPrep.fillGapsBy(d, "g", "ds", "y", "1d").persist()
      f.count()
      f
    }
    span(ctx, "ops.TsStatsOp.statsBy")(noop(TsStatsOp.statsBy(filled, "g", "ds", "y", "1d")))
    span(ctx, "ops.Series.gather")(noop(Series.gather(filled, "g", "ds", "y")))
    val gather = t.last("ops.Series.gather").get
    val arrays = span(ctx, "driver.collect")(gatheredArrays(filled, "g"))
    val rates = span(ctx, "kernels.Forecast") {
      Models.map(m => span(ctx, s"kernels.Forecast.$m")(kernelLoop(arrays, m, Fixtures.Horizon)))
    }
    span(ctx, "ops.TsForecastOp") {
      Models.foreach(m => span(ctx, "ops.TsForecastOp.forecastBy")(noop(
        TsForecastOp.forecastBy(filled, "g", "ds", "y", m, Fixtures.Horizon, "1d", Params))))
    }
    val opS = t.last("ops.TsForecastOp").get.seconds
    span(ctx, "ops.TsCvOp.backtestAutoBy")(noop(backtest(filled)))
    val bt = t.last("ops.TsCvOp.backtestAutoBy").get
    filled.unpersist(true)
    d.unpersist(true)
    val (text, textFails) = TextLayers.measure(ctx)
    val g = t.ledgerOf(Seq(gather.id))
    val perSeries = rates.map(_.toSeq).transpose.map(_.sum).toArray
    val kernelS = perSeries.sum / 1e3
    (Map(
      "Tables.scan_s" -> scan.seconds,
      "Tables.bytes_read" -> t.ledgerOf(Seq(scan.id)).inputBytes.toDouble,
      "ops.TsPrep.fill_gaps_s" -> t.last("ops.TsPrep.fillGapsBy").get.seconds,
      "ops.TsStatsOp.stats_s" -> t.last("ops.TsStatsOp.statsBy").get.seconds,
      "ops.Series.gather_s" -> gather.seconds,
      "ops.Series.gather_shuffle_bytes" -> g.shuffleWriteBytes.toDouble,
      "ops.Series.gather_tasks" -> g.tasks.toDouble,
      "ops.Series.gather_task_skew" -> g.taskSkew,
      "ops.TsForecastOp.op_s" -> opS,
      "ops.TsForecastOp.plumbing_s" -> (opS - Models.length * gather.seconds - kernelS / ctx.cores),
      "ops.TsCvOp.backtest_s" -> bt.seconds,
      "ops.TsCvOp.shuffle_bytes" -> t.ledgerOf(Seq(bt.id)).shuffleWriteBytes.toDouble) ++
      Workload.kernelMetrics("kernels.Forecast", perSeries, None) ++ text, textFails)
  }
}

/** The text-curation layers: MinHash-LSH near-duplicate pairs over a
  * seeded copy of the `documents` table, a BM25 index written to disk and a
  * 20-query batch read back. Measured only in the traced layer pass (see
  * BENCHMARK.md for why they carry no end-to-end workload of their own). */
object TextLayers {
  val TopK = 10
  val TermBuckets = 16

  private def docs(ctx: Ctx) = Tables.table(ctx.spark, ctx.dir, "documents")
  private def indexDir(ctx: Ctx) = new File(ctx.dir, "bm25_index")

  private def topLines(rows: Array[Row]): Seq[String] =
    rows.map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3)).mkString(",")).toSeq.sorted

  /** Per-layer metrics, plus the failures of the outputs' checks: the pair
    * set must equal the LSH executable specification's and the index's
    * top-k the in-memory BM25 scorer's (same ranking contract). */
  def measure(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val t = ctx.tracer
    val base = Fixtures.baseDocs(ctx.seed, ctx.size.docs)
    import ctx.spark.implicits._
    val queries = Fixtures.queries(ctx.seed, ctx.size, base).toDF("qid", "text")
    t.span("fixtures.documents") {
      Fixtures.documents(ctx.spark, ctx.seed, ctx.size, base)
        .write.mode("overwrite").parquet(s"${ctx.dir}/documents.parquet")
    }

    val pairs = t.span("llm.TextOps.minHashLshPairs") {
      TextOps.minHashLshPairs(docs(ctx), "doc_id", "text").collect()
        .map(r => s"${r.getLong(0)},${r.getLong(1)}").toSeq.sorted
    }
    val mh = t.last("llm.TextOps.minHashLshPairs").get
    val idx = indexDir(ctx)
    deleteTree(idx)
    t.span("llm.RetrievalOps.bm25BuildIndex") {
      RetrievalOps.bm25BuildIndex(docs(ctx), "doc_id", "text", idx.getPath, TermBuckets)
    }
    val build = t.last("llm.RetrievalOps.bm25BuildIndex").get
    val top = t.span("llm.RetrievalOps.bm25QueryIndex") {
      topLines(RetrievalOps.bm25QueryIndex(ctx.spark, idx.getPath, queries, "qid", "text", TopK).collect())
    }
    val query = t.last("llm.RetrievalOps.bm25QueryIndex").get
    val metrics = Map(
      "llm.TextOps.minhash_s" -> mh.seconds,
      "llm.TextOps.shuffle_records_per_pair" ->
        t.ledgerOf(t.subtree(mh.id)).shuffleWriteRecords.toDouble / math.max(pairs.size, 1),
      "llm.RetrievalOps.index_build_s" -> build.seconds,
      "llm.RetrievalOps.index_bytes_written" -> treeBytes(idx).toDouble,
      "llm.RetrievalOps.query_ms_per_query" -> query.seconds * 1e3 / ctx.size.queries,
      "llm.RetrievalOps.index_bytes_read" -> t.ledgerOf(t.subtree(query.id)).inputBytes.toDouble)

    val (wantPairs, wantTop) = t.span("check.reference") {
      (TextOps.minHashLshPairsJoin(docs(ctx), "doc_id", "text").collect()
        .map(r => s"${r.getLong(0)},${r.getLong(1)}").toSeq.sorted,
        topLines(RetrievalOps.bm25TopK(docs(ctx), "doc_id", "text", queries,
          "qid", "text", TopK).collect()))
    }
    val replicaPairs = pairs.count { l =>
      val Array(a, b) = l.split(',').map(_.toLong)
      a % 100000000L == b % 100000000L
    }
    val r = ctx.size.docReplicas.toLong
    val recall = replicaPairs.toDouble / (ctx.size.docs * r * (r - 1) / 2)
    val fails =
      (if (pairs == wantPairs) Nil else Seq(s"pairs: ${pairs.size} found, spec has ${wantPairs.size}")) ++
        (if (top == wantTop) Nil else Seq("bm25 index top-k differs from bm25TopK")) ++
        (if (top.size == ctx.size.queries * TopK) Nil else Seq(s"top-k rows ${top.size}")) ++
        (if (recall >= 0.99) Nil else Seq(f"replica pairs found $recall%.4f < 0.99"))
    deleteTree(idx)
    (metrics, fails)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
