package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus `--size full|tiny` and `--bench-dir <dir>` (where inputs, the trace
  * and `expected.tsv` live). A closed loop from one client thread on one
  * `local[cores]` session. The last stdout line is the result JSON. */
object Main {
  val FixtureReps = 3
  /** Warm-up runs on `Size.tiny` inputs before the full-size warmup run:
    * they cost little, yet JIT-compile the planning and scheduling paths
    * that dominate a short pipeline. */
  val TinyWarmups = 2

  final case class Sample(wall: Double, cpu: Double, heapMb: Double, load0: Double, load1: Double)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val size = Size(args.getOrElse("size", "full"))
    val benchDir = new File(args("bench-dir"))
    val work = new File(benchDir, s".work/${wl.name}")
    TextLayers.deleteTree(work)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, work.getPath, seed, size, cores, new Tracer(spark))
    val t = ctx.tracer

    try {
      val tinyS = time {
        val tiny = new Ctx(spark, new File(work, "tiny").getPath, seed, Size.tiny, cores, t)
        wl.prepare(tiny)
        (1 to TinyWarmups).foreach(_ => wl.run(tiny))
      }._2
      val fixtureS = (1 to FixtureReps).map(_ => time(wl.prepare(ctx))._2)
      val (warm, warmS) = time(wl.run(ctx))
      val setupS = sessionS + tinyS + Stats.median(fixtureS) + warmS
      var checks = 0L
      var failedChecks = 0L
      val notes = scala.collection.mutable.ArrayBuffer.empty[String]
      def check(fails: Seq[String]): Boolean = {
        checks += 1
        if (fails.nonEmpty) { failedChecks += 1; notes ++= fails.take(5) }
        fails.isEmpty
      }

      val (samples, tracedSamples) = loop(ctx, wl, seconds, warm, check, traced)
      var layerMetrics = Map.empty[String, Double]
      if (traced) {
        t.enable()
        t.run = 0
        val (lm, layerFails) = t.span("layers")(wl.layers(ctx))
        layerMetrics = lm
        check(layerFails)
        t.disable()
      }
      check(wl.reference(ctx, warm))
      check(Expected.compare(new File(benchDir, "expected.tsv"), wl.name, args.getOrElse("size", "full"),
        seed, warm))

      val attempted = t.calls + checks
      val failed = t.failedCalls + failedChecks
      val runS = Stats.median(samples.map(_.wall))
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("run_s", runS, "s"),
        ("units_per_s", if (runS > 0) wl.units(size) / runS else 0.0, s"${wl.unit}/s"),
        ("cpu_s", Stats.median(samples.map(_.cpu)), "s"),
        ("mase", warm.values("mase"), "MASE"))
      val heapMb = Stats.median(samples.map(_.heapMb))
      val nContended = samples.count(s => contended(s, samples, cores))

      println(f"[perfbench] workload=${wl.name} seed=$seed size=${args.getOrElse("size", "full")} " +
        f"cores=$cores units=${wl.units(size)} ${wl.unit} samples=${samples.size} " +
        f"failed_frac=${failed.toDouble / math.max(attempted, 1)}%.4f ($failed/$attempted) " +
        e2e.map { case (k, v, u) => f"$k=$v%.6g $u" }.mkString(" ") + f" heap_peak_mb=$heapMb%.1f MB")
      println(f"[perfbench] run_s p0=${Stats.quantile(samples.map(_.wall), 0)}%.4f " +
        f"p50=$runS%.4f p100=${Stats.quantile(samples.map(_.wall), 1)}%.4f n=${samples.size}; " +
        f"setup: session=$sessionS%.3f tiny_warmup=$tinyS%.3f fixtures=${fixtureS.map(x => f"$x%.3f").mkString("/")} warmup=$warmS%.3f")
      samples.zipWithIndex.foreach { case (s, i) =>
        println(f"[perfbench] run $i wall=${s.wall}%.4f cpu=${s.cpu}%.3f " +
          f"cpu_share_eff=${s.cpu / (s.wall * cores)}%.3f heap=${s.heapMb}%.0fMB " +
          f"loadavg=${s.load0}%.2f->${s.load1}%.2f${if (contended(s, samples, cores)) " CONTENDED" else ""}")
      }
      println(s"[perfbench] outputs ${(warm.counts.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++
        warm.values.toSeq.sorted.map { case (k, v) => s"$k=${v.toString}" } ++
        Seq(s"digest=${warm.digest}")).mkString(" ")}")
      notes.foreach(n => println(s"[perfbench] CHECK FAILED: $n"))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) e2e
        else {
          val perLayer = traceMetrics(ctx, samples, tracedSamples) ++ layerMetrics.toSeq.map {
            case (k, v) => (k, v, unitOf(k)) } ++
            Seq(("jvm.heap_peak_mb", heapMb, "MB"), ("run.contended_runs", nContended.toDouble, "count"),
              ("run.samples", samples.size.toDouble, "count"))
          val byName = perLayer.map(m => m._1 -> m).toMap
          Layers.all.map { case (k, u) => byName.getOrElse(k, (k, 0.0, u)) }
        }
      if (traced) writeTrace(ctx, new File(benchDir, s".work/trace-${wl.name}-$seed.json"))
      val json = metrics.map { case (k, v, u) =>
        s"${Stats.str(k)}: {\"value\": ${Stats.num(v)}, \"unit\": ${Stats.str(u)}}" }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    } finally {
      spark.stop()
      TextLayers.deleteTree(work)
    }
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Repeat full runs for `seconds` (at least three tries). A run that
    * throws or whose outputs differ from the warmup's is counted as failed
    * and not timed. With `traced`, every second run is traced, so traced
    * and untraced runs see the same JIT and cache state; returns the
    * untraced and the traced samples. */
  private def loop(ctx: Ctx, wl: Workload, seconds: Double, warm: RunOut,
                   check: Seq[String] => Boolean, traced: Boolean): (Seq[Sample], Seq[Sample]) = {
    val plain = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val withSpans = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val t = ctx.tracer
    val start = System.nanoTime()
    var tries = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || tries < (if (traced) 4 else 3)) {
      val tr = traced && tries % 2 == 1
      tries += 1
      if (tr) { t.enable(); t.run += 1 }
      heapPools.foreach(_.resetPeakUsage())
      val load0 = os.getSystemLoadAverage
      val cpu0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      val res =
        try Some(if (tr) t.span("run")(wl.run(ctx)) else wl.run(ctx))
        catch { case NonFatal(e) => println(s"[perfbench] run failed: $e"); None }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val heap = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val load1 = os.getSystemLoadAverage
      if (tr) t.disable()
      res.foreach { r =>
        if (check(sameOutputs(warm, r))) (if (tr) withSpans else plain) += Sample(wall, cpu, heap, load0, load1)
      }
    }
    (plain.toSeq, withSpans.toSeq)
  }

  private def sameOutputs(a: RunOut, b: RunOut): Seq[String] =
    (if (a.counts == b.counts) Nil else Seq(s"counts ${b.counts} != warmup ${a.counts}")) ++
      (if (a.digest == b.digest) Nil else Seq(s"digest ${b.digest} != warmup ${a.digest}")) ++
      a.values.toSeq.flatMap { case (k, v) =>
        val w = b.values.getOrElse(k, Double.NaN)
        if (Stats.close(v, w, 1e-9)) None else Some(s"$k $w != warmup $v")
      }

  /** A run is flagged when its wall time is far above its CPU share
    * (process CPU / cores) compared with the process's other runs, or when
    * the 1-min load is above twice the cores (the benchmark's own task and
    * JIT threads alone can load the cores a little past their count). */
  private def contended(s: Sample, all: Seq[Sample], cores: Int): Boolean = {
    val ratio = (x: Sample) => x.wall * cores / math.max(x.cpu, 1e-9)
    math.max(s.load0, s.load1) > 2 * cores || ratio(s) > 1.5 * Stats.median(all.map(ratio))
  }

  /** Tracing overhead and Spark totals per traced run. */
  private def traceMetrics(ctx: Ctx, untraced: Seq[Sample], traced: Seq[Sample]): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val runs = t.spans.filter(s => s.name == "run" && s.run > 0)
    val l = t.ledgerOf(runs.flatMap(r => t.subtree(r.id)))
    val n = math.max(runs.size, 1).toDouble
    val wall = runs.map(_.seconds).sum
    val u = Stats.median(untraced.map(_.wall))
    val tr = Stats.median(traced.map(_.wall))
    Seq(
      ("trace.run_s", tr, "s"),
      ("trace.overhead_s", tr - u, "s"),
      ("spark.executor_cpu_s", l.cpuNs / 1e9 / n, "s"),
      ("spark.parallel_eff", if (wall > 0) l.runMs / 1e3 / (wall * ctx.cores) else 0.0, "ratio"),
      ("spark.gc_s", l.gcMs / 1e3 / n, "s"),
      ("spark.spill_bytes", l.spillBytes / n, "bytes"),
      ("spark.shuffle_write_bytes", l.shuffleWriteBytes / n, "bytes"),
      ("spark.tasks", l.tasks / n, "count"))
  }

  private def unitOf(metric: String): String = Layers.all.toMap.getOrElse(metric, "count")

  /** Spans with their ledgers, plus a per-layer self-time table. */
  private def writeTrace(ctx: Ctx, f: File): Unit = {
    val t = ctx.tracer
    val origin = t.spans.map(_.startNs).minOption.getOrElse(0L)
    val spans = t.spans.sortBy(_.id).map { s =>
      val l = t.ledgers.getOrElse(s.id, new Ledger)
      s"""{"id": ${s.id}, "name": ${Stats.str(s.name)}, "parent": ${s.parent}, "run": ${s.run}, """ +
        f""""start_ms": ${(s.startNs - origin) / 1e6}%.3f, "end_ms": ${(s.endNs - origin) / 1e6}%.3f, """ +
        f""""self_ms": ${t.selfSeconds(s) * 1e3}%.3f, "failed": ${s.failed}, "tasks": ${l.tasks}, """ +
        s""""executor_run_ms": ${l.runMs}, "executor_cpu_ms": ${l.cpuNs / 1000000}, "gc_ms": ${l.gcMs}, """ +
        s""""shuffle_write_bytes": ${l.shuffleWriteBytes}, "shuffle_read_bytes": ${l.shuffleReadBytes}, """ +
        s""""input_bytes": ${l.inputBytes}, "output_bytes": ${l.outputBytes}, "spill_bytes": ${l.spillBytes}}"""
    }
    val table = layerTable(ctx)
    val pw = new PrintWriter(f)
    try pw.println(s"""{"spans": [\n${spans.mkString(",\n")}\n],\n"layers": [\n${table.map {
      case (pass, name, n, total, self) =>
        f"""{"pass": ${Stats.str(pass)}, "name": ${Stats.str(name)}, "calls": $n, "total_s": $total%.4f, "self_s": $self%.4f}"""
    }.mkString(",\n")}\n]}""")
    finally pw.close()
    println(s"[perfbench] trace: ${t.spans.size} spans -> ${f.getPath}; " +
      s"tasks no span tagged: ${t.untagged.tasks}")
    table.foreach { case (pass, name, n, total, self) =>
      println(f"[perfbench] layer $pass%-6s $name%-42s calls=$n%3d total_s=$total%9.4f self_s=$self%9.4f")
    }
  }

  /** Per pass (traced runs, layer pass) and span name: calls, total and
    * self seconds, largest self time first. */
  private def layerTable(ctx: Ctx): Seq[(String, String, Int, Double, Double)] = {
    val t = ctx.tracer
    t.spans.groupBy(s => (if (s.run > 0) "runs" else "layers", s.name)).toSeq.map {
      case ((pass, name), ss) =>
        (pass, name, ss.size, ss.map(_.seconds).sum, ss.map(t.selfSeconds).sum)
    }.sortBy { case (pass, _, _, _, self) => (pass, -self) }
  }
}

/** The per-layer metrics, in the order they print, with their units. */
object Layers {
  private val kernelModels = Seq("AutoETS", "HoltWinters", "OptimizedTheta")
  val all: Seq[(String, String)] = Seq(
    "Tables.scan_s" -> "s", "Tables.bytes_read" -> "bytes",
    "ops.TsPrep.fill_gaps_s" -> "s", "ops.TsStatsOp.stats_s" -> "s",
    "ops.Series.gather_s" -> "s", "ops.Series.gather_shuffle_bytes" -> "bytes",
    "ops.Series.gather_tasks" -> "count", "ops.Series.gather_task_skew" -> "ratio",
    "kernels.Forecast.ms_per_series_1t_p50" -> "ms", "kernels.Forecast.ms_per_series_1t_p99" -> "ms",
    "kernels.Forecast.ratio_vs_ref" -> "ratio") ++
    kernelModels.flatMap(m => Seq(s"kernels.Forecast.$m.ms_per_series_1t_p50" -> "ms",
      s"kernels.Forecast.$m.ms_per_series_1t_p99" -> "ms", s"kernels.Forecast.$m.ratio_vs_ref" -> "ratio")) ++
    Seq(
      "ops.TsForecastOp.op_s" -> "s", "ops.TsForecastOp.plumbing_s" -> "s",
      "ops.TsCvOp.backtest_s" -> "s", "ops.TsCvOp.shuffle_bytes" -> "bytes",
      "llm.TextOps.minhash_s" -> "s", "llm.TextOps.shuffle_records_per_pair" -> "ratio",
      "llm.RetrievalOps.index_build_s" -> "s", "llm.RetrievalOps.index_bytes_written" -> "bytes",
      "llm.RetrievalOps.query_ms_per_query" -> "ms", "llm.RetrievalOps.index_bytes_read" -> "bytes",
      "spark.executor_cpu_s" -> "s", "spark.parallel_eff" -> "ratio", "spark.gc_s" -> "s",
      "spark.spill_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes", "spark.tasks" -> "count",
      "trace.run_s" -> "s", "trace.overhead_s" -> "s",
      "jvm.heap_peak_mb" -> "MB", "run.contended_runs" -> "count", "run.samples" -> "count")
}

/** Output values stored with the benchmark for known seeds
  * (`expected.tsv`: workload, size, seed, key, value). Seeds not listed are
  * checked against the workloads' reference computations only. */
object Expected {
  def compare(f: File, workload: String, size: String, seed: Long, out: RunOut): Seq[String] = {
    if (!f.exists) return Nil
    val src = scala.io.Source.fromFile(f)
    val rows = try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split('\t')).filter(r => r.length == 5 && r(0) == workload && r(1) == size &&
        r(2) == seed.toString).toList
    finally src.close()
    rows.flatMap { case Array(_, _, _, key, want) =>
      val got = out.counts.get(key).map(_.toString)
        .orElse(out.values.get(key).map(_.toString))
        .orElse(if (key == "digest") Some(out.digest) else None)
      val ok = (got, out.values.get(key)) match {
        case (_, Some(v)) => Stats.close(v, want.toDouble, 1e-9)
        case (Some(g), None) => g == want
        case _ => false
      }
      if (ok) None else Some(s"expected $key=$want, got ${got.getOrElse("nothing")}")
    }
  }
}
