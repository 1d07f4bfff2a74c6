package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer, recorded from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long, endNs: Long,
                      failed: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Stage metrics of the Spark jobs a span started, summed over their tasks. */
final class Ledger {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Task durations (ms) and shuffle bytes read, per stage. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageShuffleRead = mutable.Map.empty[Int, Long]

  def add(stage: Int, durationMs: Long, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    stageTaskMs.getOrElseUpdate(stage, mutable.ArrayBuffer.empty) += durationMs
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      val rd = m.shuffleReadMetrics.totalBytesRead
      shuffleReadBytes += rd
      stageShuffleRead(stage) = stageShuffleRead.getOrElse(stage, 0L) + rd
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** max / median task time of the stage that read the most shuffle bytes
    * (the post-exchange stage of a gather), or of the longest stage. */
  def taskSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 0.0
    else {
      val stage = stageTaskMs.keys.maxBy(s =>
        (stageShuffleRead.getOrElse(s, 0L), stageTaskMs(s).sum))
      val ts = stageTaskMs(stage).sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.last / med
    }
  }
}

/** Records spans around the benchmark's calls into the program's layers.
  *
  * Disabled, a span only counts the call (attempted / failed). Enabled, it
  * also records name, start, end, parent and run id, and tags the Spark jobs
  * the call starts with the span id (a job-group / local property), so the
  * listener below credits each task's metrics to the span that caused it.
  * Spans and ledgers stay in memory until the benchmark writes them out. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var enabled = false
  private var stack = List.empty[Int]
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val ledgers = TrieMap.empty[Int, Ledger]
  /** Metrics of tasks whose stage no span tagged. */
  val untagged = new Ledger
  var run = 0
  var calls = 0L
  var failedCalls = 0L

  private val stageSpan = TrieMap.empty[Int, Int]
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val tag = Option(j.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey)))
      tag.foreach(t => j.stageIds.foreach(s => stageSpan(s) = t.toInt))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val l = stageSpan.get(t.stageId).map(id => ledgers.getOrElseUpdate(id, new Ledger))
        .getOrElse(untagged)
      l.add(t.stageId, t.taskInfo.duration, t.taskMetrics)
    }
  }

  def enable(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  def disable(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    enabled = false
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Run `body` as one call into layer `name`. */
  def span[T](name: String)(body: => T): T = {
    calls += 1
    if (!enabled) {
      try body catch { case e: Throwable => failedCalls += 1; throw e }
    } else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      tag(Some(id), name)
      val t0 = System.nanoTime()
      var failed = true
      try { val r = body; failed = false; r }
      catch { case e: Throwable => failedCalls += 1; throw e }
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        tag(stack.headOption, name)
        spans += Span(id, name, parent, run, t0, t1, failed)
      }
    }
  }

  private def tag(id: Option[Int], name: String): Unit = id match {
    case Some(i) =>
      sc.setJobGroup(s"perfbench-$i", name)
      sc.setLocalProperty(Tracer.TagKey, i.toString)
    case None =>
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.TagKey, null)
  }

  /** The summed ledgers of the spans `ids`, once every event is in. */
  def ledgerOf(ids: Iterable[Int]): Ledger = {
    drain()
    val out = new Ledger
    ids.foreach(id => ledgers.get(id).foreach { l =>
      out.tasks += l.tasks; out.runMs += l.runMs; out.cpuNs += l.cpuNs; out.gcMs += l.gcMs
      out.spillBytes += l.spillBytes; out.shuffleWriteBytes += l.shuffleWriteBytes
      out.shuffleWriteRecords += l.shuffleWriteRecords
      out.shuffleReadBytes += l.shuffleReadBytes; out.inputBytes += l.inputBytes
      out.outputBytes += l.outputBytes
      l.stageTaskMs.foreach { case (s, ts) =>
        out.stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
      l.stageShuffleRead.foreach { case (s, b) =>
        out.stageShuffleRead(s) = out.stageShuffleRead.getOrElse(s, 0L) + b }
    })
    out
  }

  /** Ids of `root` and all spans below it. */
  def subtree(root: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root)
  }

  /** Span duration minus the union of its direct children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Last span recorded under `name`, if any. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)
}

object Tracer {
  val TagKey = "perfbench.span"
}
