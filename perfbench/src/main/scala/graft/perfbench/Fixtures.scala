package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes. `full` is the measured size; `tiny` is for the self-test. */
final case class Size(m4Series: Int, m4Len: Int, users: Int, userReplicas: Int, days: Int,
                      docs: Int, docReplicas: Int, queries: Int)

object Size {
  val full = Size(m4Series = 96, m4Len = 2000, users = 1500, userReplicas = 1, days = 60,
    docs = 5000, docReplicas = 2, queries = 20)
  val tiny = Size(m4Series = 8, m4Len = 200, users = 60, userReplicas = 2, days = 60,
    docs = 200, docReplicas = 2, queries = 5)
  def apply(name: String): Size = name match {
    case "full" => full
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown size '$other' (full|tiny)")
  }
}

/** Seeded input generators. Every value derives from (seed, stream, index),
  * so the same seed gives the same inputs whichever executor makes them. */
object Fixtures {
  val Horizon = 14
  val M4Period = 7
  /** Days since 1970-01-01 of 2024-01-01, the first events day. */
  val EventsEpoch = 19723

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream).nextLong() ^ i * 0xBF58476D1CE4E5B9L)

  // ------------------------------------------------------------ m4_long

  /** One M4-Daily-shaped series of `len + Horizon` values: level, trend,
    * weekly seasonality, a random walk and noise. */
  def m4Series(seed: Long, i: Long, len: Int): Array[Double] = {
    val r = rng(seed, 1, i)
    val level = 200.0 + 800.0 * r.nextDouble()
    val trend = level * (r.nextDouble() - 0.5) * 4e-4
    val amp = level * (0.04 + 0.04 * r.nextDouble())
    val season = Array.fill(M4Period)(amp * gauss(r))
    val walk = level * (0.003 + 0.003 * r.nextDouble())
    val noise = level * (0.01 + 0.01 * r.nextDouble())
    var rw = 0.0
    Array.tabulate(len + Horizon) { t =>
      rw += walk * gauss(r)
      level + trend * t + season(t % M4Period) + rw + noise * gauss(r)
    }
  }

  /** Training part of every series as (id, ds DATE, y). */
  def m4Train(spark: SparkSession, seed: Long, size: Size, cores: Int): DataFrame = {
    import spark.implicits._
    val len = size.m4Len
    spark.range(0, size.m4Series, 1, cores).as[Long]
      .flatMap(i => m4Series(seed, i, len).iterator.take(len).zipWithIndex
        .map { case (y, t) => (i, t, y) })
      .toDF("id", "t", "y")
      .select(col("id"), date_add(lit(java.sql.Date.valueOf("2015-01-01")), col("t")).as("ds"), col("y"))
  }

  // ------------------------------------------------------------ users_pipeline

  val EventTypes = Array("view", "click", "purchase", "signup", "error")

  /** One base user's events: (day, micros within the day, type, value, k).
    * The first and last active days always carry an event, so the daily
    * series spans exactly [first, last]. Values are multiples of 1/4, so
    * daily sums are exact in any order. */
  def userEvents(seed: Long, u: Long, days: Int): Seq[(Int, Long, String, Double, Int)] = {
    val r = rng(seed, 2, u)
    val lambda = 0.4 + 3.0 * r.nextDouble()
    val first = r.nextInt(5)
    val last = days - 1 - r.nextInt(5)
    (first to last).flatMap { d =>
      val n = math.max(poisson(r, lambda), if (d == first || d == last) 1 else 0)
      Seq.fill(n)((d, r.nextLong(86400000000L), EventTypes(r.nextInt(EventTypes.length)),
        r.nextInt(2000) / 4.0, r.nextInt(100)))
    }
  }

  /** Id offset of replica `rep`: a seeded jitter above a 1e8 stride. */
  def replicaOffset(seed: Long, rep: Int): Long =
    rep * 100000000L + 10000L * rng(seed, 3, rep).nextInt(1000)

  /** The sf0.1 `events` shape: base users replicated `userReplicas` times
    * under seeded id offsets. */
  def events(spark: SparkSession, seed: Long, size: Size, cores: Int): DataFrame = {
    import spark.implicits._
    val days = size.days
    val nUsers = size.users.toLong
    val offsets = (0 until size.userReplicas).map(replicaOffset(seed, _))
    spark.range(0, nUsers, 1, cores).as[Long]
      .flatMap { u =>
        val evs = userEvents(seed, u, days)
        offsets.iterator.zipWithIndex.flatMap { case (off, rep) =>
          evs.iterator.zipWithIndex.map { case ((d, us, tpe, v, k), j) =>
            (((rep * nUsers + u) << 16) + j, (EventsEpoch + d) * 86400000000L + us, u + off,
              tpe, v, s"""{"k": $k}""")
          }
        }
      }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  // ------------------------------------------------------------ curate_docs

  /** A seeded Zipf vocabulary of short pseudo-words. */
  final class Vocab(seed: Long, n: Int) {
    private val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa",
      "en", "or", "il", "um", "ba", "fe", "go", "hu", "ji", "wo")
    val words: Array[String] = {
      val r = rng(seed, 4, -1)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < n)
        seen += Seq.fill(1 + r.nextInt(4))(syll(r.nextInt(syll.length))).mkString
      seen.toArray
    }
    private val cum: Array[Double] = words.indices.map(k => 1.0 / (k + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def draw(r: SplittableRandom): String = {
      val x = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
    }
  }

  /** Base documents: 20..100 Zipf words each; one in twenty is a near copy
    * (one or two words replaced) of an earlier document. */
  def baseDocs(seed: Long, n: Int): Array[Array[String]] = {
    val vocab = new Vocab(seed, 2000)
    val out = new Array[Array[String]](n)
    var d = 0
    while (d < n) {
      val r = rng(seed, 5, d)
      out(d) =
        if (d > 0 && r.nextInt(20) == 0) {
          val w = out(r.nextInt(d)).clone()
          (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = vocab.draw(r))
          w
        } else Array.fill(20 + r.nextInt(81))(vocab.draw(r))
      d += 1
    }
    out
  }

  val Langs = Array("en", "zh", "de", "fr", "es")

  /** The sf0.1 `documents` shape: base documents replicated `docReplicas`
    * times, each replica's text ending in a seeded per-replica suffix word. */
  def documents(spark: SparkSession, seed: Long, size: Size, base: Array[Array[String]]): DataFrame = {
    import spark.implicits._
    val rows = for {
      rep <- 0 until size.docReplicas
      suffix = "r" + rng(seed, 6, rep).nextInt(1000000)
      d <- base.indices
    } yield {
      val text = base(d).mkString(" ") + " " + suffix
      (rep * 100000000L + d, text, Langs(d % Langs.length), s"src${d % 7}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Query texts: four words drawn from a seeded base document. */
  def queries(seed: Long, size: Size, base: Array[Array[String]]): Seq[(Long, String)] =
    (0 until size.queries).map { q =>
      val r = rng(seed, 7, q)
      val doc = base(r.nextInt(base.length))
      (q.toLong, Seq.fill(4)(doc(r.nextInt(doc.length))).mkString(" "))
    }

  // ------------------------------------------------------------ helpers

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; deterministic, unlike java.util.Random's cached pair
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def poisson(r: SplittableRandom, lambda: Double): Int = {
    val l = math.exp(-lambda)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }
}
