package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Direct edge-case specs for the native ANN kernels (TopKByScore,
  * ChunkTopK, SortedArrayContains). IvfSpec/CurationOpsSpec pin end-to-end
  * equivalence with brute force; these pin the selection semantics the
  * oracles depend on — (sim desc, vid asc) ties, null/NaN skipping, k
  * boundaries, cross-partition merge — at the expression level, so a
  * regression fails with a readable diff instead of a hash mismatch. */
class NativeTopKSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("graft-native-topk")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def B = org.apache.spark.sql.GraftExpressionBridge

  test("TopKByScore: ties break by vid ascending, exactly k survive, merge-safe") {
    val sp = spark
    import sp.implicits._
    // 40 rows over 8 partitions: sims with deliberate ties; one group
    val rows = (0L until 40L).map(i => (1, i, (i % 5).toDouble))
    val df = rows.toDF("g", "vid", "sim").repartition(8)
    val topkCol = B.column(graft.functions.TopKByScore(
      B.expression(col("vid")), B.expression(col("sim")), 7).toAggregateExpression())
    val out = df.groupBy(col("g")).agg(topkCol.as("_top"))
      .select(explode(col("_top")).as("_t"))
      .select(col("_t.vid"), col("_t.sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // expected: all sims==4.0 first (vids 4,9,14,19,24,29,34,39 — take 7 by
    // vid asc within the tie)
    val expected = Seq(4L, 9L, 14L, 19L, 24L, 29L, 34L).map(v => (v, 4.0))
    assert(out == expected, s"got $out")
  }

  test("TopKByScore: null inputs are skipped, under-full groups return all") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1, Some(10L), Some(0.5)), (1, None, Some(0.9)), (1, Some(11L), None),
      (1, Some(12L), Some(0.7))).toDF("g", "vid", "sim")
    val topkCol = B.column(graft.functions.TopKByScore(
      B.expression(col("vid")), B.expression(col("sim")), 5).toAggregateExpression())
    val out = df.groupBy(col("g")).agg(topkCol.as("_top"))
      .select(explode(col("_top")).as("_t")).select(col("_t.vid"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(12L, 10L), s"null vid/sim rows must be skipped, got $out")
  }

  test("ChunkTopK: scores a packed chunk like per-pair cosine, skips self/NaN/null") {
    val sp = spark
    import sp.implicits._
    val q = Seq((7L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val packed = Seq((
      Seq(1L, 2L, 3L, 7L, 4L),
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0))
    )).toDF("ids", "vecs")
      .withColumn("norms", transform(col("vecs"), v =>
        sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))))
    val df = q.crossJoin(packed)
      .withColumn("flat", flatten(col("vecs")))
      .withColumn("lens", transform(col("vecs"), v => size(v)))
    def chunk(excludeSelf: Boolean) = B.column(graft.functions.ChunkTopK(
      B.expression(col("qid")), B.expression(col("qv")), B.expression(col("ids")),
      B.expression(col("norms")), B.expression(col("flat")), B.expression(col("lens")),
      3, excludeSelf))
    val withSelf = df.select(explode(chunk(excludeSelf = false)).as("_t"))
      .select(col("_t.vid"), round(col("_t.sim"), 9).as("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // vid 3 is zero-norm → NaN → skipped; top-3 of {1:1.0, 7:1.0, 4:0.707, 2:0.0}
    assert(withSelf == Seq((1L, 1.0), (7L, 1.0), (4L, 0.707106781)), s"got $withSelf")
    val noSelf = df.select(explode(chunk(excludeSelf = true)).as("_t"))
      .select(col("_t.vid")).collect().map(_.getLong(0)).toSeq
    assert(noSelf == Seq(1L, 4L, 2L), s"self (qid=7) must be excluded, got $noSelf")
  }

  test("ChunkTopK: a ragged (wrong-dim) vector is skipped and later candidates stay aligned") {
    val sp = spark
    import sp.implicits._
    val q = Seq((7L, Seq(1.0, 0.0))).toDF("qid", "qv")
    // candidate 2 has dim 3 (≠ query dim 2): must be skipped, and candidate
    // 4's components must still be read from ITS OWN flat offset
    val packed = Seq((
      Seq(1L, 2L, 4L),
      Seq(Seq(1.0, 0.0), Seq(9.0, 9.0, 9.0), Seq(1.0, 1.0))
    )).toDF("ids", "vecs")
      .withColumn("norms", transform(col("vecs"), v =>
        sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))))
    val df = q.crossJoin(packed)
      .withColumn("flat", flatten(col("vecs")))
      .withColumn("lens", transform(col("vecs"), v => size(v)))
    val chunk = B.column(graft.functions.ChunkTopK(
      B.expression(col("qid")), B.expression(col("qv")), B.expression(col("ids")),
      B.expression(col("norms")), B.expression(col("flat")), B.expression(col("lens")),
      3, false))
    val out = df.select(explode(chunk).as("_t"))
      .select(col("_t.vid"), round(col("_t.sim"), 9).as("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == Seq((1L, 1.0), (4L, 0.707106781)), s"got $out")
  }

  test("SortedArrayContains: binary search agrees with array_contains") {
    val sp = spark
    import sp.implicits._
    val vals = Seq(-100L, -3L, 0L, 7L, 7L, 42L, 9999L)
    val probes = (-101L to 10000L by 37L) ++ vals
    val df = probes.toDF("x")
      .withColumn("arr", lit(vals.sorted.toArray))
    val sc = B.column(graft.functions.SortedArrayContains(
      B.expression(col("arr")), B.expression(col("x"))))
    val mismatches = df
      .withColumn("bin", sc)
      .withColumn("lin", array_contains(col("arr"), col("x")))
      .filter(col("bin") =!= col("lin"))
      .count()
    assert(mismatches == 0)
  }

  test("SortedArrayAnyInRange: a nullable array fails analysis, the collect_set form type-checks") {
    val sp = spark
    import sp.implicits._
    def anyInRange(arr: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      B.column(graft.functions.SortedArrayAnyInRange(B.expression(arr),
        B.expression(lit(lo)), B.expression(lit(hi))))
    // the span-dedup caller's shape: sort_array(collect_set(non-null long))
    val starts = Seq((1L, 3L), (1L, 10L), (2L, 5L)).toDF("id", "p")
      .groupBy("id").agg(sort_array(collect_set(col("p"))).as("cov"))
    val hits = starts.select(col("id"), anyInRange(col("cov"), 4L, 9L).as("hit"))
      .as[(Long, Boolean)].collect().toMap
    assert(hits == Map(1L -> false, 2L -> true))
    // a possibly-null element would be read as garbage by getLong
    val nullable = Seq(1L).toDF("id")
      .select(array(lit(3L), lit(null).cast("bigint")).as("cov"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      nullable.select(anyInRange(col("cov"), 0L, 5L)))
    assert(e.getMessage.contains("sorted_array_any_in_range"), e.getMessage)
  }
}
