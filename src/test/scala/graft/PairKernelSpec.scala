package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.PairKernel
import graft.functions.VectorKernels.cosineFast
import graft.operators.Similarity

/** The exact pair kernel against the BroadcastNestedLoopJoin formulation
  * it replaced, kept here as the reference: ids and cosines must agree
  * bit for bit, duplicates and all, on dense float embeddings, sparse
  * TF-IDF rows, degenerate rows and a pair that rounds onto the
  * threshold. */
class PairKernelSpec extends SparkSpec {

  /** The old tier over (id, v): a self nested-loop join whose condition
    * is the id test and then `keep(cos)`, with `out(cos)` selected. */
  private def nestedLoop(df: DataFrame, keep: Column => Column, out: Column => Column): DataFrame = {
    val a = df.select(col("id").as("id1"), col("v").as("v1"))
    val b = df.select(col("id").as("id2"), col("v").as("v2"))
    val cos = cosineFast(col("v1"), col("v2"))
    a.join(b, col("id1") < col("id2") && keep(cos))
      .select(col("id1"), col("id2"), out(cos).as("sim"))
  }

  /** (id1, id2, bits of the third column), sorted: a bit-exact multiset
    * (-0.0 differs from 0.0; all NaNs are one value). */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted

  /** Kernel vs nested loop on `df`: raw cosines of every scored pair, the
    * stage-4 frame (`round(cos, 4) >= t`) and q31's (`cos >= t`) at each
    * threshold. Returns the stage-4 rows at each threshold. */
  private def assertSame(what: String, df: DataFrame, thresholds: Seq[Double]): Seq[Seq[(Long, Long, Long)]] = {
    val packed = PairKernel.pack(df, "id", "v")
    try {
      val raw = rows(PairKernel.pairs(df, "id", "v", packed, Double.NegativeInfinity))
      assert(raw == rows(nestedLoop(df, _ >= Double.NegativeInfinity, identity)),
        s"$what: raw cosines differ")
      thresholds.map { t =>
        val stage4 = rows(JobPipeline.exactPairs(
          df.select(col("id").as("doc_id"), col("v").as("embedding")), packed, t))
        assert(stage4 == rows(nestedLoop(df, c => round(c, 4) >= t, round(_, 4))),
          s"$what: stage 4 differs at t=$t")
        val q31 = rows(PairKernel.pairs(df, "id", "v", packed, t)
          .select(col("id1"), col("id2"), round(col("cos"), 4)))
        assert(q31 == rows(nestedLoop(df, _ >= t, round(_, 4))), s"$what: q31 form differs at t=$t")
        stage4
      }
    } finally packed.destroy()
  }

  private def frame(schema: ArrayType, data: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(data: _*),
      StructType(Seq(StructField("id", LongType), StructField("v", schema))))

  test("sfTiny float embeddings: kernel == nested loop at 0.3, 0.35, 0.9 and 1.1") {
    val df = Tables.embeddings(spark, sfTiny).select(col("vec_id").as("id"), col("embedding").as("v"))
    val byT = assertSame("sfTiny", df, Seq(0.3, 0.35, 0.9, 1.1))
    assert(byT.head.nonEmpty && byT.last.isEmpty)
    // the registered q31 frame itself, against the old formulation
    Seq(0.3, 0.35, 0.9).foreach { t =>
      assert(rows(Similarity.nearDupPairs(spark, sfTiny, t)) ==
        rows(nestedLoop(df, _ >= t, round(_, 4))), s"q31 differs at t=$t")
    }
    assert(Similarity.nearDupPairs(spark, sfTiny, 1.1).count() == 0)
  }

  test("sparse TF-IDF vectors from a pipeline's s3_index: kernel == nested loop") {
    val work = Files.createTempDirectory("graft_pair_kernel").toString
    JobPipeline.run(spark, sfTiny, work, threshold = 0.9)
    val df = spark.read.parquet(s"$work/s3_index").select(col("doc_id").as("id"), col("embedding").as("v"))
    val v = df.head().getSeq[Double](1)
    assert(v.count(_ != 0.0) * 2 <= v.length, "s3_index rows are expected to be sparse")
    val byT = assertSame("s3_index", df, Seq(0.5, 0.9, 1.1))
    assert(byT.head.nonEmpty && byT.last.isEmpty)
  }

  test("edge rows: zero, null and non-finite elements, null array, unequal lengths, duplicate and null ids") {
    val df = frame(ArrayType(FloatType, containsNull = true), Seq(
      Row(1L, Seq(0f, 0f, 0f)),
      Row(2L, Seq(1f, null, 2f)),
      Row(3L, null),
      Row(4L, Seq(1f, 2f)),
      Row(5L, Seq(1f, 2f, 3f, 4f)),
      Row(6L, Seq(1f, 1f, 2f)),
      Row(6L, Seq(2f, 0f, 1f)),
      Row(7L, Seq(0f, 0f, 5f, 0f, 0f, 0f, 0f, 0f)),
      Row(8L, Seq(-0f, 3f, 0f, 0f, 0f, 0f, 0f, 1f)),
      // non-finite elements: 0 · inf is NaN, so these never take the sparse path
      Row(9L, Seq(Float.PositiveInfinity, 0f, 1f)),
      Row(10L, Seq(0f, Float.NaN, 0f, 0f, 0f, 0f, 0f, 0f)),
      Row(null, Seq(1f, 2f, 3f))))
    val byT = assertSame("edge rows", df, Seq(0.0, 0.5, 0.9, 1.1))
    // the zero vector scores 0.0 against everything, so it passes t = 0
    assert(byT.head.exists(_._1 == 1L) && byT.head.count(r => r._1 == 6L && r._2 == 7L) == 2)
    // Spark orders NaN above every double, so only NaN cosines pass t = 1.1
    val nan = java.lang.Double.doubleToLongBits(Double.NaN)
    assert(byT.last.nonEmpty && byT.last.forall(_._3 == nan), byT.last)
  }

  test("a pair whose cosine rounds onto the threshold is kept by stage 4 and dropped by q31") {
    // y_c = (c, sqrt(1 - c²)) against x = (1, 0): cos(x, y_c) is c up to
    // the last bit, straddling the 0.89995 rounding boundary of t = 0.9
    val cs = Seq(0.89994, 0.899949999, 0.89995, 0.89996, 0.9, 0.90005)
    val df = frame(ArrayType(DoubleType, containsNull = false),
      Row(0L, Seq(1.0, 0.0)) +: cs.zipWithIndex.map { case (c, i) =>
        Row(i + 1L, Seq(c, math.sqrt(1 - c * c)))
      })
    val Seq(stage4) = assertSame("boundary", df, Seq(0.9))
    val kept = stage4.filter(_._1 == 0L).map(_._2).toSet
    assert(kept.contains(4L) && !kept.contains(1L), s"stage 4 kept $kept")
    val q31 = rows(PairKernel.pairs(df, "id", "v", PairKernel.pack(df, "id", "v"), 0.9)
      .select(col("id1"), col("id2"), col("cos")))
    assert(!q31.filter(_._1 == 0L).map(_._2).contains(4L), "q31 tests the raw cosine")
  }
}
