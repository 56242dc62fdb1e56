package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.io.Source
import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.JobPipeline
import graft.functions.VectorKernels.cosineFast
import graft.operators.{Ann, Embedding}

/** `pipeline`: the paper's batch job, `JobPipeline.run` at cos >= 0.90,
  * from an empty work dir and an empty model store on every operation,
  * so each operation pays preprocess, the TF-IDF fit, the exact pair
  * join and the sinks as a first run over a new corpus would. */
object PipelineBench extends Workload {
  val Threshold = 0.90
  val Measured = 4
  val Stages = Seq("s1_preprocess", "s2_embed", "s3_index", "s4_pairs")
  val StageMetrics = Seq("plans.s1_preprocess_s", "operators.s2_embed_s",
    "plans.s3_index_s", "functions.s4_pairs_s", "sources.sinks_s")

  /** One pipeline run into its own work dir and model store; returns the work dir. */
  private def pipelineRun(spark: SparkSession, data: String, runDir: String, name: String): String = {
    val work = s"$runDir/work/$name"
    spark.conf.set("spark.graft.index.dir", s"$runDir/store/$name")
    Embedding.clearCaches()
    Ann.clearCaches()
    JobPipeline.run(spark, data, work, Threshold)
    work
  }

  def setUp(spark: SparkSession, data: String, runDir: String, i: Int): Unit =
    pipelineRun(spark, data, runDir, s"setup-$i")

  def run(ctx: Ctx, setupS: Double): Outcome = {
    val spark = ctx.spark
    var failed = 0
    val ops = (1 to Measured).flatMap { i =>
      try {
        val (work, st) = ctx.tel.op(ctx.tel.span("JobPipeline.run") {
          pipelineRun(spark, ctx.data, ctx.runDir, s"op-$i")
        })
        Some((st, work))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] pipeline op $i failed: $e")
          failed += 1
          None
      }
    }
    if (ops.isEmpty) return Outcome(Measured, failed, Seq("every operation failed"), Nil, Nil)

    val truth = Truth.read(s"${ctx.data}/truth.txt")
    val (problems, found) = ctx.tel.span("check") { check(ctx, ops.map(_._2), truth) }
    val docs = spark.read.parquet(s"${ctx.data}/documents.parquet").count()
    val walls = ops.map(_._1.wallS)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("docs_per_s", docs / Telemetry.median(walls), "1/s"),
      ("recall", found.toDouble / truth.pairs.size, "ratio"),
      ("peak_heap_mb", Telemetry.median(ops.map(_._1.peakHeapMb)), "MB"),
      ("disk_mb", Telemetry.median(ops.map(o => Main.dirMb(o._2))), "MB"))
    val perLayer =
      if (!ctx.tel.tracing) Nil
      else {
        val stageS = ops.map { case (st, work) => stageTimes(st, work) }
        StageMetrics.indices.map(i =>
          (StageMetrics(i), Telemetry.median(stageS.map(_(i))), "s")) ++
          Seq(("functions.cosine_ns", ctx.tel.span("cosine_ns") { cosineNs(ctx) }, "ns")) ++
          Telemetry.sparkLayers(ops.map(_._1))
      }
    Outcome(Measured, failed, problems, endToEnd, perLayer)
  }

  /** Stage wall times seen from outside: each stage ends when its _DONE
    * marker is committed; the sinks run from the last marker to the end
    * of the operation. */
  private def stageTimes(st: OpStats, work: String): Seq[Double] = {
    val marks = Stages.map(s =>
      Files.getLastModifiedTime(Paths.get(work, s, "_DONE")).to(TimeUnit.NANOSECONDS))
    val bounds = st.startEpochNs +: marks :+ st.endEpochNs
    bounds.zip(bounds.tail).map { case (a, b) => (b - a) / 1e9 }
  }

  /** ns per pair of the cosine kernel over a fixed 1,000 x 1,000 cross
    * product of 384-d vectors (median of five evaluations). */
  private def cosineNs(ctx: Ctx): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new java.util.Random(7)
    def side(n: Int) = Seq.fill(n)(Array.fill(384)(rnd.nextGaussian()))
    val n = 1000
    val a = side(n).zipWithIndex.map(_.swap).toDF("i", "v1")
      .repartition(Runtime.getRuntime.availableProcessors).cache()
    val b = side(n).zipWithIndex.map(_.swap).toDF("j", "v2").cache()
    a.count(); b.count()
    val q = a.crossJoin(broadcast(b)).agg(sum(cosineFast(col("v1"), col("v2"))))
    q.collect()
    val ns = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0).toDouble / (n.toLong * n)
    }
    a.unpersist(); b.unpersist()
    Telemetry.median(ns)
  }

  /** Independent checks of the last operation's output, plus the recall
    * of the planted near-duplicate pairs. Returns (problems, found). */
  private def check(ctx: Ctx, works: Seq[String], truth: Truth): (Seq[String], Int) = {
    val spark = ctx.spark
    val work = works.last
    val problems = Seq.newBuilder[String]
    val survivors = spark.read.parquet(s"$work/s1_preprocess").count()
    if (survivors != truth.survivors)
      problems += s"stage 1 kept $survivors docs, the corpus has ${truth.survivors} distinct texts"

    val rows = spark.read.parquet(s"$work/s3_index").select("doc_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val dim = graft.GraftConf.embeddingDim(spark)
    rows.find { case (_, v) => v.length != dim || math.abs(v.map(x => x * x).sum - 1.0) > 1e-6 }
      .foreach { case (id, v) => problems += s"doc $id: embedding is not a unit $dim-d vector" }
    if (rows.length != survivors) problems += s"stage 3 holds ${rows.length} of $survivors docs"

    // all pairs, the kernel's formula in plain JVM code, rounded as the
    // pipeline rounds (HALF_UP to 4 decimals) before the threshold test
    val expected = Exact.allPairsAtLeast(rows.map(_._2), Threshold - 1e-3)
      .map { case (i, j, cos) => ((rows(i)._1, rows(j)._1), cos) }
      .filter { case (_, cos) => BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= Threshold }
      .toMap

    val csv = readCsv(s"$work/similarity_results_csv")
    val got = csv.map { case (a, b, s) => ((a, b), s) }
    if (csv.exists { case (a, b, _) => a >= b }) problems += "CSV has a pair with id1 >= id2"
    if (got.map(_._1).distinct.length != got.length) problems += "CSV repeats a pair"
    val ordered = csv.zip(csv.drop(1)).forall { case ((a1, b1, s1), (a2, b2, s2)) =>
      s1 > s2 || (s1 == s2 && (a1 < a2 || (a1 == a2 && b1 < b2)))
    }
    if (!ordered) problems += "CSV is not sorted by (sim desc, id1, id2)"
    val gotMap = got.toMap
    if (gotMap.keySet != expected.keySet)
      problems += s"pair set differs from all-pairs cosine: ${(gotMap.keySet -- expected.keySet).size} " +
        s"extra, ${(expected.keySet -- gotMap.keySet).size} missing"
    gotMap.find { case (k, s) => expected.get(k).exists(c => math.abs(c - s) > 1e-4) }
      .foreach { case (k, s) => problems += s"pair $k: sim $s, recomputed ${expected(k)}" }
    works.init.foreach { w =>
      if (readCsv(s"$w/similarity_results_csv") != csv) problems += s"$w: output differs between operations"
    }
    (problems.result(), truth.pairs.count(gotMap.contains))
  }

  /** The pair CSV's rows, part files in name order, headers dropped. */
  private def readCsv(dir: String): Seq[(Long, Long, Double)] =
    new File(dir).listFiles.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName).toSeq.flatMap { f =>
        Using.resource(Source.fromFile(f))(_.getLines().drop(1).toVector).map { l =>
          val Array(a, b, s) = l.split(",")
          (a.toLong, b.toLong, s.toDouble)
        }
      }
}

/** Ground truth the generator planted: `survivors <n>`, `pair <a> <b>`
  * and `chain <id> ...` lines. */
final case class Truth(survivors: Long, pairs: Seq[(Long, Long)], chains: Seq[Seq[Long]])

object Truth {
  def read(path: String): Truth = {
    val lines = Using.resource(Source.fromFile(path))(_.getLines().map(_.split(" ")).toVector)
    Truth(
      lines.collectFirst { case Array("survivors", n) => n.toLong }.getOrElse(0L),
      lines.collect { case Array("pair", a, b) => (a.toLong, b.toLong) },
      lines.collect { case l if l(0) == "chain" => l.tail.map(_.toLong).toSeq })
  }
}

/** Plain-JVM reference computations the checks compare against. */
object Exact {

  /** cos(a, b) as the program's kernel computes it: double accumulation
    * in index order, dot / sqrt(|a|^2 |b|^2), 0 for a zero vector. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, sa, sb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); sa += a(i) * a(i); sb += b(i) * b(i); i += 1 }
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / math.sqrt(sa * sb)
  }

  /** Every pair i < j with cos >= `min`, rows scored in parallel. */
  def allPairsAtLeast(vs: Array[Array[Double]], min: Double): Seq[(Int, Int, Double)] =
    java.util.stream.IntStream.range(0, vs.length).parallel().boxed()
      .map[Seq[(Int, Int, Double)]] { i =>
        (i + 1 until vs.length).flatMap { j =>
          val c = cosine(vs(i), vs(j))
          if (c >= min) Some((i.intValue, j, c)) else None
        }
      }
      .toArray.toSeq.flatMap(_.asInstanceOf[Seq[(Int, Int, Double)]])
}
