package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{ShingleKernel, SketchKernels}
import graft.operators.Dedup

/** `text_dedup`: `Dedup.dupClusters` at 3-shingle Jaccard 0.8 — MinHash
  * band join, exact Jaccard verify, connected components — over a
  * corpus with planted near-duplicate chains. */
object DedupBench extends Workload {
  val Threshold = 0.8
  val WarmUps = 1
  val Measured = 5

  def setUp(spark: SparkSession, data: String, runDir: String, i: Int): Unit =
    Dedup.dupClusters(spark, data, Threshold).collect()

  def run(ctx: Ctx, setupS: Double): Outcome = {
    val spark = ctx.spark
    // still getting faster after the set-ups' operations; untimed
    (1 to WarmUps).foreach(_ => Dedup.dupClusters(spark, ctx.data, Threshold).collect())
    var failed = 0
    val ops = (1 to Measured).flatMap { _ =>
      try Some(ctx.tel.op(ctx.tel.span("Dedup.dupClusters") {
        Dedup.dupClusters(spark, ctx.data, Threshold).collect()
      }))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] dedup op failed: $e")
          failed += 1
          None
      }
    }
    if (ops.isEmpty) return Outcome(Measured, failed, Seq("every operation failed"), Nil, Nil)

    val texts = spark.read.parquet(s"${ctx.data}/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = Truth.read(s"${ctx.data}/truth.txt")
    val (problems, recall) = ctx.tel.span("check") { check(ops.map(_._1), texts, truth) }
    val walls = ops.map(_._2.wallS)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("docs_per_s", texts.size / Telemetry.median(walls), "1/s"),
      ("recall", recall, "ratio"),
      ("peak_heap_mb", Telemetry.median(ops.map(_._2.peakHeapMb)), "MB"),
      // dedup persists nothing; what it writes to disk is shuffle and spill
      ("disk_mb", Telemetry.median(ops.map(o => o._2.spark.shuffleWriteMb + o._2.spark.spillMb)), "MB"))
    val perLayer = if (ctx.tel.tracing) layers(ctx, texts) ++ Telemetry.sparkLayers(ops.map(_._2)) else Nil
    Outcome(Measured, failed, problems, endToEnd, perLayer)
  }

  /** The three steps of dupClusters, each called and timed on its own,
    * and the MinHash kernel called directly on every document. */
  private def layers(ctx: Ctx, texts: Map[Long, String]): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val tel = ctx.tel
    val (candidates, cand) = tel.op(tel.span("Dedup.minhashCandidatePairs") {
      Dedup.minhashCandidatePairs(spark, ctx.data).count()
    })
    val (verifiedDf, ver) = tel.op(tel.span("Dedup.sketchVerifiedPairs") {
      Dedup.sketchVerifiedPairs(spark, ctx.data, Threshold).select("id1", "id2").localCheckpoint(true)
    })
    val verified = verifiedDf.count()
    val ((_, rounds), cc) = tel.op(tel.span("Dedup.connectedComponentsWithRounds") {
      val (l, r) = Dedup.connectedComponentsWithRounds(verifiedDf)
      (l.count(), r)
    })
    val sigNs = tel.span("SketchKernels.minhashSig") {
      minhashNsPerDoc(texts.values.toSeq, graft.GraftConf.minhashFuncs(spark))
    }
    Seq(
      ("operators.candidates_s", cand.wallS, "s"),
      ("operators.verify_s", ver.wallS, "s"),
      ("operators.cc_s", cc.wallS, "s"),
      ("candidate_pairs", candidates.toDouble, "count"),
      ("verified_pairs", verified.toDouble, "count"),
      ("cc_rounds", rounds.toDouble, "count"),
      ("verify_yield", if (candidates == 0) 0.0 else verified.toDouble / candidates, "ratio"),
      ("functions.minhash_ns_per_doc", sigNs, "ns"))
  }

  /** ns per document of `SketchKernels.minhashSig` over each document's
    * distinct 3-shingles, on one thread (median of three passes). */
  private def minhashNsPerDoc(texts: Seq[String], funcs: Int): Double = {
    val shingles = texts.map { t =>
      val toks = t.trim.toLowerCase.split("\\s+").map(UTF8String.fromString)
      ShingleKernel.shingles(new GenericArrayData(toks.asInstanceOf[Array[Any]]), 3)
    }
    shingles.foreach(SketchKernels.minhashSig(_, funcs))
    Telemetry.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      shingles.foreach(SketchKernels.minhashSig(_, funcs))
      (System.nanoTime() - t0).toDouble / shingles.length
    })
  }

  /** Every document exactly once; cluster ids are cluster minima and
    * sizes are right; every non-singleton cluster is connected by pairs
    * whose 3-shingle Jaccard, recomputed here, is >= the threshold; all
    * operations agree. Returns (problems, recall of planted same-chain
    * pairs). */
  private def check(results: Seq[Array[Row]], texts: Map[Long, String],
      truth: Truth): (Seq[String], Double) = {
    val problems = Seq.newBuilder[String]
    val rows = results.last.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val clusterOf = rows.map(r => r._1 -> r._2).toMap
    if (rows.length != texts.size || clusterOf.keySet != texts.keySet)
      problems += s"${rows.length} rows for ${texts.size} documents, or a document missing or repeated"
    if (results.exists(r => !r.sameElements(results.last))) problems += "operations disagree"
    val shingles = mutable.Map.empty[Long, Set[String]]
    def sh(id: Long) = shingles.getOrElseUpdate(id,
      texts(id).trim.toLowerCase.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet)
    def jaccard(a: Long, b: Long) = {
      val (x, y) = (sh(a), sh(b))
      val inter = x.count(y)
      inter.toDouble / (x.size + y.size - inter)
    }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val ids = members.map(_._1)
      if (cid != ids.min) problems += s"cluster $cid: id is not its minimum doc_id"
      if (members.exists(_._3 != ids.length)) problems += s"cluster $cid: wrong cluster_size"
      if (ids.length > 1) {
        val reached = mutable.Set(ids.head)
        var frontier = List(ids.head)
        while (frontier.nonEmpty) {
          val next = for (a <- frontier; b <- ids if !reached(b) && jaccard(a, b) >= Threshold - 5e-5) yield b
          reached ++= next
          frontier = next.distinct
        }
        if (reached.size != ids.length)
          problems += s"cluster $cid is not connected by pairs at Jaccard >= $Threshold"
      }
    }
    val chainPairs = truth.chains.flatMap(c => c.combinations(2).map(p => (p(0), p(1))))
    val together = chainPairs.count { case (a, b) => clusterOf.get(a) == clusterOf.get(b) }
    (problems.result(), together.toDouble / chainPairs.size)
  }
}
