package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{PackedVectors, PairKernel}
import graft.plans.Pipeline
import graft.sources.ReportSink

/** The reference's `python main.py` end-to-end pipeline
  * (app/main.py:100-284: preprocess -> embed -> index -> search ->
  * threshold -> canonical pairs -> sorted CSV), recomposed from the
  * engine's operators with parquet stage checkpoints standing in for the
  * reference's file-existence guards (S10). Each stage is idempotent:
  * a re-run resumes from the last committed stage.
  *
  * Stage 4 picks its physical strategy by corpus size
  * (GraftConf.exactPairCutoff): the exact pair kernel below the cutoff
  * (the reference's own Faiss search is exhaustive within each probed
  * cell at its 90k scale), the LSH bucket-join candidate path + exact
  * verify above it — the same ANN-over-brute-force trade the reference
  * makes with its `IVF100,Flat` default (app/main.py:201-280, .env:7).
  * The exact tier collects the stage-3 relation once into a packed
  * broadcast (graft.functions.PairKernel: at most exactPairMaxBytes on
  * disk, the bytes the old nested-loop join broadcast) and destroys it
  * as soon as stage 4 commits, so no copy outlives the stage into the
  * sinks or the next run. On the 1,275 × 384-d TF-IDF vectors of the
  * 1,500-doc benchmark corpus the tier went from 2.9–3.6 µs of task time
  * a pair (a BroadcastNestedLoopJoin testing `round(graft_cosine) >= t`
  * on every pair) to 0.42–0.50 µs, the pack included (SCALE.md).
  */
object JobPipeline {

  /** Run (or resume) the full pipeline; returns the final pair relation
    * (id1 < id2, sim desc) and leaves all stages + a CSV + a markdown
    * sample report under `workDir`. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      threshold: Double): DataFrame = {
    val pipe = new Pipeline(spark, workDir)

    // Stage 1 — preprocess: HTML strip, whitespace collapse, lower,
    // order-stable exact dedup keep-first (app/preprocess_data.py:122-130)
    val clean = pipe.stage("s1_preprocess") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(col("text"), "<[^>]*>", " "), "\\s+", " ")).as("stripped"))
        .select(col("doc_id"), lower(col("stripped")).as("text"))
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("text"))
    }

    // Stage 2 — embed: deterministic TF-IDF, unit-normalized
    // (app/generate_embeddings.py:25-50; M1 stand-in): one fit job, or a
    // one-file read from the model store, then the kernel in the write
    val embedded = pipe.stage("s2_embed") {
      // the model is fitted on stage 1's output, so it is cached and
      // persisted under that directory: the store fingerprints its parquet
      // files, and a corpus regenerated under the same sfDir refits
      operators.Embedding.embedDocs(clean, Some(s"$workDir/s1_preprocess"))
    }

    // Stage 3 — "index add": persist the searchable vector table keyed by
    // id (the reference writes faiss index + id map, S6; the one-table
    // design needs only the embedding relation itself). Written BUCKETED
    // by doc_id — the key every downstream id lookup joins on (vector
    // fetch for a result id, survivor anti-join, detail enrichment) — so
    // those joins read the corpus side with zero Exchange
    // (JobPipelineSpec asserts the plan).
    val indexed = pipe.stageBucketed("s3_index", "doc_id",
        GraftConf.indexBuckets(spark)) {
      embedded.select(col("doc_id"), col("embedding"))
    }

    // Stage 4 — search + reduce: pairs at cos >= threshold, canonical,
    // deduped, sorted (app/main.py:201-280). Exact all-pairs only while
    // the stage-3 table's stats say it is safe — rows under the conf
    // cutoff AND on-disk bytes under exactMaxBytes (wide vectors can
    // make N² the wrong plan at a low row count); above either bound,
    // LSH candidate generation keeps the join bucketed. Stats come from
    // the cached TableStats relation over the staged parquet (footer
    // metadata + fs summary, never a data scan).
    val s3Stats = plans.TableStats.forParquet(spark, s"$workDir/s3_index")
    // the exact tier's packed matrix serves stage 4 only: the sinks read
    // the committed parquet, so the broadcast dies with the commit
    var packed: Option[Broadcast[PackedVectors]] = None
    val pairs = try pipe.stage("s4_pairs") {
      if (s3Stats.rows <= GraftConf.exactPairCutoff(spark) &&
          s3Stats.bytes <= GraftConf.exactPairMaxBytes(spark)) {
        packed = Some(PairKernel.pack(indexed, "doc_id", "embedding"))
        exactPairs(indexed, packed.get, threshold)
      } else {
        operators.Ann.lshNearDupFrame(indexed, "doc_id", "embedding",
          threshold, GraftConf.lshBucketLength(spark), GraftConf.lshNumTables(spark))
      }
    } finally packed.foreach(_.destroy())

    val sorted = pairs.orderBy(col("sim").desc, col("id1"), col("id2"))
    // reference sinks: sorted CSV of pairs + a human sample report + the
    // fetech_jd first/last-pair detail docs with joined cleaned text
    sorted.write.mode("overwrite").option("header", "true")
      .csv(s"$workDir/similarity_results_csv")
    ReportSink.write(sorted, s"$workDir/sample_pairs.md", maxRows = 20)
    ReportSink.writePairDetails(sorted, clean,
      s"$workDir/top_pair_detail.md", s"$workDir/bottom_pair_detail.md")
    sorted
  }

  /** Stage 4's exact tier over (doc_id, embedding), `packed` from
    * `PairKernel.pack` over the same relation: every pair id1 < id2 whose
    * cosine, rounded to 4 places, is at least `threshold`. The kernel
    * keeps cos >= threshold − 1e-4, a superset (HALF_UP rounding moves a
    * value by at most 5e-5), so Spark's `round` runs on survivors only. */
  private[graft] def exactPairs(indexed: DataFrame, packed: Broadcast[PackedVectors],
      threshold: Double): DataFrame = {
    val sim = round(col("cos"), 4)
    PairKernel.pairs(indexed, "doc_id", "embedding", packed, threshold - 1e-4)
      .where(sim >= threshold)
      .select(col("id1"), col("id2"), sim.as("sim"))
  }

  /** CLI entry: JobPipeline <sfDir> <workDir> [threshold]. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_jobpipe").toString
    val threshold = if (args.length > 2) args(2).toDouble else 0.5
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, sfDir, workDir, threshold).count()
    println(s"[jobpipeline] $n pairs at cos >= $threshold -> $workDir")
    spark.stop()
  }
}
