package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end composed pipeline (the reference's main.py equivalent). */
class JobPipelineSpec extends SparkSpec {

  test("full pipeline runs, produces canonical thresholded pairs + sinks, resumes from cache") {
    val work = Files.createTempDirectory("graft_jobpipe_spec").toString
    val t0 = System.nanoTime()
    val pairs = JobPipeline.run(spark, sfTiny, work, threshold = 0.5).collect()
    val coldS = (System.nanoTime() - t0) / 1e9

    // pair relation contract
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.5))

    // sinks exist
    assert(new java.io.File(s"$work/similarity_results_csv").exists())
    assert(new java.io.File(s"$work/sample_pairs.md").exists())

    // fetech_jd-style detail docs: the strongest pair's ids appear with
    // their joined (cleaned) document text
    val top = pairs.maxBy(_.getDouble(2))
    val detail = Files.readString(java.nio.file.Paths.get(s"$work/top_pair_detail.md"))
    assert(detail.contains(s"**Pair:** ${top.getLong(0)} <-> ${top.getLong(1)}"))
    val cleanedText = spark.read.parquet(s"$work/s1_preprocess")
      .filter(col("doc_id") === top.getLong(0))
      .select(col("text")).head().getString(0)
    assert(detail.contains(cleanedText.take(80)),
      "detail doc must embed the joined cleaned description")
    assert(new java.io.File(s"$work/bottom_pair_detail.md").exists())

    // all four stages committed
    Seq("s1_preprocess", "s2_embed", "s3_index", "s4_pairs").foreach { st =>
      assert(Files.exists(java.nio.file.Paths.get(s"$work/$st/_DONE")), st)
    }

    // second run resumes from the committed stages and agrees exactly:
    // the model is read from stage 2's file and the index from its table
    var again = Array.empty[org.apache.spark.sql.Row]
    val resumedSites = jobSitesDuring {
      again = JobPipeline.run(spark, sfTiny, work, threshold = 0.5).collect()
    }
    assert(!resumedSites.exists(s => s.contains("TfIdf.scala") || s.startsWith("saveAsTable")),
      resumedSites.mkString("\n"))
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)

    // dedup stage actually deduplicates: staged doc count <= input count
    val staged = spark.read.parquet(s"$work/s1_preprocess").count()
    assert(staged <= Tables.documents(spark, sfTiny).count())
    assert(coldS > 0) // smoke for the timer itself
  }

  test("stage-3 index table is bucketed: id-keyed lookups never re-shuffle the corpus side") {
    val work = Files.createTempDirectory("graft_jobpipe_bucket").toString
    val pairs = JobPipeline.run(spark, sfTiny, work, threshold = 0.5)
    val pipe = new plans.Pipeline(spark, work)
    val indexTable = pipe.bucketedTableName("s3_index")
    assert(spark.catalog.tableExists(indexTable), s"$indexTable not in catalog")

    // the M3 lookup shape: fetch the stored vector for each result id —
    // the join every search/enrichment does against the index at scale
    val resultIds = pairs.select(col("id1").as("doc_id")).distinct()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val lookup = spark.table(indexTable).join(resultIds, Seq("doc_id"))
      val exec = lookup.queryExecution.executedPlan
      val plan = exec.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      // the tiny id side may shuffle to the bucket layout; the corpus
      // side must not: no Exchange anywhere above the bucketed scan
      val shuffleOverCorpus = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.toString.contains("Bucketed: true") => e
      }
      assert(shuffleOverCorpus.isEmpty, s"bucketed index side re-shuffles:\n$plan")
      assert(lookup.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stage 4 routes through LSH above exactPairCutoff with pair recall >= 0.99") {
    val exactWork = Files.createTempDirectory("graft_jobpipe_exact").toString
    val lshWork = Files.createTempDirectory("graft_jobpipe_lsh").toString
    def pairSet(work: String): Set[(Long, Long)] =
      JobPipeline.run(spark, sfTiny, work, threshold = 0.5)
        .select(col("id1"), col("id2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // corpus (500) is far below the default cutoff -> exact branch
    val exact = pairSet(exactWork)
    assert(exact.nonEmpty)
    // cutoff 0 -> every corpus takes the LSH candidate branch
    spark.conf.set("spark.graft.pairs.exactCutoff", "0")
    val lsh = try pairSet(lshWork)
    finally spark.conf.unset("spark.graft.pairs.exactCutoff")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"LSH-path pair recall $recall vs exact (${exact.size})")
    assert((lsh -- exact).isEmpty, "LSH verify stage must not invent pairs")
  }

  test("a corpus regenerated under the same sfDir gets a fresh embedding model from a kept store") {
    val root = Files.createTempDirectory("graft_jobpipe_regen").toString
    val sfDir = s"$root/sf"
    val ss = spark; import ss.implicits._
    // A and B share a vocabulary but not its document frequencies, so
    // their IDF weights, and with them the unit vectors, differ
    def writeCorpus(word: (Int, Int) => Int): Unit =
      (0 until 60).map { i =>
        (i.toLong, (0 until 8).map(j => s"w${word(i, j) % 30}").mkString(" "))
      }.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    def vectors(work: String): Map[Long, Seq[Double]] =
      spark.read.parquet(s"$work/s3_index").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def runWithStore(store: String, work: String): Unit = {
      spark.conf.set("spark.graft.index.dir", s"$root/$store")
      JobPipeline.run(spark, sfDir, s"$root/$work", threshold = 0.9)
      operators.Embedding.clearCaches()
    }
    try {
      writeCorpus((i, j) => i * 7 + j * j)
      runWithStore("store", "work_a")
      writeCorpus((i, j) => i * (j + 1))
      runWithStore("store", "work_b")
      runWithStore("fresh_store", "work_fresh")
      val (got, want) = (vectors(s"$root/work_b"), vectors(s"$root/work_fresh"))
      assert(got.keySet == want.keySet)
      val stale = want.count { case (id, v) => got(id) != v }
      assert(stale == 0, s"stale vectors out of ${want.size}: " +
        "the kept store served the model fitted on the previous corpus")
    } finally spark.conf.unset("spark.graft.index.dir")
  }

  test("a stage computed in this run reads back with the schema a resumed run infers") {
    val work = Files.createTempDirectory("graft_jobpipe_schema").toString
    val docs = Tables.documents(spark, sfTiny).select(col("doc_id"), col("text"))
    // the s1 and vector shapes (the vector array has non-null elements)
    // and non-null nested fields
    val stages = Seq[(String, () => DataFrame)](
      "s1" -> (() => docs),
      "vectors" -> (() => operators.Embedding.embedDocs(docs)),
      "nested" -> (() => spark.range(3).select(col("id"), array(col("id")).as("a"),
        struct(col("id").as("x")).as("s"), map(lit("k"), col("id")).as("m"), lit(1.5).as("c"))))
    stages.foreach { case (name, compute) =>
      val fresh = new plans.Pipeline(spark, work).stage(name)(compute())
      val resumed = new plans.Pipeline(spark, work).stage(name)(fail(s"$name was recomputed"))
      assert(fresh.schema == resumed.schema, s"$name: ${fresh.schema.treeString} vs ${resumed.schema.treeString}")
      assert(fresh.count() == resumed.count())
    }
  }

  /** Run one fresh pipeline on sfTiny with a fresh model store; the call
    * sites of the Spark jobs it started, in order. */
  private def freshRunJobSites(): Seq[String] = {
    val root = Files.createTempDirectory("graft_jobpipe_jobs").toString
    spark.conf.set("spark.graft.index.dir", s"$root/store")
    operators.Embedding.clearCaches()
    operators.Ann.clearCaches()
    try jobSitesDuring(JobPipeline.run(spark, sfTiny, s"$root/work", threshold = 0.5))
    finally {
      spark.conf.unset("spark.graft.index.dir")
      operators.Embedding.clearCaches()
    }
  }

  test("one fresh pipeline run on sfTiny with a fresh model store runs at most 13 Spark jobs") {
    // a tripwire for writer, schema-inference, stats or sink re-read jobs
    // coming back: 28 jobs before the native TF-IDF model and schema
    // read-back, 19 before stage 2 committed the model instead of vectors
    // and the stage-3 write and one sink pass replaced the re-reads
    val sites = freshRunJobSites()
    assert(sites.size <= 13, s"${sites.size} Spark jobs:\n${sites.mkString("\n")}")
  }

  test("no Spark job runs between the stage-3 commit and the stage-4 pack") {
    // stage 4 routes on the row count the stage-3 write observed and the
    // filesystem's byte count, so the pack job directly follows the write
    val sites = freshRunJobSites()
    val write = sites.lastIndexWhere(_.startsWith("saveAsTable at Pipeline.scala"))
    assert(write >= 0, sites.mkString("\n"))
    assert(sites.lift(write + 1).exists(_.contains("PairKernel.scala")),
      s"jobs after the stage-3 write:\n${sites.drop(write).mkString("\n")}")
    val src = Files.readString(java.nio.file.Paths.get(
      sys.props("user.dir"), "src", "main", "scala", "graft", "JobPipeline.scala"))
    assert(!src.contains("TableStats"), "JobPipeline sizes stage 4 through TableStats again")
  }

  test("a pipeline run leaves the session serializable") {
    // tasks that capture the session (an MLlib LogisticRegressionModel's
    // training summary) must still ship after the stage-3 row count
    JobPipeline.run(spark, sfTiny, Files.createTempDirectory("graft_jobpipe_ser").toString, 0.5)
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream)
    try out.writeObject(spark) finally out.close()
  }

  test("a work dir whose s2_embed holds vector parquet (the old layout) resumes to a fresh run's pairs") {
    val root = Files.createTempDirectory("graft_jobpipe_oldlayout").toString
    def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = pairSet(JobPipeline.run(spark, sfTiny, s"$root/fresh", threshold = 0.5))
    // the old layout: stage 1 committed, stage 2 committed as (doc_id,
    // embedding) parquet with an empty marker, no model file
    val old = s"$root/old"
    val s1 = new plans.Pipeline(spark, old).stage("s1_preprocess")(
      spark.read.parquet(s"$root/fresh/s1_preprocess"))
    operators.Embedding.embedDocs(s1).write.parquet(s"$old/s2_embed")
    Files.createFile(java.nio.file.Paths.get(s"$old/s2_embed/_DONE"))
    val resumed = pairSet(JobPipeline.run(spark, sfTiny, old, threshold = 0.5))
    assert(resumed == fresh)
    val left = new java.io.File(s"$old/s2_embed").list().toSet.filterNot(_.startsWith("."))
    assert(left == Set("_DONE", plans.Pipeline.ArtifactFile), s"s2_embed holds $left")
  }
}
